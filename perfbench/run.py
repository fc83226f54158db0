"""Benchmark of the quality-filter + PII-scrub pipeline.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. Workloads (perfbench/NOTES.md says
why each was chosen):

* ``web_pages``     — ``run_pipeline`` over fresh generator pages;
* ``long_pages``    — ``run_pipeline`` over ≈4.8k-char joined pages;
* ``resumable_job`` — ``run_quality_job`` (strict profile, compaction)
  crashed halfway by ``fail_after_groups``, then resumed.

Spark runs on ``local[4]``; the pipeline keeps its default of 8
partitions. Load is a closed loop: one driver submits one Spark action
at a time. Inputs are generated from ``--seed`` during set-up, one
slot per timed repetition, so no timed doc was served before in the
session. ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
runs with the Spark event log and job spans on, then measures each
layer and prints the per-layer metrics, a span tree and the cost of the
serve-layer spans. Every run checks the outputs and prints a
``digest {...}`` line with the sha256 of every timed doc's output; the
last stdout line is one JSON object, and the exit code is 1 when a
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
EVENT_LOG = WORK / "eventlog"
GC_LOG = WORK / "gc.log"
CORES = 4
PARTITIONS = 8          # run_pipeline's default on local[4]
F1_FLOOR = 0.98         # see NOTES.md: fresh pages measure ≈0.987
RUN_LIMIT_S = 170       # a run that takes longer is stopped and fails
JOB_GROUPS = 2
JOB_FAIL_AFTER = 1
JOB_COMPACT_EVERY = 1


# per-layer metrics of the job; they read 0 on the pipeline workloads
JOB_LAYERS = {
    "icelite.output_append_s": "s", "icelite.audit_append_s": "s",
    "icelite.compact_s": "s", "icelite.committed_groups_s": "s",
    "icelite.snapshots": "count", "icelite.data_files": "count",
    "icelite.bytes_per_input_byte": "ratio",
    "jobs.group_s_p50": "s", "jobs.other_s": "s",
    "jobs.groups_rerun": "count", "jobs.resume_s": "s",
}


@dataclass(frozen=True)
class Workload:
    rows: int       # rows per input slot (one timed repetition)
    rep_s: float    # nominal seconds per repetition on local[4]
    sample: int     # docs in the traced run's in-process serve sample
    warm_files: int = PARTITIONS  # files of the warm-up slot served


WORKLOADS = {
    "web_pages": Workload(rows=2400, rep_s=3.5, sample=1200),
    # the whole slot, so the sample holds the slot's one hostile page
    "long_pages": Workload(rows=96, rep_s=3.5, sample=96),
    # job time is mostly per-group commits, not docs: a short warm-up
    "resumable_job": Workload(rows=800, rep_s=20.0, sample=800,
                              warm_files=2),
}


def log(**fields) -> None:
    print(json.dumps(fields), file=sys.stderr, flush=True)


# ------------------------------------------------------------ spark

def start_spark(event_log: Path | None = None):
    from pii_spark.spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # no perf data file: HotSpot writes it to /tmp whatever tmpdir is
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xlog:gc:file={GC_LOG}"
            f" -Djava.io.tmpdir={WORK / 'tmp'}"
            f" -Dderby.system.home={WORK / 'derby'}",
        "spark.hadoop.hadoop.tmp.dir": str(WORK / "tmp"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=PARTITIONS, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, shut the JVM gateway down and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _over_time(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate whatever this process started and is still running
    (a JVM whose gateway never connected, Python workers), then wait."""
    from perfbench.trace import descendants

    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it first if it is our zombie."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child: its parent reaps it
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def phase(spark, name: str | None) -> None:
    """Tag the following Spark jobs for the event-log reader."""
    spark.sparkContext.setLocalProperty("perfbench.phase", name)


# ------------------------------------------------------------ io

def slot_dir(slot: int) -> str:
    return str(WORK / "input" / f"slot={slot}")


def slot_files(slot: int) -> list[str]:
    return sorted(str(p) for p in Path(slot_dir(slot)).glob("*.parquet"))


def read_rows(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def pipeline_pass(spark, slot: int, out: str) -> float:
    from pii_spark.spark.pipeline import run_pipeline

    t0 = time.perf_counter()
    run_pipeline(spark.read.parquet(slot_dir(slot))).write.mode(
        "overwrite").parquet(out)
    return time.perf_counter() - t0


# ------------------------------------------------------------ workloads

class Run:
    """One benchmark invocation: set-up, timed region, checks."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool):
        self.name = name
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.trace = trace
        self.reps = (1 if name == "resumable_job"
                     else max(2, round(seconds / self.wl.rep_s)))
        self.docs_timed = self.wl.rows * self.reps
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.per_layer: dict[str, tuple[float, str]] = {}
        self.attempted = self.failed = 0
        self.output_digest: str | None = None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def slots(self) -> int:
        """Input slots: 0 is the warm-up, then one per timed unit; a
        traced run adds two for the prefix plans."""
        return 1 + self.reps + (2 if self.trace else 0)

    # ---------------------------------------------------------- set-up

    def setup(self):
        from perfbench.workloads import join_inputs, start_inputs

        t0 = time.perf_counter()
        gen = start_inputs(self.name, self.wl.rows, self.slots(), self.seed,
                           WORK / "input", PARTITIONS)
        spark = start_spark(event_log=EVENT_LOG if self.trace else None)
        t1 = time.perf_counter()
        join_inputs(gen)
        t2 = time.perf_counter()
        self.warm_up(spark, 0)
        t3 = time.perf_counter()
        self.metrics["setup_s"] = (t3 - t0, "s")
        log(workload=self.name, session_s=round(t1 - t0, 3),
            inputs_s=round(t2 - t1, 3), warm_up_s=round(t3 - t2, 3))
        return spark

    def warm_up(self, spark, slot: int) -> None:
        from pii_spark.spark.pipeline import run_pipeline

        profile = "strict" if self.name == "resumable_job" else "default"
        files = slot_files(slot)[:self.wl.warm_files]
        run_pipeline(spark.read.parquet(*files),
                     profile=profile).write.format("noop").mode(
            "overwrite").save()

    # ---------------------------------------------------------- timed

    def timed_units(self, spark, first_slot: int, tracer=None) -> float:
        """Run the timed units on slots first_slot.. and return docs
        over their summed wall time (steadier than a median of a few
        repetitions); outputs stay on disk for the checks."""
        if self.name == "resumable_job":
            secs = self.job(spark, first_slot, tracer)
            return self.wl.rows / secs
        secs = [pipeline_pass(spark, slot, str(WORK / "out" / str(slot)))
                for slot in range(first_slot, first_slot + self.reps)]
        log(workload=self.name, traced=tracer is not None,
            rep_s=[round(t, 3) for t in secs])
        return self.docs_timed / sum(secs)

    def job(self, spark, slot: int, tracer=None) -> float:
        from pii_spark.icelite.catalog import IceliteTable
        from pii_spark.spark.jobs import run_quality_job

        base = WORK / "job" / str(slot)
        shutil.rmtree(base, ignore_errors=True)
        out, audit = str(base / "out"), str(base / "audit")
        kw = dict(groups=JOB_GROUPS, profile="strict",
                  compact_every=JOB_COMPACT_EVERY)

        def span(name):
            return tracer.span(name) if tracer else nullcontext()

        t0 = time.perf_counter()
        crashed = False
        with span("job.crashed_run"):
            try:
                run_quality_job(spark, slot_dir(slot), out, audit,
                                fail_after_groups=JOB_FAIL_AFTER, **kw)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
                crashed = True
        t1 = time.perf_counter()
        done_before = IceliteTable(out).committed_groups()
        self.check(crashed, "job: injected crash did not happen")
        self.check(len(done_before) == JOB_FAIL_AFTER,
                   f"job: {len(done_before)} groups committed at crash")
        with span("job.resume"):
            run_quality_job(spark, slot_dir(slot), out, audit, **kw)
        t2 = time.perf_counter()
        self.job_state = {"base": base, "resume_s": t2 - t1, "slot": slot}
        return t2 - t0

    # ---------------------------------------------------------- checks

    def check_outputs(self, spark) -> None:
        """Gate the timed outputs. ``output_digest`` covers (url, keep,
        drop_reason, scrubbed_text) of every timed doc, so two runs with
        the same seed can be compared (``baseline.py`` does)."""
        from perfbench.checks import Quality, digest

        q = Quality()
        if self.name == "resumable_job":
            inputs, final = self.job_outputs(spark)
            q.add(inputs, final)
            self.output_digest = digest(final)
        else:
            served = []
            for k in range(self.reps):
                slot = 1 + k
                inputs = read_rows(slot_dir(slot), ["url", "text", "spans"])
                outputs = read_rows(str(WORK / "out" / str(slot)),
                                    ["url", "keep", "drop_reason", "spans",
                                     "scrubbed_text"])
                self.check(len(outputs) == len(inputs),
                           f"slot {slot}: {len(outputs)} rows out of "
                           f"{len(inputs)}")
                q.add(inputs, outputs)
                served += outputs
                if k == 0:
                    self.check_rerun(spark, slot, outputs)
            self.output_digest = digest(served)
        if self.name == "web_pages":
            self.check(q.entity_f1 >= F1_FLOOR,
                       f"entity_f1 {q.entity_f1:.4f} < {F1_FLOOR}")
        self.check(q.served == q.docs, f"{q.docs - q.served} docs not served")
        self.attempted, self.failed = q.docs, q.docs - q.served
        self.metrics["entity_f1"] = (q.entity_f1, "ratio")
        self.metrics["format_pii_scrubbed_rate"] = (1.0 - q.leak_rate,
                                                    "ratio")
        self.metrics["served_doc_rate"] = (q.served / q.docs, "ratio")
        self.per_layer["format_pii_leak_rate"] = (q.leak_rate, "ratio")
        self.per_layer["failed_doc_rate"] = (1 - q.served / q.docs, "ratio")
        log(workload=self.name, docs=q.docs, tp=q.tp, fp=q.fp, fn=q.fn,
            leaked=q.leaked, format_spans=q.format_spans)

    def check_rerun(self, spark, slot: int, outputs: list[dict]) -> None:
        """Serve a quarter of the slot's files again in this session:
        every url must come out byte-identical (output is a pure
        function of the row)."""
        from perfbench.checks import digest
        from pii_spark.spark.pipeline import run_pipeline

        files = slot_files(slot)
        again = [r.asDict() for r in run_pipeline(
            spark.read.parquet(*files[:max(1, len(files) // 4)])).select(
            "url", "keep", "drop_reason", "scrubbed_text").collect()]
        urls = {r["url"] for r in again}
        self.check(digest(again) == digest(
            [r for r in outputs if r["url"] in urls]),
            f"slot {slot}: output differs on a rerun")

    def job_outputs(self, spark) -> tuple[list[dict], list[dict]]:
        """The resumed table must equal run_pipeline(profile="strict")
        over the same input, row for row and column for column."""
        from pii_spark.icelite.catalog import IceliteTable
        from pii_spark.spark.pipeline import run_pipeline

        from perfbench.checks import digest

        slot = self.job_state["slot"]
        final = [r.asDict(recursive=True) for r in
                 IceliteTable(self.job_state["base"] / "out").read(spark)
                 .collect()]
        ref = [r.asDict(recursive=True) for r in
               run_pipeline(spark.read.parquet(slot_dir(slot)),
                            profile="strict").collect()]
        inputs = read_rows(slot_dir(slot), ["url", "text", "spans"])
        self.check(len(final) == len(inputs),
                   f"job: {len(final)} rows out of {len(inputs)}")
        cols = tuple(ref[0]) if ref else ()
        self.check(digest(final, cols) == digest(ref, cols),
                   "job: final table differs from run_pipeline(strict)")
        return inputs, final

    # ---------------------------------------------------------- traced

    def layer_pass(self, spark, tracer, traced_rate: float) -> None:
        """Per-layer numbers of a traced run: event log of the timed
        units, prefix plans, in-process serve layers, job spans."""
        from perfbench import layers
        from perfbench.trace import eventlog_metrics

        pl = self.per_layer
        pl["trace.docs_per_s"] = (traced_rate, "docs/s")
        self.job_layer_metrics(spark, tracer)
        prefix_slot = 1 + self.reps
        for k, v in layers.prefix_plan_times(
                spark, slot_dir(prefix_slot), slot_dir(prefix_slot + 1),
                PARTITIONS).items():
            pl[k] = (v, "s")
        spark.stop()  # closes the event log
        ev = eventlog_metrics(EVENT_LOG, "timed")
        pl["pipeline.task_s_max_over_p50"] = (ev["task_s_max_over_p50"],
                                              "ratio")
        for k in ("shuffle_write_mb", "arrow_to_python_mb",
                  "arrow_from_python_mb"):
            pl[f"pipeline.{k}"] = (ev[k], "MB")

        # the docs the workers were warmed on, so this process's memos
        # are about as warm as theirs; none of them is in the sample
        layers.enrich([r["text"] for f in slot_files(0)[:self.wl.warm_files]
                       for r in read_rows(f, ["text"])])
        texts = [r["text"] for r in read_rows(slot_dir(1), ["text"])]
        sample = texts[:self.wl.sample]
        serve, serve_tracer = layers.serve_layer_metrics(sample)
        pl.update(serve)
        pl["trace.serve_span_us_per_doc"] = (
            layers.span_cost_us() * len(serve_tracer.spans) / len(sample),
            "us")
        for tr in (serve_tracer, tracer):
            for row in tr.tree():
                print("span", json.dumps(row))

    def job_layer_metrics(self, spark, tracer) -> None:
        from pii_spark.icelite.catalog import IceliteTable

        if self.name != "resumable_job":
            vals = dict.fromkeys(JOB_LAYERS, 0.0)
        else:
            st = self.job_state
            out = IceliteTable(st["base"] / "out")
            walls = [r["wall_ms"] / 1000.0 for r in
                     IceliteTable(st["base"] / "audit").read(spark)
                     .select("snapshot_id", "wall_ms").distinct().collect()]
            commits = sum(1 for sp in out.snapshots() if "group" in sp.summary)
            vals = {
                **{f"icelite.{n}_s": tracer.total_s(f"icelite.{n}")
                   for n in ("output_append", "audit_append", "compact",
                             "committed_groups")},
                "icelite.snapshots": len(out.snapshots()),
                "icelite.data_files": out.data_file_count(),
                "icelite.bytes_per_input_byte":
                    du(st["base"] / "out") / du(Path(slot_dir(st["slot"]))),
                "jobs.group_s_p50": statistics.median(walls),
                "jobs.other_s": tracer.total_s("job.crashed_run", True)
                + tracer.total_s("job.resume", True),
                "jobs.groups_rerun": commits - JOB_GROUPS,
                "jobs.resume_s": st["resume_s"],
            }
        self.per_layer.update({k: (vals[k], u) for k, u in JOB_LAYERS.items()})


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench import layers
    from perfbench.trace import RssSampler, Tracer, gc_pauses, steal_ticks

    r = Run(name, seed, seconds, trace)
    spark = r.setup()
    tracer = Tracer() if trace else None
    try:
        if trace:
            phase(spark, "timed")
            if name == "resumable_job":
                layers.patch_job_layers(tracer)
        gc_from = GC_LOG.stat().st_size
        s0, t0 = steal_ticks(), time.perf_counter()
        try:
            with RssSampler() as rss:
                rate = r.timed_units(spark, 1, tracer)
        finally:
            if trace:
                tracer.restore()
                phase(spark, None)
        wall = time.perf_counter() - t0
        gc_log = GC_LOG.read_bytes()
        # a region without a collection keeps the heap of the last one
        pauses = (gc_pauses(gc_log[gc_from:].decode().splitlines())
                  or gc_pauses(gc_log.decode().splitlines())[-1:])
        r.metrics["docs_per_s"] = (rate, "docs/s")
        r.metrics["python_peak_pss_mb"] = (rss.peak / 1e6, "MB")
        r.metrics["jvm_heap_after_gc_mb"] = (
            max(p.after_mb for p in pauses), "MB")
        r.per_layer["jvm.gc_pause_s"] = (
            sum(p.pause_ms for p in pauses) / 1000.0, "s")
        r.per_layer["jvm.heap_committed_mb"] = (
            max(p.committed_mb for p in pauses), "MB")
        log(workload=name, timed_s=round(wall, 3),
            stolen_cores=round((steal_ticks() - s0) / 100.0 / wall, 3),
            peak_procs=rss.peak_procs)
        r.check_outputs(spark)
        if trace:
            r.layer_pass(spark, tracer, rate)
    finally:
        stop_jvm(spark)
    chosen = r.per_layer if trace else r.metrics
    for f in r.failures:
        log(check_failed=f)
    if r.output_digest is not None:
        print("digest", json.dumps({"workload": name, "seed": seed,
                                    "sha256": r.output_digest}))
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pii_spark").is_dir():
        print(f"no pii_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_DRIVER_MEM", None)  # get_spark's default heap
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit first runs a small launcher JVM; keep its perf data
    # out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}")

    signal.signal(signal.SIGALRM, _over_time)
    signal.alarm(RUN_LIMIT_S)
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace))
    finally:
        signal.alarm(0)
        reap_children()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
