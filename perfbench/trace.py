"""In-memory span tracing, Spark event-log, GC-log and /proc reading.

A span is (id, parent, name, start, end) in ``perf_counter_ns`` units;
every span of one traced run shares the tracer's ``trace_id``. Spans
are recorded around calls into each layer by patching module
attributes from the benchmark's side, so the program under test is
unchanged. A span's self time is its duration minus the part of its
interval that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import NamedTuple


class Span(NamedTuple):
    id: int
    parent: int | None
    name: str
    start: int
    end: int


def covered(start: int, end: int, intervals: list[tuple[int, int]]) -> int:
    """Length of [start, end) covered by the union of ``intervals``."""
    total = 0
    cursor = start
    for s, e in sorted(intervals):
        s, e = max(s, cursor), min(e, end)
        if e > s:
            total += e - s
            cursor = e
    return total


def self_times(spans: list[Span]) -> dict[int, int]:
    """Span id → self time (duration minus the children's union)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start) - covered(sp.start, sp.end,
                                             kids.get(sp.id, []))
        for sp in spans
    }


class Tracer:
    """Records spans for one benchmark run (single-threaded callers)."""

    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    def _open(self) -> tuple[int, int | None, int]:
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        return sid, parent, time.perf_counter_ns()

    def _close(self, name: str, sid: int, parent: int | None,
               t0: int) -> None:
        t1 = time.perf_counter_ns()
        self._stack.pop()
        self.spans.append(Span(sid, parent, name, t0, t1))

    @contextmanager
    def span(self, name: str):
        opened = self._open()
        try:
            yield
        finally:
            self._close(name, *opened)

    def wrap(self, fn, name, on_result=None):
        """``fn`` recording a span per call. ``name`` is the span name,
        or a function of the call's arguments that returns it;
        ``on_result(args, result)`` lets the caller count what the
        layer produced."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # _open/_close inline: a generator-based span per call would
            # double the cost on the serve path
            label = name(*args, **kwargs) if callable(name) else name
            opened = self._open()
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(label, *opened)
            if on_result is not None:
                on_result(args, result)
            return result

        return traced

    def patch(self, owner, attr: str, name, on_result=None) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, on_result))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def total_s(self, name: str, self_only: bool = False) -> float:
        if self_only:
            st = self_times(self.spans)
            return sum(st[sp.id] for sp in self.by_name(name)) / 1e9
        return sum(sp.end - sp.start for sp in self.by_name(name)) / 1e9

    def tree(self) -> list[dict]:
        """Spans aggregated by their name path: count, total, self."""
        st = self_times(self.spans)
        by_id = {sp.id: sp for sp in self.spans}

        def path(sp: Span) -> str:
            names = [sp.name]
            while sp.parent is not None and sp.parent in by_id:
                sp = by_id[sp.parent]
                names.append(sp.name)
            return "/".join(reversed(names))

        agg: dict[str, list] = {}
        for sp in self.spans:
            row = agg.setdefault(path(sp), [0, 0, 0])
            row[0] += 1
            row[1] += sp.end - sp.start
            row[2] += st[sp.id]
        return [
            {"trace": self.trace_id, "path": p, "count": c,
             "total_ms": round(t / 1e6, 3), "self_ms": round(s / 1e6, 3)}
            for p, (c, t, s) in sorted(agg.items())
        ]


# ------------------------------------------------------------ event log

_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


def eventlog_metrics(log_dir: Path, phase: str) -> dict:
    """Shuffle bytes, Arrow bytes across the Python boundary and task
    skew of the jobs tagged with local property ``perfbench.phase`` =
    ``phase``, read from the Spark event log under ``log_dir``."""
    stage_phase: dict[int, str] = {}
    shuffle = to_py = from_py = 0
    py_tasks: dict[int, list[float]] = {}
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get("perfbench.phase")
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = tag
                elif kind == "SparkListenerTaskEnd":
                    if stage_phase.get(ev["Stage ID"]) != phase:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    info = ev["Task Info"]
                    acc = {a.get("Name"): a.get("Update", 0)
                           for a in info.get("Accumulables", [])}
                    if _TO_PY in acc:
                        to_py += int(acc[_TO_PY])
                        from_py += int(acc.get(_FROM_PY, 0))
                        py_tasks.setdefault(ev["Stage ID"], []).append(
                            (info["Finish Time"] - info["Launch Time"])
                            / 1000.0)
    skew = [max(d) / statistics.median(d)
            for d in py_tasks.values() if len(d) > 1 and statistics.median(d)]
    return {
        "shuffle_write_mb": shuffle / 1e6,
        "arrow_to_python_mb": to_py / 1e6,
        "arrow_from_python_mb": from_py / 1e6,
        "task_s_max_over_p50": statistics.median(skew) if skew else 0.0,
    }


# ------------------------------------------------------------ memory

def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each page
    shared with k processes counted 1/k. Summed over a process tree this
    counts shared pages once — plain RSS would count a forked Python
    worker's inherited pages, or a JVM's fork-before-exec child, twice."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """Pids of ``root``'s children, grandchildren, … (/proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid → (command name, proportional resident bytes) of ``root`` and
    all its descendants, read from /proc."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                out[pid] = (fh.read().strip(), pss_bytes(pid))
        except OSError:
            pass
    return out


class RssSampler:
    """Peak summed PSS of this process tree without the JVM, sampled on
    a thread; keeps the per-command process count and MB at the peak.
    The JVM is left out because its resident heap is what G1 chose to
    commit, which swings with GC timing (the GC log gives its heap)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_procs: dict[str, list] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = {pid: v for pid, v in tree_rss(os.getpid()).items()
                 if v[0] != "java"}
        total = sum(rss for _, rss in procs.values())
        if total > self.peak:
            self.peak = total
            self.peak_procs = {}
            for name, rss in procs.values():
                n, mb = self.peak_procs.get(name, (0, 0.0))
                self.peak_procs[name] = [n + 1, round(mb + rss / 1e6, 1)]

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


_GC_PAUSE = re.compile(
    r"Pause (?:Young|Full)\b.*?\d+[KMG]->(\d+)([KMG])\((\d+)([KMG])\)"
    r" ([\d.]+)ms")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


class GcPause(NamedTuple):
    after_mb: float
    committed_mb: float
    pause_ms: float


def gc_pauses(lines) -> list[GcPause]:
    """Young and full collections in JVM unified GC log lines
    (``-Xlog:gc``), e.g. ``GC(4) Pause Young (Normal) (G1 Evacuation
    Pause) 120M->45M(256M) 5.123ms``. Remark and cleanup pauses collect
    nothing, so they are left out."""
    out = []
    for line in lines:
        m = _GC_PAUSE.search(line)
        if m:
            a, au, c, cu, ms = m.groups()
            out.append(GcPause(int(a) * _MB[au],
                               int(c) * _MB[cu], float(ms)))
    return out


def steal_ticks() -> int:
    """Cumulative stolen CPU ticks of the host (/proc/stat field 8)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0
