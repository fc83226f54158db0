"""Repeat the benchmark over several seeds and summarise each metric.

    python3 perfbench/baseline.py --runs 10 --seed0 100 \
        --workloads web_pages long_pages resumable_job

Runs ``perfbench/run.py`` once per (workload, seed), one at a time, from
the checkout root, for ``run_seconds`` of ``BENCHMARK.json``, and prints
one JSON object: per workload and metric the ten values, their median,
quartiles (``statistics.quantiles``, n=4) and quartile spread as a share
of the median, plus each run's wall time and the host's stolen CPU
(cores) during it. After a workload's runs its first seed is run once
more, in a fresh process, and ``same_seed_digest_equal`` says whether
both runs printed the same output digest.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.trace import steal_ticks  # noqa: E402


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run.py process: its result, output digest, wall and steal."""
    s0, t0 = steal_ticks(), time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    digests = [json.loads(ln.split(" ", 1)[1])["sha256"] for ln in lines
               if ln.startswith("digest ")]
    return {"seed": seed, "exit": proc.returncode,
            "result": json.loads(lines[-1]) if lines else {},
            "digest": digests[-1] if digests else None,
            "wall_s": round(wall, 2),
            "stolen_cores": round((steal_ticks() - s0) / 100.0 / wall, 3)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="+",
                    default=["web_pages", "long_pages", "resumable_job"])
    args = ap.parse_args()
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "run_seconds"]

    report: dict = {"nproc": os.cpu_count(), "runs": args.runs,
                    "seed0": args.seed0, "workloads": {}}
    for wl in args.workloads:
        metrics: dict[str, list[float]] = {}
        runs = []
        for i in range(args.runs):
            res = run_once(wl, args.seed0 + i, seconds, args.trace)
            runs.append({k: res[k] for k in ("seed", "exit", "digest",
                                             "wall_s", "stolen_cores")})
            runs[-1]["correct"] = res["result"].get("correct")
            print(json.dumps({"workload": wl, **runs[-1]}), file=sys.stderr,
                  flush=True)
            for k, v in res["result"].get("metrics", {}).items():
                metrics.setdefault(k, []).append(v["value"])
        again = run_once(wl, args.seed0, seconds, args.trace)
        report["workloads"][wl] = {
            "runs": runs,
            "same_seed_digest_equal": again["digest"] is not None
            and again["digest"] == runs[0]["digest"],
            "metrics": {k: summarise(v) for k, v in metrics.items()},
        }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
