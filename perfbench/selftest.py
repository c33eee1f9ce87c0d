#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (a few hundred URLs, sf0.001).

    python3 perfbench/selftest.py

For each workload it checks that

* an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and a traced run every per-layer metric;
* the traced run's record holds the full span counters and its span
  self times cover the timed wall to within 10%;
* a planted output corruption (one dropped doc / query row) fails the
  gate: ``correct`` is false, ``failed`` >= 1 and the exit code is 1.

Results go to ``perfbench/out/selftest``.  Exits 1 on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "selftest")
SPAN_COUNTERS = (
    "wall_s", "self_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "cpu_ratio", "gc_s", "shuffle_write_bytes", "spill_bytes", "python_bytes",
)
EXERCISED = {
    "crawl_incremental": (
        "session.start", "crawl_stream.admit_seeds", "rank.dequeue_rank",
        "urlseen.build_bloom", "snapshot.commit",
        "snapshot.commit_partition_overwrite", "snapshot.maintenance",
        "scheduler.run_epoch", "urlseen.filter_unseen", "parse.fetch_parse_stage",
    ),
    "analytics": ("session.start", "queries.headline", "queries.deep"),
}


def run(workload: str, trace: int, plant: bool = False) -> tuple[int, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace),
        "--size", "tiny", "--out", OUT,
    ] + (["--plant-fault"] if plant else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise SystemExit(f"{workload}: no output\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-1])


def latest_record(workload: str, trace: int) -> dict:
    path = max(glob.glob(os.path.join(OUT, "results", f"{workload}-tiny-*-trace{trace}-*.json")))
    with open(path) as f:
        return json.load(f)


def check(cond: bool, msg: str) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(workload, trace)
            check(rc == 0 and out["correct"] and out["failed"] == 0,
                  f"{workload} trace={trace}: correct, exit 0")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{workload} trace={trace}: every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                  f"{workload} trace={trace}: every value is a number")
        rec = latest_record(workload, 1)
        spans = rec["spans"]
        for name in EXERCISED[workload]:
            check(name in spans and all(c in spans[name] for c in SPAN_COUNTERS),
                  f"{workload}: span {name} has every counter")
        cov = rec["per_layer"]["trace.self_coverage"]
        check(0.9 <= cov <= 1.1, f"{workload}: span self times cover {cov:.3f} of the timed wall")
        rc, out = run(workload, 0, plant=True)
        check(rc == 1 and not out["correct"] and out["failed"] >= 1,
              f"{workload}: planted corruption fails the gate "
              f"(failed {out['failed']} of {out['attempted']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
