"""Spans, Spark event-log reduction and a process-tree RSS sampler.

A span times one call into a layer's public function.  While it is
open it is also the Spark job group (``spark.jobGroup.id``), so every
job the call triggers is tagged with the innermost open span; on exit
the parent's group is restored.  After the run, `reduce_event_log`
folds Spark's own event log (``SparkListenerJobStart`` /
``SparkListenerTaskEnd``) into per-span counters.  Spans live in memory
and are written out once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

PYTHON_BYTES_METRIC = "data sent to Python workers"

COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "python_bytes",
)


class Tracer:
    """Records spans when ``enabled``; otherwise `span` only yields."""

    def __init__(self, spark_context_fn, enabled: bool):
        self._sc = spark_context_fn
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent["id"] if parent else None,
               "id": len(self.spans), "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc = self._sc()
            if sc is not None:
                sc.setLocalProperty(
                    "spark.jobGroup.id", parent["name"] if parent else None
                )

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self._stack[-1]["name"] if self._stack else None

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapped

    def times(self) -> dict[str, dict[str, float]]:
        """Per span name: summed wall and self seconds.  Self time is the
        span's duration minus the part its child spans cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0, "calls": 0})
            t["wall_s"] += wall
            t["self_s"] += wall - child_s.get(s["id"], 0.0)
            t["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain-file event log: one uncompressed JSON-lines file per app
    (Spark 4.1 would otherwise write a rolling, zstd-compressed
    ``eventlog_v2_*`` directory)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def reduce_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: the `COUNTERS` summed over its jobs' tasks.

    A stage is charged to the group of the first job that lists it.
    Jobs without a group land under ``""``.
    """
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out.setdefault(group, dict.fromkeys(COUNTERS, 0))["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    c = out.setdefault(group, dict.fromkeys(COUNTERS, 0))
                    c["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_BYTES_METRIC:
                            c["python_bytes"] += int(acc.get("Update") or 0)
    return out


def live(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process and all its
    descendants (driver Python, JVM, Python workers), sampled from
    ``/proc``.  Each process counts its PSS — resident pages, with a page
    shared by n processes counted 1/n times — so the Python workers
    forked from one daemon do not count their shared pages again."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in tree_pids(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
