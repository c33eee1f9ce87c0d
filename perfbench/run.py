#!/usr/bin/env python3
"""Host-true benchmark of the crawl scheduler and the analytics catalog.

    python3 perfbench/run.py --workload crawl_incremental --seed 1 \
        --seconds 20 --trace 0

Run from the repository root.  One process drives one Spark app at
``local[N]``, N = the CPUs this process may run on; the driver heap is
a quarter of MemTotal.  Closed loop, one client: the only extra thread
is the RSS sampler.  The seed generates every input.

Workloads (see BENCHMARK.json for why each exists):

* ``crawl_incremental`` — rounds of discovered seeds admitted with
  ``crawl_stream.admit_seeds``, each drained by ``CrawlJob.run``;
* ``analytics`` — the 27 ``bench.HEADLINE`` + 3 ``bench.DEEP`` queries
  over seeded tables, every output row collected.

``setup_s`` times the set-up: JVM and session start, input preparation
and warm-up.  A run sets up once and then times one crawl or one query
pass.  At the full sizes that pass is longer than BENCHMARK.json's
``run_seconds``; a pass shorter than ``--seconds`` is reported on
stderr.  After the timed window a correctness gate compares every output with its oracle;
a mismatch counts as a failed operation and the process exits 1.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on
the Spark event log, wraps each layer's public calls in spans (each
span is the Spark job group of the jobs it triggers), runs two isolated
probes and prints the per-layer metrics.  The last stdout line is one
JSON object; the full record, with every span counter in seconds and
bytes, is written to ``perfbench/out/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_incremental", "analytics")
ANALYTICS_SF = {"full": 0.01, "tiny": 0.001}

CRAWL_SPANS = (
    "crawl_stream.admit_seeds", "rank.dequeue_rank", "urlseen.build_bloom",
    "snapshot.commit", "snapshot.commit_partition_overwrite",
    "snapshot.maintenance", "scheduler.run_epoch",
)
QUERY_SPANS = ("queries.headline", "queries.deep")
SPAN_COUNTERS = (
    ("self_frac", "fraction"), ("wall_frac", "fraction"),
    ("cpu_ratio", "fraction"), ("busy_ratio", "fraction"),
    ("gc_frac", "fraction"), ("jobs", "count"), ("tasks", "count"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("python_bytes", "B"),
)
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "step_s_p50": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {"session.start.wall_s": "s", "process.peak_rss_mb": "MB"}
    for span in CRAWL_SPANS + QUERY_SPANS:
        for counter, unit in SPAN_COUNTERS:
            units[f"{span}.{counter}"] = unit
    for tier in ("headline", "deep"):
        for phase in ("build", "plan", "exec"):
            units[f"queries.{tier}.{phase}_frac"] = "fraction"
    units.update({
        "urlseen.filter_unseen.maybe_seen_rows": "count",
        "urlseen.filter_unseen.exact_seen_rows": "count",
        "urlseen.filter_unseen.fpp_measured": "fraction",
        "urlseen.filter_unseen.fpp_configured": "fraction",
        "parse.fetch_parse_stage.docs_per_s": "1/s",
        "parse.fetch_parse_stage.cpu_ratio": "fraction",
        "parse.fetch_parse_stage.python_bytes": "B",
        "snapshot.store_bytes_per_doc": "B/doc",
        "trace.self_coverage": "fraction",
    })
    return units


def host_settings() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # a quarter of RAM for the driver JVM (local mode: it is also the
    # executor); the rest stays for the Python workers and the OS
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    return {"cores": cores, "mem_total_kb": mem_kb, "driver_heap_mb": heap_mb}


def versions() -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "spark": pyspark.__version__,
        "java": next((line for line in java if " version " in line), "unknown"),
        "python": platform.python_version(),
    }


@dataclass
class Ctx:
    """What a workload needs from the run: its seed, N and the tracer."""

    seed: int
    cores: int
    tracer: object


def _frac(a: float, b: float) -> float:
    return a / b if b else 0.0


def span_table(tracer, events: dict, cores: int) -> dict[str, dict]:
    """Per span name: wall and self seconds, calls, the event-log
    counters of the jobs it triggered, and their ratios."""
    from tracing import COUNTERS

    table = {}
    for name, t in tracer.times().items():
        c = {**dict.fromkeys(COUNTERS, 0), **events.get(name, {})}
        run = c["executor_run_s"]
        table[name] = {
            **t, **c,
            "cpu_ratio": _frac(c["executor_cpu_s"], run),
            "busy_ratio": _frac(run, t["wall_s"] * cores),
            "gc_frac": _frac(c["gc_s"], run),
        }
    return table


def layer_metrics(table: dict[str, dict], wall: float) -> dict[str, float]:
    """The printed per-layer metrics of the spans in the timed window:
    times as shares of the timed wall, then ratios and counts."""
    out: dict[str, float] = {}
    for span in CRAWL_SPANS + QUERY_SPANS:
        t = table.get(span)
        for counter, _ in SPAN_COUNTERS:
            if t is None:
                v = 0
            elif counter in ("self_frac", "wall_frac"):
                v = _frac(t[counter.replace("_frac", "_s")], wall)
            else:
                v = t[counter]
            out[f"{span}.{counter}"] = v
    timed = [table[n]["self_s"] for n in CRAWL_SPANS + QUERY_SPANS if n in table]
    out["trace.self_coverage"] = _frac(sum(timed), wall)
    return out


def shut_down(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext
    from tracing import live, tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.terminate()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(live(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_workload(args, host: dict, out_dir: str) -> dict:
    from fide_crawler_spark.session import get_spark
    from tracing import RssSampler, Tracer, event_log_conf, reduce_event_log

    tmp = os.path.join(out_dir, "tmp")
    work = os.path.join(out_dir, "work")
    log_dir = os.path.join(out_dir, "eventlog")
    for d in (work, log_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        conf.update(event_log_conf(log_dir))

    from pyspark import SparkContext

    tracer = Tracer(lambda: SparkContext._active_spark_context, bool(args.trace))
    ctx = Ctx(args.seed, host["cores"], tracer)
    spark = None
    rec: dict = {}

    def set_up(prepare) -> float:
        """The timed set-up: session (and JVM) start, then the workload's
        input preparation and warm-up."""
        nonlocal spark
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(f"perfbench_{args.workload}", cores=host["cores"], extra_conf=conf)
        prepare()
        return time.perf_counter() - t0

    with RssSampler() as rss:
        try:
            if args.workload == "analytics":
                import bench
                import datagen

                from analytics import AnalyticsRun

                data_dir = os.path.join(work, "data")
                rec["rows"] = datagen.generate(data_dir, ANALYTICS_SF[args.size], args.seed)
                w = AnalyticsRun(ctx, bench.HEADLINE, bench.DEEP)
                setup_s = set_up(lambda: w.setup(spark, data_dir))
                wall = w.run(spark, data_dir)
                ops = len(w.order)
                step_p50 = statistics.median(w.query_s.values())
                gate = w.gate(data_dir, args.plant_fault)
                rec["query_s"] = w.query_s
                rec["headline_s"] = w.tier_s("headline")
                rec["deep_s"] = w.tier_s("deep")
                rec["phase_s"] = w.phase_s
                rec["order"] = w.order
            else:
                from crawl import SIZES, CrawlRun

                w = CrawlRun(ctx, SIZES[args.size])
                setup_s = set_up(lambda: w.setup(spark, os.path.join(work, "crawl")))
                wall = w.crawl(spark)
                gate = w.gate(spark, args.plant_fault)
                ops = gate["docs"]
                step_p50 = statistics.median(w.epoch_s)
                if args.trace:
                    w.probe_fetch_parse(spark)
                    rec["fetch_probe"] = w.fetch_probe
                    rec["unseen_probe"] = w.probe_summary()
                crc_file = os.path.join(out_dir, "crc", f"{args.workload}-{args.size}-{args.seed}")
                if os.path.exists(crc_file):
                    with open(crc_file) as f:
                        earlier = int(f.read())
                    if earlier != gate["crc"]:
                        gate["failed"] += 1
                        gate["problems"].append(
                            f"crawl CRC {gate['crc']} differs from an earlier run's {earlier}"
                        )
                elif not gate["failed"]:
                    os.makedirs(os.path.dirname(crc_file), exist_ok=True)
                    with open(crc_file, "w") as f:
                        f.write(str(gate["crc"]))
                rec["crc"] = gate["crc"]
                rec["store_bytes_per_doc"] = _frac(w.store_bytes(), ops)
                rec["epoch_s"] = w.epoch_s
        finally:
            if spark is not None:
                shut_down(spark)
    if wall < args.seconds:
        print(f"perfbench: timed pass {wall:.1f} s < --seconds {args.seconds}", file=sys.stderr)
    rec.update({
        "timed_wall_s": wall,
        "gate": gate,
        "e2e": {
            "setup_s": setup_s,
            "ops_per_s": ops / wall,
            "step_s_p50": step_p50,
        },
        "peak_rss_mb": rss.peak_bytes / 2**20,
    })
    if args.trace:
        table = span_table(tracer, reduce_event_log(log_dir), host["cores"])
        layers = layer_metrics(table, wall)
        layers["session.start.wall_s"] = table["session.start"]["wall_s"]
        layers["process.peak_rss_mb"] = rec["peak_rss_mb"]
        if args.workload == "analytics":
            for tier, ph in rec["phase_s"].items():
                tw = sum(ph.values())
                for phase in ("build", "plan", "exec"):
                    layers[f"queries.{tier}.{phase}_frac"] = _frac(ph[f"{phase}_s"], tw)
        else:
            fp, up = rec["fetch_probe"], rec["unseen_probe"]
            c = table["parse.fetch_parse_stage"]
            layers["parse.fetch_parse_stage.docs_per_s"] = _frac(fp["rows"], fp["wall_s"])
            layers["parse.fetch_parse_stage.cpu_ratio"] = c["cpu_ratio"]
            layers["parse.fetch_parse_stage.python_bytes"] = c["python_bytes"]
            for k in ("maybe_seen_rows", "exact_seen_rows", "fpp_measured", "fpp_configured"):
                layers[f"urlseen.filter_unseen.{k}"] = up[k]
            layers["snapshot.store_bytes_per_doc"] = rec["store_bytes_per_doc"]
        units = per_layer_units()
        rec["per_layer"] = {k: layers.get(k, 0) for k in units}
        rec["spans"] = table
        tracer.dump(os.path.join(out_dir, "spans.json"))
    return rec


def tracing_overhead(results_dir: str, prefix: str, traced: dict) -> dict:
    """Traced minus the median of this checkout's untraced runs."""
    base: dict[str, list[float]] = {}
    for path in glob.glob(os.path.join(results_dir, f"{prefix}-*-trace0-*.json")):
        with open(path) as f:
            for k, v in json.load(f)["e2e"].items():
                base.setdefault(k, []).append(v)
    return {
        k: {"traced": v, "untraced_median": statistics.median(base[k]),
            "untraced_runs": len(base[k]), "overhead": v - statistics.median(base[k])}
        for k, v in traced.items() if base.get(k)
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sizes")
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: drop one output before the gate")
    ap.add_argument("--out", default=os.path.join(HERE, "out"))
    args = ap.parse_args()

    for need in ("fide_crawler_spark", "bench.py", os.path.join("tests", "oracle_utils.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    host = host_settings()
    out_dir = os.path.abspath(args.out)
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    # before any import of bench.py, which would default a 48 g heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['driver_heap_mb']}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["TMPDIR"] = os.path.join(out_dir, "tmp")
    # every JVM, the spark-submit launcher too: temp files and no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

    rec = run_workload(args, host, out_dir)
    rec.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "host": {**host, **versions()},
    })
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        rec["tracing_overhead"] = tracing_overhead(
            results, f"{args.workload}-{args.size}", rec["e2e"]
        )
    shutil.rmtree(os.path.join(out_dir, "work"), ignore_errors=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
        results, f"{args.workload}-{args.size}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    ), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    gate = rec["gate"]
    for p in gate["problems"]:
        print(f"gate: {p}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": rec["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    correct = gate["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": gate["attempted"],
        "failed": gate["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
