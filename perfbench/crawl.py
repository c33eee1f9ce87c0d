"""crawl_incremental: rounds of discovered seeds, each drained by CrawlJob.

Round 0 is generated with `generate_frontier` and committed by
`CrawlJob.init` during set-up.  Each later round re-discovers about half
of the players already admitted and adds as many new ones;
`crawl_stream.admit_seeds` dedups them against the frontier, then
`CrawlJob.run` drains the frontier before the next round is admitted.
Players are spread over 12 hosts with Zipf-skewed sizes, so the
per-host budget bites on the big hosts and sets the epoch count.
Snapshot retention and doc compaction are on, as `jobs/crawl_job.py`
exposes them for long crawls.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
import zlib
from dataclasses import dataclass

from pyspark.sql import functions as F

import fide_crawler_spark.operators.scheduler as scheduler_mod
from fide_crawler_spark.fixtures import parse_page, render_page
from fide_crawler_spark.operators.frontier import generate_frontier
from fide_crawler_spark.operators.parse import fetch_parse_stage
from fide_crawler_spark.operators.scheduler import BLOOM_STATE, CrawlJob
from fide_crawler_spark.operators.urlseen import PartitionedBloom, bloom_probe_col
from fide_crawler_spark.oracle.sequential import run_oracle
from fide_crawler_spark.streaming.crawl_stream import admit_seeds

START, END = "2023-01-01", "2023-12-01"  # 12 months per player
SPAN_SAMPLE = 64
PROBE_WEIGHT = 32  # the bulk crawl's page weight (jobs/crawl_bench.py)
PROBE_ROWS = 256


@dataclass(frozen=True)
class Size:
    hosts: int
    players_round0: int
    players_per_round: int
    rounds: int
    budget: int
    page_weight: int = 1


SIZES = {
    "full": Size(hosts=12, players_round0=48, players_per_round=48, rounds=2, budget=96),
    "tiny": Size(hosts=4, players_round0=8, players_per_round=8, rounds=2, budget=24),
}


def zipf_counts(n: int, hosts: int) -> list[int]:
    """``n`` split over ``hosts`` in proportion to 1/(rank+1), rounded
    by largest remainder, so every seed gets the same host sizes."""
    w = [1.0 / (h + 1) for h in range(hosts)]
    raw = [n * x / sum(w) for x in w]
    counts = [int(x) for x in raw]
    for h in sorted(range(hosts), key=lambda h: counts[h] - raw[h])[: n - sum(counts)]:
        counts[h] += 1
    return counts


def plan_rounds(seed: int, size: Size) -> list[list[tuple[str, int, int]]]:
    """Per round, the discovered players as (fide_id, seed_pos, host).

    Host sizes are fixed; the seed draws the ids, their discovery order
    and which admitted players a round re-discovers."""
    rng = random.Random(seed)
    known: list[tuple[str, int, int]] = []
    used: set[str] = set()
    rounds = []

    def new_players(n: int) -> list[tuple[str, int, int]]:
        hosts = [h for h, c in enumerate(zipf_counts(n, size.hosts)) for _ in range(c)]
        rng.shuffle(hosts)
        out = []
        for h in hosts:
            fid = str(rng.randrange(1_000_000, 99_999_999))
            while fid in used:
                fid = str(rng.randrange(1_000_000, 99_999_999))
            used.add(fid)
            out.append((fid, len(used) - 1, h))
        return out

    for r in range(size.rounds):
        if r == 0:
            players = new_players(size.players_round0)
        else:
            n_old = size.players_per_round // 2
            players = rng.sample(known, n_old) + new_players(size.players_per_round - n_old)
        known.extend(p for p in players if p not in known)
        rounds.append(players)
    return rounds


def host_name(h: int) -> str:
    return f"h{h:02d}.ratings.example"


def round_frontier(spark, players: list[tuple[str, int, int]], parts: int):
    """`generate_frontier` per host, unioned into ``parts`` partitions:
    the round's frontier rows."""
    out = None
    for h in sorted({p[2] for p in players}):
        seeds = spark.createDataFrame(
            [(fid, pos) for fid, pos, host in players if host == h],
            "fide_id string, seed_pos int",
        )
        df = generate_frontier(seeds, START, END, host=host_name(h))
        out = df if out is None else out.unionByName(df)
    return out.coalesce(parts)


class CrawlRun:
    """One run of the workload: set-up, timed crawl, probes, gate."""

    def __init__(self, ctx, size: Size):
        self.ctx = ctx
        self.size = size
        self.rounds = plan_rounds(ctx.seed, size)
        self.job: CrawlJob | None = None
        self.epoch_s: list[float] = []
        self.round_epochs: list[list[int]] = []
        self.admitted = 0
        self.probes: list[dict] = []
        self.probe_s = 0.0
        self.fetch_probe: dict = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, spark, workdir: str) -> None:
        """generate_frontier + CrawlJob.init + a fetch-path warm batch."""
        tr = self.ctx.tracer
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        frontier = round_frontier(spark, self.rounds[0], self.ctx.cores)
        job = CrawlJob(
            spark, workdir, budget_per_host=self.size.budget,
            page_weight=self.size.page_weight,
            retain_snapshots=2, compact_docs_every=2,
        )
        job.init(frontier)
        warm = frontier.limit(4 * self.ctx.cores).selectExpr(
            "url", "url_hash", "fide_id", "period", "seed_pos", "retry_count",
            "cast(0 as long) as rank",
        ).repartition(self.ctx.cores)
        warm_dir = os.path.join(workdir, "warm")
        fetch_parse_stage(warm, weight=self.size.page_weight).write.mode(
            "overwrite"
        ).parquet(warm_dir)
        spark.read.parquet(warm_dir).selectExpr("sum(size(spans))").collect()
        shutil.rmtree(warm_dir)
        self.job = job
        self.admitted = job.pending_count()
        self._instrument(job, tr)

    def _instrument(self, job: CrawlJob, tr) -> None:
        """Time every epoch; in a traced run also open the layer spans."""
        run_epoch = job.run_epoch

        def timed_epoch():
            t0 = time.perf_counter()
            with tr.span("scheduler.run_epoch"):
                stats = run_epoch()
            self.epoch_s.append(time.perf_counter() - t0)
            if stats.get("dequeued"):
                self.round_epochs[-1].append(stats["epoch"])
            if tr.enabled:
                t1 = time.perf_counter()
                self._probe_unseen(job)
                self.probe_s += time.perf_counter() - t1
            return stats

        job.run_epoch = timed_epoch
        if not tr.enabled:
            return
        docs_commit = job.docs_tbl.commit

        def commit(*a, **kw):
            if tr.current() == "snapshot.maintenance":  # compaction's rewrite
                return docs_commit(*a, **kw)
            with tr.span("snapshot.commit"):
                return docs_commit(*a, **kw)

        job.docs_tbl.commit = commit
        for tbl in (job.frontier_tbl, job.docs_tbl):
            tbl.commit_partition_overwrite = tr.wrap(
                "snapshot.commit_partition_overwrite", tbl.commit_partition_overwrite
            )
            tbl.compact = tr.wrap("snapshot.maintenance", tbl.compact)
            tbl.expire_snapshots = tr.wrap("snapshot.maintenance", tbl.expire_snapshots)

    # -- timed window ---------------------------------------------------
    def crawl(self, spark) -> float:
        """Drain round 0, then admit and drain every later round.
        Returns the timed wall seconds (probe time excluded)."""
        tr = self.ctx.tracer
        patched = {
            "dequeue_rank": tr.wrap("rank.dequeue_rank", scheduler_mod.dequeue_rank),
            "build_bloom": tr.wrap("urlseen.build_bloom", scheduler_mod.build_bloom),
        } if tr.enabled else {}
        saved = {k: getattr(scheduler_mod, k) for k in patched}
        for k, fn in patched.items():
            setattr(scheduler_mod, k, fn)
        discovered = [None] + [
            round_frontier(spark, players, self.ctx.cores) for players in self.rounds[1:]
        ]
        try:
            t0 = time.perf_counter()
            for seeds in discovered:
                self.round_epochs.append([])
                if seeds is not None:
                    with tr.span("crawl_stream.admit_seeds"):
                        self.admitted += admit_seeds(self.job, seeds)
                self.job.run()
            wall = time.perf_counter() - t0 - self.probe_s
        finally:
            for k, fn in saved.items():
                setattr(scheduler_mod, k, fn)
        return wall

    # -- traced-only probes -------------------------------------------
    def _probe_unseen(self, job: CrawlJob) -> None:
        """URL-seen filter on the committed frontier, in one job: pending
        rows the Bloom filter calls maybe-seen, how many of those the
        exact join confirms, and the configured false-positive rate at
        the filter's current load."""
        spark = job.spark
        with self.ctx.tracer.span("urlseen.filter_unseen"):
            fr = job.frontier_tbl.read(spark)
            bloom = PartitionedBloom.from_bytes(job.frontier_tbl.state(BLOOM_STATE))
            seen = (
                fr.filter(F.col("status") == "fetched")
                .select("url_hash").distinct().withColumn("_seen", F.lit(1))
            )
            row = (
                fr.filter(F.col("status") == "pending")
                .withColumn("_maybe", bloom_probe_col(spark, bloom).cast("int"))
                .join(seen, "url_hash", "left")
                .agg(
                    F.count(F.lit(1)).alias("pending"),
                    F.coalesce(F.sum("_maybe"), F.lit(0)).alias("maybe"),
                    F.coalesce(F.sum(F.col("_maybe") * F.col("_seen")), F.lit(0)).alias("exact"),
                )
                .first()
            )
        n_seen = int(job.frontier_tbl.manifest()["metrics"]["total"]) - job.pending_count()
        load = n_seen / bloom.n_parts / bloom.bits
        self.probes.append({
            "pending": row["pending"], "maybe_seen_rows": row["maybe"],
            "exact_seen_rows": row["exact"],
            "fpp_configured": (1.0 - math.exp(-bloom.k * load)) ** bloom.k,
        })

    def probe_fetch_parse(self, spark) -> None:
        """Fetch+parse of a fixed batch at the bulk page weight into a
        noop sink: isolates the fused stage from the span write."""
        batch = round_frontier(spark, self.rounds[0], self.ctx.cores).orderBy("url").limit(
            PROBE_ROWS
        ).selectExpr(
            "url", "url_hash", "fide_id", "period", "seed_pos", "retry_count",
            "cast(0 as long) as rank",
        ).repartition(self.ctx.cores).persist()
        try:
            n = batch.count()
            t0 = time.perf_counter()
            with self.ctx.tracer.span("parse.fetch_parse_stage"):
                fetch_parse_stage(batch, weight=PROBE_WEIGHT).write.format(
                    "noop"
                ).mode("overwrite").save()
            self.fetch_probe = {"rows": n, "wall_s": time.perf_counter() - t0}
        finally:
            batch.unpersist()

    def probe_summary(self) -> dict:
        p = self.probes
        clean = sum(x["pending"] - x["exact_seen_rows"] for x in p)
        false_pos = sum(x["maybe_seen_rows"] - x["exact_seen_rows"] for x in p)
        expected = sum(
            x["fpp_configured"] * (x["pending"] - x["exact_seen_rows"]) for x in p
        )
        return {
            "probes": len(p),
            "maybe_seen_rows": sum(x["maybe_seen_rows"] for x in p),
            "exact_seen_rows": sum(x["exact_seen_rows"] for x in p),
            "fpp_measured": false_pos / clean if clean else 0.0,
            "fpp_configured": expected / clean if clean else 0.0,
        }

    # -- end-to-end numbers ---------------------------------------------
    def store_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.job.workdir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    # -- correctness gate -----------------------------------------------
    def gate(self, spark, plant_fault: bool = False) -> dict:
        """Compare the committed crawl with the sequential oracle.

        An operation is one admitted URL; it fails if it was never
        committed, was committed twice, sits at another crawl position
        or epoch than the oracle's, or its sampled spans differ from
        `parse_page(render_page(url, weight))`.
        """
        job = self.job
        raw = job.docs_tbl.read(spark)
        n_raw = raw.count()
        docs = {
            r["doc_id"]: r
            for r in raw.select("doc_id", "epoch", "crawl_rank", "spans").collect()
        }
        if plant_fault and docs:  # self-test: one committed doc goes missing
            docs.pop(sorted(docs)[0])
        bad: set[str] = set()
        problems: list[str] = []
        admitted: set[str] = set()
        for r, players in enumerate(self.rounds):
            rows = {}
            for row in round_frontier(spark, players, self.ctx.cores).collect():
                d = row.asDict()
                if d["url"] not in admitted:
                    rows.setdefault(d["url"], d)
            admitted.update(rows)
            oracle = run_oracle(list(rows.values()), self.size.budget)
            epochs = self.round_epochs[r] if r < len(self.round_epochs) else []
            got = sorted(
                (u for u in rows if u in docs),
                key=lambda u: (docs[u]["epoch"], docs[u]["crawl_rank"]),
            )
            missing = [u for u in rows if u not in docs]
            if missing:
                bad.update(missing)
                problems.append(f"round {r}: {len(missing)} admitted URLs never committed")
            want = [u for u in oracle.crawl_order if u in docs]
            if got != want:
                bad.update(a for a, b in zip(got, want) if a != b)
                problems.append(f"round {r}: crawl order differs from the oracle")
            want_epoch = {
                u: epochs[i] for i, urls in enumerate(oracle.epochs) for u in urls
                if i < len(epochs)
            }
            wrong = [u for u in got if want_epoch.get(u) != docs[u]["epoch"]]
            if wrong:
                bad.update(wrong)
                problems.append(f"round {r}: {len(wrong)} docs in the wrong epoch")
        if n_raw != len(admitted) or n_raw != len(docs):
            problems.append(
                f"docs committed {n_raw} (distinct {len(docs)}) != admitted {len(admitted)}"
            )
            bad.update(u for u in admitted if u not in docs)
        if self.admitted != len(admitted):
            problems.append(f"CrawlJob admitted {self.admitted}, oracle {len(admitted)}")
        order = sorted(docs, key=lambda u: (docs[u]["epoch"], docs[u]["crawl_rank"]))
        step = max(1, len(order) // SPAN_SAMPLE)
        for url in order[::step][:SPAN_SAMPLE]:
            got_spans = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in docs[url]["spans"]
            ]
            if got_spans != parse_page(render_page(url, self.size.page_weight)):
                bad.add(url)
                problems.append(f"span sequence differs for {url}")
        crc = 0
        for url in sorted(docs):
            d = docs[url]
            rec = repr((url, d["epoch"], d["crawl_rank"], [tuple(s) for s in d["spans"]]))
            crc = zlib.crc32(rec.encode(), crc)
        return {
            "attempted": max(1, len(admitted)),
            "failed": min(len(bad), len(admitted)) if bad else (1 if problems else 0),
            "problems": problems[:20],
            "crc": crc,
            "docs": len(docs),
        }
