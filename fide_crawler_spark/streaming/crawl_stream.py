"""Streaming crawl: the epoch loop as a Structured Streaming query.

SURVEY §2.I maps the reference's sequential fetch loop to micro-batch
epochs and notes the two equivalent realizations: a driver loop over
snapshots (operators/scheduler.py — the primary engine, simpler and
exactly-once via manifest commits) and Structured Streaming's
``foreachBatch``.  This module provides the latter so a continuously
fed frontier (e.g. discovered links landing as files/Kafka records)
drives the SAME dequeue→fetch→parse→commit pipeline:

* source: a file stream of seed rows (one micro-batch per file via
  ``maxFilesPerTrigger``);
* ``foreachBatch``: admit the new seeds into the frontier snapshot
  (the crawl's URL-seen test: an exact anti-join on ``url`` against the
  frontier), then run crawl epochs until the new work drains;
* sink: the usual snapshot tables — the streaming query adds no second
  storage path, so batch and streaming crawls are bit-identical
  (tests/test_streaming_crawl.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fide_crawler_spark.operators.scheduler import CrawlJob

SEED_SCHEMA = (
    "url string, host string, fide_id string, period string, depth int, "
    "host_rank int, recrawl_age int, seed_pos long, status string, "
    "retry_count int, epoch int"
)


def read_seed_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(SEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )


def admit_seeds(job: CrawlJob, seeds: DataFrame) -> int:
    """Admission for a micro-batch of discovered seeds — the crawl's
    one URL-seen test (an epoch dequeues pending rows without one,
    because this keeps the frontier unique by ``url``).

    Dedup is a single exact ``left_anti`` on ``url`` against the whole
    frontier: the Bloom filter tracks FETCHED URLs only, so it cannot
    pre-filter duplicates of still-*pending* rows — an anti-join against
    all frontier keys is the correct (and sufficient) check here; at
    10^10 scale the frontier side would be bucketed by url so this join
    is co-located.  Robots admission applies to every micro-batch (new
    hosts are fetched and appended to the robots cache), and all state
    sidecars carry forward through the commit.
    """
    spark = job.spark
    seeds = seeds.withColumn("url_hash", F.xxhash64("url")).dropDuplicates(["url"])
    if job.frontier_tbl.latest() is None:
        job.init(seeds)
        return job.pending_count()

    frontier = job.frontier_tbl.read(spark)
    fresh = seeds.join(frontier.select("url"), "url", "left_anti")

    if job.respect_robots:
        from fide_crawler_spark.operators.robots import fetch_robots, robots_filter
        from fide_crawler_spark.sources.snapshot import upsert

        known = job.robots_tbl.read(spark)
        # re-fetch hosts that are unknown OR whose cached answer was a
        # transient failure (ok=False, fail-closed per RFC 9309 — the
        # cache must not pin a timed-out host to full-disallow forever)
        settled = known.filter(F.col("ok")).select("host")
        new_hosts = fresh.select("host").distinct().join(
            settled, "host", "left_anti"
        )
        # probe the HOST set (no robots fetch) before deciding to
        # refresh — evaluating new_rules twice would fetch twice and
        # could cache a different answer than the one admitted against
        if new_hosts.limit(1).count():
            new_rules = fetch_robots(new_hosts, mode=job._robots_mode())
            upsert(job.robots_tbl, spark, new_rules, "host")
            known = job.robots_tbl.read(spark)
        fresh = robots_filter(fresh, known, mark=True)

    fresh = fresh.select(*frontier.columns).persist()
    try:
        counts = {
            r["status"]: int(r["count"])
            for r in fresh.groupBy("status").count().collect()
        }
        if not counts:
            return 0
        n_new = counts.get("pending", 0)
        n_blocked = counts.get("blocked", 0)
        # 'total' counts every non-blocked admitted row — imported rows
        # with status='fetched' widen total and are committed, not dropped
        n_total_add = sum(counts.values()) - n_blocked
        m = job.frontier_tbl.manifest()["metrics"]
        # touched-partition admission: rewrite only the period
        # partitions receiving new rows (existing rows of those periods
        # union the fresh ones); every other partition carries forward
        touched = [r["period"] for r in fresh.select("period").distinct().collect()]
        job.frontier_tbl.commit_partition_overwrite(
            frontier.filter(F.col("period").isin(touched)).unionByName(fresh),
            "period",
            touched_values=touched,
            metrics={
                **m,
                "pending": int(m["pending"]) + n_new,
                "total": int(m.get("total", 0)) + n_total_add,
                "blocked": int(m.get("blocked", 0)) + n_blocked,
            },
            state=job.frontier_tbl.carry_state(),
        )
    finally:
        fresh.unpersist()
    return n_new


def start_streaming_crawl(
    job: CrawlJob, seed_path: str, checkpoint: str, max_files: int = 1
):
    """foreachBatch: admit the micro-batch, crawl until drained."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if admit_seeds(job, batch_df) > 0 or job.pending_count() > 0:
            job.run()

    return (
        read_seed_stream(job.spark, seed_path, max_files)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )
