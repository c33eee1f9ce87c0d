"""End-to-end crawl pipeline vs the sequential oracle.

North-rule invariants (BASELINE.json): span-sequence equality (kind,
text, media_ref, order), identical crawl-frontier ordering, identical
URL-seen set, under the same seed list + politeness budget; exact
resume from a snapshot after a kill.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fide_crawler_spark.fixtures import seed_frontier_rows
from fide_crawler_spark.operators.frontier import priority_order
from fide_crawler_spark.operators.parse import reassemble_spans, explode_spans
from fide_crawler_spark.operators.rank import dequeue_rank
from fide_crawler_spark.operators.scheduler import CrawlJob
from fide_crawler_spark.oracle.sequential import run_oracle
from fide_crawler_spark.streaming.crawl_stream import admit_seeds

SEEDS = ["1503014", "2020009", "35009192"]
START, N_MONTHS, BUDGET = "2023-01-01", 5, 4


@pytest.fixture(scope="module")
def frontier_rows():
    return seed_frontier_rows(SEEDS, START, N_MONTHS)


@pytest.fixture(scope="module")
def oracle(frontier_rows):
    return run_oracle(frontier_rows, BUDGET)


@pytest.fixture(scope="module")
def job(spark, frontier_rows, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    j = CrawlJob(spark, wd, budget_per_host=BUDGET)
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    return j


def spark_spans(job) -> dict[str, list[tuple]]:
    rows = job.read_documents().select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequences_match_oracle(job, oracle):
    got = spark_spans(job)
    assert set(got) == set(oracle.spans)
    for url, expected in oracle.spans.items():
        assert got[url] == expected, f"span sequence mismatch for {url}"


def test_crawl_order_matches_oracle(job, oracle):
    assert job.crawl_order() == oracle.crawl_order


def test_url_seen_set_matches_oracle(job, spark, oracle):
    fetched = {
        r["url"]
        for r in job.frontier_tbl.read(spark)
        .filter(F.col("status") == "fetched")
        .select("url")
        .collect()
    }
    assert fetched == oracle.url_seen


def test_no_url_fetched_twice(job):
    docs = job.docs_tbl.read(job.spark)
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_politeness_respected_per_epoch(job, spark):
    per_epoch = (
        job.read_documents()
        .groupBy("epoch")
        .count()
        .orderBy("epoch")
        .collect()
    )
    assert all(r["count"] <= BUDGET for r in per_epoch)
    total = len(SEEDS) * N_MONTHS
    assert sum(r["count"] for r in per_epoch) == total


def test_lineage_and_metrics_recorded(job):
    m = job.frontier_tbl.manifest()
    assert m["metrics"]["pending"] == 0
    assert m["metrics"]["epoch"] >= 0
    docs_manifest = job.docs_tbl.manifest()
    assert docs_manifest["lineage"], "per-partition lineage missing"
    assert sum(p["docs"] for p in docs_manifest["lineage"]) == docs_manifest[
        "metrics"
    ]["docs"]


def test_resume_identical_to_uninterrupted(spark, frontier_rows, oracle, tmp_path):
    """Kill after epoch 0 (simulated by dropping the job object), build a
    fresh CrawlJob on the same workdir, run to completion → identical
    crawl order + spans."""
    wd = str(tmp_path / "resumable")
    j1 = CrawlJob(spark, wd, budget_per_host=BUDGET)
    j1.init(spark.createDataFrame(frontier_rows))
    j1.run_epoch()
    del j1

    j2 = CrawlJob(spark, wd, budget_per_host=BUDGET)
    assert j2.epoch() == 0  # resumed from snapshot, not restarted
    j2.run()
    assert j2.crawl_order() == oracle.crawl_order
    got = spark_spans(j2)
    assert got == oracle.spans


def test_shuffle_partition_invariance(spark, frontier_rows, oracle, tmp_path):
    """Execution-parallelism independence: same job at a different
    shuffle width produces identical crawl order and spans (order is a
    data property).  bench.py additionally evidences local[8] vs
    local[32]."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        j = CrawlJob(spark, str(tmp_path / "narrow"), budget_per_host=BUDGET)
        j.init(spark.createDataFrame(frontier_rows))
        j.run()
        assert j.crawl_order() == oracle.crawl_order
        assert spark_spans(j) == oracle.spans
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def politeness_cap_naive(frontier: DataFrame, budget_per_host: int) -> DataFrame:
    """Single-window reference form of the per-host cap (skew-prone: a
    hot host funnels through one window partition)."""
    w = Window.partitionBy("host").orderBy(*priority_order())
    return (
        frontier.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= budget_per_host)
        .drop("_rn")
    )


def test_politeness_two_phase_equals_naive(spark, frontier_rows):
    """The scheduler's fused two-pass cap keeps exactly the naive
    window's rows on the real priority tuple, ranked in priority order."""
    df = spark.createDataFrame(frontier_rows)
    fused = dequeue_rank(df, "host", priority_order(), BUDGET)
    got = [(r["url"], r["rank"]) for r in fused.orderBy("rank").collect()]
    naive = politeness_cap_naive(df, BUDGET).orderBy(*priority_order())
    assert got == [(r["url"], i) for i, r in enumerate(naive.collect(), 1)]


def test_span_explode_reassemble_roundtrip(spark, job):
    docs = job.read_documents().select("doc_id", "spans")
    back = reassemble_spans(explode_spans(docs))
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    rt = {r["doc_id"]: r["spans"] for r in back.collect()}
    assert orig == rt


def test_flaky_fetch_retries_until_complete(spark, frontier_rows, oracle, tmp_path):
    """Failed fetches stay pending with retry_count+1 and are re-dequeued
    (reference analog: infinite @retry,
    old_scripts/fide-games-scraper-public.py:48).  The final span corpus
    must still equal the oracle's — failures only defer, never drop."""
    import zlib

    wd = str(tmp_path / "flaky")
    j = CrawlJob(spark, wd, budget_per_host=BUDGET, fetch_mode="flaky")
    j.init(spark.createDataFrame(frontier_rows))
    stats = j.run()
    assert any(s.get("failed", 0) > 0 for s in stats), "no failures injected?"
    assert stats[-1]["pending"] == 0
    # every URL fetched exactly once, spans identical to the oracle
    assert spark_spans(j) == oracle.spans
    # retried URLs carry retry_count == 1 in the frontier
    fr = {r["url"]: r for r in j.frontier_tbl.read(spark).collect()}
    for url in oracle.url_seen:
        expected_rc = 1 if zlib.crc32(url.encode()) % 3 == 0 else 0
        assert fr[url]["retry_count"] == expected_rc, url
        assert fr[url]["status"] == "fetched"


def test_duplicate_admission_not_refetched(spark, frontier_rows, tmp_path):
    """The URL-seen test at admission must actually filter: after
    fetching everything, re-discover 5 already-fetched URLs (the
    discovered-link / re-seed case) — admission's anti-join on url
    rejects them, so nothing is fetched twice."""
    wd = str(tmp_path / "dupadmit")
    j = CrawlJob(spark, wd, budget_per_host=BUDGET)
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    n_docs_before = j.docs_tbl.read(spark).count()

    dup_rows = [dict(r, status="pending", epoch=-1) for r in frontier_rows[:5]]
    assert admit_seeds(j, spark.createDataFrame(dup_rows)) == 0
    stats = j.run_epoch()
    assert stats["dequeued"] == 0, "seen URLs must not be re-dequeued"
    assert j.docs_tbl.read(spark).count() == n_docs_before


def test_init_keeps_one_row_per_url(spark, frontier_rows, tmp_path):
    """A duplicated seed yields two copies of each of its URLs with the
    same priority tuple: init keeps one, so each URL is committed once,
    in the oracle's order."""
    rows = frontier_rows + frontier_rows[:N_MONTHS]
    j = CrawlJob(spark, str(tmp_path / "dupseed"), budget_per_host=BUDGET)
    j.init(spark.createDataFrame(rows))
    assert j.pending_count() == len(frontier_rows)
    j.run()
    docs = j.docs_tbl.read(spark)
    assert docs.count() == docs.select("doc_id").distinct().count() == len(frontier_rows)
    assert j.crawl_order() == run_oracle(rows, BUDGET).crawl_order


def test_epoch_dequeue_plan_has_no_python(spark, frontier_rows, tmp_path, monkeypatch):
    """The epoch dequeues pending rows as they are: no URL-seen probe (a
    Python UDF) in the plan that feeds dequeue_rank."""
    import fide_crawler_spark.operators.scheduler as scheduler
    from fide_crawler_spark.plans import formatted_plan

    plans = []

    def capture(df, *a, **kw):
        plans.append(formatted_plan(df))
        return dequeue_rank(df, *a, **kw)

    monkeypatch.setattr(scheduler, "dequeue_rank", capture)
    j = CrawlJob(spark, str(tmp_path / "plan"), budget_per_host=BUDGET)
    j.init(spark.createDataFrame(frontier_rows))
    j.run_epoch()
    j.run_epoch()  # the second epoch has fetched rows in the frontier
    assert len(plans) == 2
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_retention_bounds_history_and_preserves_output(
    spark, frontier_rows, tmp_path
):
    """retain_snapshots=2 expires frontier/doc history per epoch: the
    final corpus and frontier equal the unbounded run's, snapshot
    counts stay bounded, and append-chain doc file sets referenced by
    the surviving manifest are untouched."""
    base = CrawlJob(
        spark, str(tmp_path / "unbounded"), budget_per_host=BUDGET
    )
    base.init(spark.createDataFrame(frontier_rows))
    base.run()
    j = CrawlJob(
        spark, str(tmp_path / "retained"), budget_per_host=BUDGET, retain_snapshots=2,
    )
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    assert len(j.frontier_tbl.snapshots()) <= 2
    assert len(j.docs_tbl.snapshots()) <= 2
    assert spark_spans(j) == spark_spans(base)
    fr = lambda job: sorted(  # noqa: E731
        (r["url"], r["status"])
        for r in job.frontier_tbl.read(spark).collect()
    )
    assert fr(j) == fr(base)


def test_retention_guard_rejects_unsafe_window(spark, tmp_path):
    with pytest.raises(ValueError):
        CrawlJob(spark, str(tmp_path / "bad"), retain_snapshots=1)


def test_retention_resume_after_kill(spark, frontier_rows, tmp_path):
    """Kill mid-crawl with retention on: resume completes and matches
    the uninterrupted retained run (the loop never reads expired
    history)."""
    wd = str(tmp_path / "ret_resume")
    j1 = CrawlJob(
        spark, wd, budget_per_host=BUDGET, retain_snapshots=2
    )
    j1.init(spark.createDataFrame(frontier_rows))
    j1.run_epoch()
    j1.run_epoch()  # "killed" here: a fresh job object resumes
    j2 = CrawlJob(
        spark, wd, budget_per_host=BUDGET, retain_snapshots=2
    )
    j2.run()
    ref = CrawlJob(
        spark, str(tmp_path / "ret_ref"), budget_per_host=BUDGET, retain_snapshots=2,
    )
    ref.init(spark.createDataFrame(frontier_rows))
    ref.run()
    assert spark_spans(j2) == spark_spans(ref)


def test_compaction_cycle_reclaims_doc_filesets(spark, frontier_rows, tmp_path):
    """compact_docs_every + retain_snapshots = the full storage-reclaim
    cycle: the doc table's file-set list stays bounded (compaction folds
    the append chain; the following expiry collects released sets) and
    the corpus is unchanged."""
    import os

    base = CrawlJob(
        spark, str(tmp_path / "cc_base"), budget_per_host=BUDGET
    )
    base.init(spark.createDataFrame(frontier_rows))
    base.run()
    j = CrawlJob(
        spark, str(tmp_path / "cc_ret"), budget_per_host=BUDGET,
        retain_snapshots=2, compact_docs_every=2,
    )
    j.init(spark.createDataFrame(frontier_rows))
    j.run()
    assert spark_spans(j) == spark_spans(base)
    m = j.docs_tbl.manifest()
    n_epochs = len(base.docs_tbl.snapshots())
    # without compaction the latest manifest references one set per
    # epoch; with the cycle it references at most the sets since the
    # last compaction
    assert len(m["data_paths"]) < n_epochs
    # and the expired+released sets are truly gone from disk
    on_disk = [
        d for d in os.listdir(str(tmp_path / "cc_ret" / "documents"))
        if d.startswith("snap-") and not d.endswith(".staging")
    ]
    assert len(on_disk) <= len(m["data_paths"]) + 2
