"""Gap analysis must reproduce the reference's cache-window logic
(data_fetching_processing.py:207-245), including the mid-month edge."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fide_crawler_spark.operators.recrawl import (
    cached_bounds,
    force_recrawl,
    gap_analysis,
)


def oracle_months(start: str, end: str, db_min: str | None, db_max: str | None):
    """Sequential reimplementation of the reference's driver logic."""

    def walk(s: dt.date, e: dt.date):
        cur = s.replace(day=1)
        out = []
        while cur <= e:
            out.append(cur)
            cur = (cur.replace(day=28) + dt.timedelta(days=4)).replace(day=1)
        return out

    d = dt.date.fromisoformat
    if db_min is None:
        return walk(d(start), d(end))
    months = walk(d(start), d(db_min) - dt.timedelta(days=1))
    months += walk(d(db_max) + dt.timedelta(days=1), d(end))
    return sorted(set(months))


CASES = [
    # (start, end, db_min, db_max)
    ("2023-01-01", "2023-12-01", None, None),              # empty cache
    ("2023-01-01", "2023-12-01", "2023-04-15", "2023-08-20"),  # mid-month edges
    ("2023-01-01", "2023-12-01", "2023-04-01", "2023-08-01"),  # month-start edges
    ("2023-03-01", "2023-06-01", "2023-01-05", "2023-12-28"),  # fully cached
    ("2023-01-01", "2023-03-01", "2023-02-01", "2023-09-01"),  # before-gap only
    ("2023-06-01", "2023-12-01", "2023-01-01", "2023-08-15"),  # after-gap only
]


def test_gap_analysis_matches_oracle(spark):
    req_rows, bound_rows, expected = [], [], {}
    for i, (s, e, lo, hi) in enumerate(CASES):
        fid = f"p{i}"
        req_rows.append((fid, s, e))
        if lo is not None:
            bound_rows.append((fid, lo, hi))
        expected[fid] = oracle_months(s, e, lo, hi)
    requests = spark.createDataFrame(
        req_rows, "fide_id string, start_date string, end_date string"
    ).select(
        "fide_id",
        F.to_date("start_date").alias("start_date"),
        F.to_date("end_date").alias("end_date"),
    )
    bounds = spark.createDataFrame(
        bound_rows or [("_", "2000-01-01", "2000-01-01")],
        "fide_id string, db_min string, db_max string",
    ).select(
        "fide_id",
        F.to_date("db_min").alias("db_min"),
        F.to_date("db_max").alias("db_max"),
    )
    got: dict[str, list] = {f"p{i}": [] for i in range(len(CASES))}
    for r in gap_analysis(requests, bounds).collect():
        got[r["fide_id"]].append(r["period"])
    for fid in expected:
        assert sorted(got[fid]) == expected[fid], fid


def test_cached_bounds(spark):
    games = spark.createDataFrame(
        [("a", "2023-01-05"), ("a", "2023-03-09"), ("b", "2022-12-31")],
        "fide_id string, date string",
    ).select("fide_id", F.to_date("date").alias("date"))
    got = {r["fide_id"]: (str(r["db_min"]), str(r["db_max"]))
           for r in cached_bounds(games).collect()}
    assert got == {"a": ("2023-01-05", "2023-03-09"), "b": ("2022-12-31", "2022-12-31")}


def test_force_recrawl_readmits(spark):
    frontier = spark.createDataFrame(
        [("u1", 11, "fetched", 0), ("u2", 22, "fetched", 0), ("u3", 33, "pending", 0)],
        "url string, url_hash long, status string, recrawl_age int",
    )
    urls = spark.createDataFrame([("u2",)], "url string")
    rows = {r["url"]: r for r in force_recrawl(frontier, urls).collect()}
    assert rows["u2"]["status"] == "pending" and rows["u2"]["recrawl_age"] == 1
    assert rows["u1"]["status"] == "fetched" and rows["u1"]["recrawl_age"] == 0
    assert rows["u3"]["status"] == "pending" and rows["u3"]["recrawl_age"] == 0


def test_scheduler_force_recrawl_end_to_end(spark, tmp_path):
    """Full loop on a default CrawlJob: crawl all, force-recrawl one URL,
    re-run → the re-fetched doc lands in a later epoch with identical
    spans.  The committed Bloom still says maybe-seen for that URL, so
    re-admission rests on the frontier status flip alone (the epoch
    dequeues pending rows without a URL-seen test)."""
    import numpy as np

    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import BLOOM_STATE, CrawlJob
    from fide_crawler_spark.operators.urlseen import PartitionedBloom

    rows = seed_frontier_rows(["7700077"], "2023-01-01", 4)
    url = rows[0]["url"]
    wd = str(tmp_path / "forced")
    j = CrawlJob(spark, wd, budget_per_host=8)
    j.init(spark.createDataFrame(rows))
    j.run()
    docs_before = {r["doc_id"]: r["epoch"] for r in
                   j.read_documents().select("doc_id", "epoch").collect()}

    j.force_recrawl(spark.createDataFrame([(url,)], "url string"))
    assert j.pending_count() == 1
    assert j.frontier_tbl.manifest()["state_files"] == [BLOOM_STATE]
    (h,) = [
        r["url_hash"] for r in j.frontier_tbl.read(spark)
        .filter(F.col("url") == url).select("url_hash").collect()
    ]
    bloom = PartitionedBloom.from_bytes(j.frontier_tbl.state(BLOOM_STATE))
    assert bloom.might_contain(np.array([h], dtype=np.int64).astype(np.uint64))[0]
    j.run()
    assert j.frontier_tbl.manifest()["state_files"] == [BLOOM_STATE]

    docs = j.docs_tbl.read(spark).filter(F.col("doc_id") == url)
    copies = sorted(
        (r["epoch"], r["spans"]) for r in docs.select("epoch", "spans").collect()
    )
    assert len(copies) == 2 and copies[1][0] > docs_before[url]
    assert copies[0][1] == copies[1][1]
    # read_documents dedups to one row per doc
    final = j.read_documents().filter(F.col("doc_id") == url).count()
    assert final == 1


def test_force_recrawl_noop_urls_dont_corrupt_pending(spark, tmp_path):
    """Forcing an already-pending or unknown URL must not inflate the
    derived pending metric."""
    from fide_crawler_spark.fixtures import seed_frontier_rows
    from fide_crawler_spark.operators.scheduler import CrawlJob

    rows = seed_frontier_rows(["9900099"], "2023-01-01", 3)
    wd = str(tmp_path / "noopforce")
    j = CrawlJob(spark, wd, budget_per_host=8)
    j.init(spark.createDataFrame(rows))
    j.run()
    assert j.pending_count() == 0
    # unknown URL + double-force of the same fetched URL
    targets = spark.createDataFrame(
        [("https://nowhere/x",), (rows[0]["url"],), (rows[0]["url"],)],
        "url string",
    )
    j.force_recrawl(targets)
    assert j.pending_count() == 1  # only the genuine flip counts
    j.force_recrawl(targets)       # second force: row already pending
    assert j.pending_count() == 1
    j.run()
    assert j.pending_count() == 0


def test_force_recrawl_never_readmits_blocked(spark):
    """A robots-'blocked' row must stay blocked under force_recrawl
    (re-admission would bypass robots), and pending rows are a no-op."""
    frontier = spark.createDataFrame(
        [("b1", 1, "blocked", 0), ("f1", 2, "fetched", 0), ("p1", 3, "pending", 0)],
        "url string, url_hash long, status string, recrawl_age int",
    )
    urls = frontier.select("url")  # force EVERYTHING
    rows = {r["url"]: r for r in force_recrawl(frontier, urls).collect()}
    assert rows["b1"]["status"] == "blocked" and rows["b1"]["recrawl_age"] == 0
    assert rows["f1"]["status"] == "pending" and rows["f1"]["recrawl_age"] == 1
    assert rows["p1"]["status"] == "pending" and rows["p1"]["recrawl_age"] == 0
