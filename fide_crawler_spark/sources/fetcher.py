"""Vectorized fetch stage.

The reference fetches one URL at a time in a Python for-loop
(``data_processing/data_fetching_processing.py:140-147``) with a 10 s
socket timeout and swallow-and-skip error handling (``:195-196``).
Here fetching is a ``mapInPandas`` stage: each executor task receives an
Arrow batch of frontier rows and returns (url, status, page) — the
scheduler keeps failed URLs in the frontier with a bumped
``retry_count`` (reference analog: ``@retry(delay=10)`` at
``old_scripts/fide-games-scraper-public.py:48``).

Two fetchers behind one interface:

* ``synthetic`` (default) — pure function of the URL via
  ``fixtures.render_page``; deterministic, no network, used by all
  tests and benchmarks.
* ``http`` — real ``urllib`` GET with timeout (default 10 s, matching
  the reference's socket timeout at
  ``old_scripts/fide-games-scraper-public.py:22``); exercised without
  network by an in-process ``http.server`` fixture
  (tests/test_fetcher_http.py) that serves the same deterministic
  payloads, asserting span-sequence equality with the synthetic path
  plus 404 / timeout → ``status='failed'`` behavior.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from fide_crawler_spark.fixtures import render_page

FETCH_SCHEMA = "url string, status string, page string"


def _synthetic_fetch_batch(urls: pd.Series, weight: int = 1) -> pd.DataFrame:
    pages = [render_page(u, weight) for u in urls]
    return pd.DataFrame({"url": urls, "status": "fetched", "page": pages})


def _http_fetch_batch(urls: pd.Series, timeout: float = 10.0) -> pd.DataFrame:
    import urllib.request

    statuses, pages = [], []
    for u in urls:
        try:
            with urllib.request.urlopen(u, timeout=timeout) as resp:
                pages.append(resp.read().decode("utf-8", errors="replace"))
                statuses.append("fetched")
        except Exception:
            pages.append("")
            statuses.append("failed")
    return pd.DataFrame({"url": urls, "status": statuses, "page": pages})


def fetch_stage(
    frontier_batch: DataFrame,
    mode: str = "synthetic",
    weight: int = 1,
    timeout: float = 10.0,
) -> DataFrame:
    """frontier rows (must contain ``url``) → (url, status, page).

    One Arrow round-trip per partition; page bodies never touch the
    driver.  The fetch partitioning is whatever the caller hands in
    (the scheduler rebalances each dequeued batch on ``url``).
    """
    if mode == "synthetic":
        fetch = lambda urls: _synthetic_fetch_batch(urls, weight)  # noqa: E731
    else:
        fetch = lambda urls: _http_fetch_batch(urls, timeout)  # noqa: E731

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield fetch(pdf["url"])

    return frontier_batch.select("url").mapInPandas(run, schema=FETCH_SCHEMA)
