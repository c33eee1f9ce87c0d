"""Cache-aware recrawl: gap analysis + forced re-admission.

Reference semantics (``data_processing/data_fetching_processing.py:207-245``):

* probe the cache for ``[db_min, db_max]`` per player (``:216-217``);
* empty cache → crawl the full requested range (``:219-222``);
* else crawl only ``[start, db_min − 1 day]`` and/or ``[db_max + 1 day,
  end]`` (``:227-234``) — months *inside* the cached range are never
  refetched.  Note the exact month-walk edge: the walk starts at the
  requested month-start and runs ``while current <= end`` (``:125-131``),
  so a mid-month ``db_min`` causes its own month to be refetched —
  reproduced bit-for-bit here and pinned by tests.

Forced recrawl (beyond the reference): a URL is re-admitted by
resetting its frontier row to pending with a bumped ``recrawl_age`` so
the priority queue favors it.  The URL-seen Bloom filter is not touched:
the epoch dequeues pending rows without consulting it, and admission
anti-joins on ``url`` against the frontier, so the status flip alone is
the deletion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cached_bounds(games: DataFrame) -> DataFrame:
    """SELECT fide_id, MIN(date), MAX(date) (the cache probe, :216-217)."""
    return games.groupBy("fide_id").agg(
        F.min("date").alias("db_min"), F.max("date").alias("db_max")
    )


def _months(start_col, end_col):
    """Month-walk: month-starts from trunc(start) while current <= end
    (:125-131).  Empty array when start > end (sequence would step
    backwards otherwise)."""
    seq = F.sequence(
        F.trunc(start_col, "month"), end_col, F.expr("interval 1 month")
    )
    return F.when(F.trunc(start_col, "month") <= end_col, seq).otherwise(
        F.array().cast("array<date>")
    )


def gap_analysis(requests: DataFrame, bounds: DataFrame) -> DataFrame:
    """requests(fide_id, start_date, end_date) × cached bounds →
    (fide_id, period) months that must actually be crawled.

    Pure relational form of the reference's branchy driver code: one
    left join + two month-sequence explodes unioned — executes as a
    broadcast join + generator, no driver loop, no Python."""
    r = requests.join(F.broadcast(bounds), "fide_id", "left")
    full = _months(F.col("start_date"), F.col("end_date"))
    before = _months(F.col("start_date"), F.date_sub(F.col("db_min"), 1))
    after = _months(F.date_add(F.col("db_max"), 1), F.col("end_date"))
    months = F.when(F.col("db_min").isNull(), full).otherwise(
        F.concat(before, after)
    )
    return (
        r.select("fide_id", F.explode(months).alias("period"))
        .distinct()
        .orderBy("fide_id", "period")
    )


def force_recrawl(frontier: DataFrame, urls: DataFrame) -> DataFrame:
    """Re-admit specific URLs (``urls`` needs only a ``url`` column):
    reset their frontier rows to pending with recrawl_age+1 (priority
    boost per frontier.priority_order).

    Only rows currently ``fetched`` flip: a robots-'blocked' row must
    stay blocked (re-admitting it would bypass robots admission), and a
    pending/failed row is already on its way — flipping it would only
    corrupt the scheduler's pending count."""
    # distinct: a duplicated key would fan the join out and DUPLICATE
    # frontier rows (each copy then gets dequeued and fetched)
    keys = urls.select("url").distinct().withColumn("_force", F.lit(True))
    flip = F.col("_force").isNotNull() & (F.col("status") == "fetched")
    return (
        frontier.join(keys, "url", "left")
        .withColumn(
            "recrawl_age",
            F.when(flip, F.col("recrawl_age") + 1).otherwise(F.col("recrawl_age")),
        )
        .withColumn(
            "status",
            F.when(flip, F.lit("pending")).otherwise(F.col("status")),
        )
        .drop("_force")
    )
