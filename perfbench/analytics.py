"""analytics: `bench.HEADLINE` + `bench.DEEP` over seeded tables.

One timed operation is one query: build the DataFrame with
``QUERIES[name]``, force its ``executedPlan``, then collect every output
row to the driver (which, like the noop sink, materializes every output
column).  The seed fixes the generated tables; the query order is the
catalog's.  The gate compares the collected rows of every query with its
DuckDB oracle (``queries.ORACLE``), normalized by the repository's test
comparator, so the rows checked are the rows that were timed.
"""

from __future__ import annotations

import time

from fide_crawler_spark.queries import ORACLE, QUERIES, TABLES


class AnalyticsRun:
    def __init__(self, ctx, headline: list[str], deep: list[str]):
        self.ctx = ctx
        self.tier = {n: "headline" for n in headline} | {n: "deep" for n in deep}
        # catalog order for every seed: in a fresh JVM a query's first-use
        # costs (codegen, UDF pickling, broadcast setup) depend on which
        # queries ran before it, and a seeded order moved the pass total
        # by 10-13% between seeds
        self.order = list(self.tier)
        self.query_s: dict[str, float] = {}
        self.results: dict[str, tuple[list[str], list]] = {}
        self.phase_s: dict[str, dict[str, float]] = {
            t: {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0} for t in ("headline", "deep")
        }

    def setup(self, spark, data_dir: str) -> None:
        """Table footers + JIT/Python-worker pool warm-up (bench.py's)."""
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for t in TABLES:
            spark.read.parquet(f"{data_dir}/{t}.parquet").schema
        spark.range(32).repartition(self.ctx.cores).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()

    def run(self, spark, data_dir: str) -> float:
        """One pass over every query; returns the summed query seconds.
        A query's time ends when ``collect`` returns; turning its rows
        into tuples for the gate happens later, outside the timing."""
        tr = self.ctx.tracer
        for name in self.order:
            tier = self.tier[name]
            ph = self.phase_s[tier]
            with tr.span(f"queries.{tier}"):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, data_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
            ph["build_s"] += t1 - t0
            ph["plan_s"] += t2 - t1
            ph["exec_s"] += t3 - t2
            self.query_s[name] = t3 - t0
            self.results[name] = (df.columns, rows)
        return sum(self.query_s.values())

    def tier_s(self, tier: str) -> float:
        return sum(s for n, s in self.query_s.items() if self.tier[n] == tier)

    def gate(self, data_dir: str, plant_fault: bool = False) -> dict:
        """Every query's timed output against its DuckDB oracle; a
        mismatching query is a failed operation."""
        from oracle_utils import canonical_rows, duck_connect

        problems = []
        con = duck_connect(data_dir)
        try:
            for i, name in enumerate(self.order):
                cols, rows = self.results[name]
                rows = [tuple(r) for r in rows]
                if plant_fault and i == 0:  # self-test: one output row goes missing
                    rows = rows[1:]
                cur = con.execute(ORACLE[name])
                duck_cols = [d[0].lower() for d in cur.description]
                duck_rows = cur.fetchall()
                cols = [c.lower() for c in cols]
                if sorted(cols) != sorted(duck_cols):
                    problems.append(f"{name}: columns {cols} != oracle {duck_cols}")
                elif canonical_rows(cols, rows) != canonical_rows(duck_cols, duck_rows):
                    problems.append(
                        f"{name}: {len(rows)} rows differ from the oracle's {len(duck_rows)}"
                    )
        finally:
            con.close()
        return {
            "attempted": len(self.order),
            "failed": len(problems),
            "problems": problems,
        }
