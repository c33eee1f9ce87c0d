"""fide_crawler_spark — a PySpark-native crawl/analytics engine.

Rebuilds the capabilities of ``rafaelvleite/fide_crawler`` (sequential
requests+BeautifulSoup+pandas+SQLite) as an idiomatic Spark DataFrame
pipeline: snapshot-table frontier, partitioned-Bloom URL-seen dedup with
an exact anti-join backstop (forced recrawl = frontier status flip), a
fused per-host politeness + priority dequeue, vectorized Arrow
fetch+parse emitting interleaved span records, and a full
analytics surface (SURVEY.md §2) checked against a DuckDB oracle.
"""

__version__ = "0.1.0"
