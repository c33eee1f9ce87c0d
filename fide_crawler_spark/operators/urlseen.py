"""URL-seen membership: one partitioned Bloom filter + exact backstop.

Reference analog: the SQLite MIN/MAX date-range probe that prevents
refetching months inside the cached range
(``data_processing/data_fetching_processing.py:216-234``) plus the
``@st.cache`` memo (``:16``).  At 10^10-URL scale that becomes a
membership structure:

* **PartitionedBloom** — the frontier hash space is split into
  ``n_parts`` sub-filters keyed by ``url_hash % n_parts``.  Each part is
  built executor-side (``mapInPandas`` partial filters, OR-merged), so
  no single filter needs to hold 10^10 elements; parts are persisted as
  per-snapshot state files and co-partitioned with the frontier.  Probe
  order: Bloom pre-pass (no false negatives → definite-unseen rows skip
  the join entirely), then an exact ``left_anti`` join only for the
  maybe-seen minority (SURVEY G11/C3).
* **Deletions** (forced recrawl) need no deletable filter: re-admission
  flips the frontier row back to ``pending``.  The exact anti-join
  checks ``status='fetched'`` rows, so a URL the Bloom still reports as
  maybe-seen is admitted anyway; the stale bit only costs the backstop
  join for that row (``recrawl.force_recrawl``).

Hashing: two independent 32-bit halves of Spark's ``xxhash64(url)``
(computed JVM-side, never in Python) combined Kirsch-Mitzenmacher
style: ``idx_i = (h1 + i*h2) mod m``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _split_hash(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h = hashes.astype(np.uint64)
    return (h >> np.uint64(32)).astype(np.uint64), (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)


class PartitionedBloom:
    """n_parts sub-Blooms over the url_hash space; no false negatives."""

    MAGIC = b"PBF1"

    def __init__(self, n_parts: int = 8, bits_per_part: int = 1 << 20, k: int = 5):
        # power-of-2 so signed pmod (Spark) and uint64 modulo (numpy)
        # agree on part assignment for the same 64-bit pattern
        assert n_parts & (n_parts - 1) == 0, "n_parts must be a power of 2"
        self.n_parts = n_parts
        self.bits = bits_per_part
        self.k = k
        self.parts = [np.zeros(bits_per_part // 8, dtype=np.uint8) for _ in range(n_parts)]

    # -- core ops (vectorized numpy; called from Arrow batches) -----------
    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h1, h2 = _split_hash(hashes)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.bits)

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        hashes = np.asarray(hashes, dtype=np.uint64)
        part_ids = (hashes % np.uint64(self.n_parts)).astype(np.int64)
        pos = self._positions(hashes)  # (k, n)
        for p in np.unique(part_ids):
            sel = pos[:, part_ids == p].ravel()
            np.bitwise_or.at(self.parts[p], sel >> np.uint64(3),
                             np.uint8(1) << (sel & np.uint64(7)).astype(np.uint8))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        hashes = np.asarray(hashes, dtype=np.uint64)
        part_ids = (hashes % np.uint64(self.n_parts)).astype(np.int64)
        pos = self._positions(hashes)
        out = np.ones(len(hashes), dtype=bool)
        for p in np.unique(part_ids):
            mask = part_ids == p
            sel = pos[:, mask]
            bits = (self.parts[p][(sel >> np.uint64(3)).astype(np.int64)]
                    >> (sel & np.uint64(7)).astype(np.uint8)) & 1
            out[mask] = bits.all(axis=0)
        return out

    def merge(self, other: "PartitionedBloom") -> None:
        assert (self.n_parts, self.bits, self.k) == (other.n_parts, other.bits, other.k)
        for a, b in zip(self.parts, other.parts):
            np.bitwise_or(a, b, out=a)

    # -- (de)serialization — persisted as snapshot state ------------------
    def to_bytes(self) -> bytes:
        header = self.MAGIC + np.array(
            [self.n_parts, self.bits, self.k], dtype=np.uint64
        ).tobytes()
        return header + b"".join(p.tobytes() for p in self.parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "PartitionedBloom":
        assert blob[:4] == cls.MAGIC, "bad bloom blob"
        n_parts, bits, k = np.frombuffer(blob[4:28], dtype=np.uint64)
        bf = cls(int(n_parts), int(bits), int(k))
        per = int(bits) // 8
        body = blob[28:]
        bf.parts = [
            np.frombuffer(body[i * per:(i + 1) * per], dtype=np.uint8).copy()
            for i in range(int(n_parts))
        ]
        return bf


def build_bloom(
    df: DataFrame, hash_col: str = "url_hash",
    n_parts: int = 8, bits_per_part: int = 1 << 20, k: int = 5,
) -> PartitionedBloom:
    """Distributed build, co-partitioned with the filter: hashes are
    shuffled by sub-filter id (``hash % n_parts``) so each task builds
    only its own part(s) and ships exactly those bytes — total traffic
    = one filter (n_parts × bits/8), independent of task count, never
    the hashes."""
    part_bytes = bits_per_part // 8

    def build_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, PartitionedBloom] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            hashes = pdf[hash_col].to_numpy().astype(np.uint64)
            pids = (hashes % np.uint64(n_parts)).astype(np.int64)
            for pid in np.unique(pids):
                bf = local.setdefault(
                    int(pid), PartitionedBloom(n_parts, bits_per_part, k)
                )
                bf.add_hashes(hashes[pids == pid])
        for pid, bf in local.items():
            yield pd.DataFrame({"part": [pid], "blob": [bf.parts[pid].tobytes()]})

    rows = (
        df.select(F.col(hash_col).cast("long").alias(hash_col))
        .repartition(n_parts, F.pmod(F.col(hash_col), F.lit(n_parts)))
        .mapInPandas(build_parts, schema="part int, blob binary")
        .collect()
    )
    merged = PartitionedBloom(n_parts, bits_per_part, k)
    for row in rows:
        arr = np.frombuffer(bytes(row.blob), dtype=np.uint8)
        assert arr.size == part_bytes
        np.bitwise_or(merged.parts[int(row.part)], arr, out=merged.parts[int(row.part)])
    return merged


def bloom_probe_col(spark, bloom: PartitionedBloom, hash_col: str = "url_hash"):
    """Column expression: might_contain(url_hash) via a broadcast filter
    probed inside an Arrow-vectorized pandas UDF.
    """
    blob_bc = spark.sparkContext.broadcast(bloom.to_bytes())
    holder: dict = {}  # task-local memo: from_bytes copies MBs of bit
    # arrays, so reconstruct once per task instead of once per Arrow batch

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        bf = holder.get("bf")
        if bf is None:
            bf = holder["bf"] = PartitionedBloom.from_bytes(blob_bc.value)
        return pd.Series(bf.might_contain(h.to_numpy().astype(np.uint64)))

    return probe(F.col(hash_col))


def filter_unseen(
    spark,
    candidates: DataFrame,
    seen: DataFrame,
    bloom: PartitionedBloom,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Definitely-unseen (Bloom negative) rows bypass the join; only the
    maybe-seen minority pays the exact ``left_anti`` backstop (SURVEY
    C3).  With a healthy FPP the anti-join side is ~|seen ∩ candidates|
    + ε, not |candidates|.
    """
    seen_keys = seen.select(hash_col).distinct()
    probed = candidates.withColumn("_maybe", bloom_probe_col(spark, bloom, hash_col))
    sure_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    checked = (
        probed.filter(F.col("_maybe")).drop("_maybe")
        .join(seen_keys, hash_col, "left_anti")
    )
    return sure_new.unionByName(checked)
