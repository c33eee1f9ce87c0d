"""URL-seen membership: one partitioned Bloom filter + exact backstop.

Reference analog: the SQLite MIN/MAX date-range probe that prevents
refetching months inside the cached range
(``data_processing/data_fetching_processing.py:216-234``) plus the
``@st.cache`` memo (``:16``).  The crawl runs that test once per
discovered URL, at admission (``streaming/crawl_stream.admit_seeds``,
Mercator's placement), as an exact anti-join on ``url`` against the
frontier; frontier rows are then unique by ``url``, so an epoch never
re-tests its pending rows.  At 10^10-URL scale the fetched side of that
join grows without bound, which is what this membership structure over
the FETCHED URLs is for:

* **PartitionedBloom** — the hash space is split into ``n_parts``
  sub-filters keyed by ``url_hash % n_parts``, so no single filter
  needs to hold 10^10 elements; each epoch adds its fetched URLs and
  the filter is persisted as snapshot state, committed atomically with
  the frontier.  ``build_bloom`` is one JVM aggregate
  (``bitmap_construct_agg`` over the k bit positions of each hash), so
  the per-epoch build runs no Python.  ``filter_unseen`` is the
  Bloom-pruned form of the test: Bloom pre-pass (no false negatives →
  definite-unseen rows skip the join entirely), then an exact
  ``left_anti`` join on ``url`` only for the maybe-seen minority
  (SURVEY G11/C3).
* **Deletions** (forced recrawl) need no deletable filter: re-admission
  flips the frontier row back to ``pending``, and the crawl dequeues
  pending rows without consulting the Bloom (``recrawl.force_recrawl``).

Hashing: two independent 32-bit halves of Spark's ``xxhash64(url)``
(computed JVM-side, never in Python) combined Kirsch-Mitzenmacher
style: ``idx_i = (h1 + i*h2) mod m``.
"""

from __future__ import annotations

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

    # -- core ops (vectorized numpy; the probe runs in Arrow batches) -----
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


# bitmap_construct_agg's bucket: 4 KiB = 32768 bit positions, bit b of
# the bucket at byte b >> 3, mask 1 << (b & 7) — the same LSB-first
# layout as PartitionedBloom.parts
_BUCKET_BYTES = 4096


def _bloom_buckets(
    df: DataFrame, hash_col: str, n_parts: int, bits_per_part: int, k: int,
) -> DataFrame:
    """(bucket, bitmap) rows of the filter's bit set, JVM-only.

    The parts are laid end to end as one bit set, sub-filter ``part``'s
    position ``pos`` at global bit ``g = part·bits + pos``; each hash
    explodes into its k bit numbers and ``bitmap_construct_agg`` ORs
    them into 4 KiB buckets (partial-combined per task, so the shuffle
    carries at most one filter's bytes per task, never the hashes)."""
    h = F.col(hash_col).cast("long")
    h1 = F.shiftrightunsigned(h, 32)
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF))
    base = F.pmod(h, F.lit(n_parts)) * F.lit(bits_per_part)
    # h1, h2 < 2^32, so h1 + i·h2 cannot overflow a signed long
    g1 = F.explode(F.array(*[
        base + F.pmod(h1 + h2 * F.lit(i), F.lit(bits_per_part)) + F.lit(1)
        for i in range(k)
    ]))
    return (
        df.select(g1.alias("g1"))
        .groupBy(F.bitmap_bucket_number("g1").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("g1")).alias("bitmap"))
    )


def build_bloom(
    df: DataFrame, hash_col: str = "url_hash",
    n_parts: int = 8, bits_per_part: int = 1 << 20, k: int = 5,
) -> PartitionedBloom:
    """Distributed build as one JVM aggregate (``_bloom_buckets``): the
    driver receives at most one filter's worth of 4 KiB buckets and
    copies them in.  Byte-identical to ``PartitionedBloom.add_hashes``
    over the same hashes."""
    flat = np.zeros(n_parts * (bits_per_part // 8), dtype=np.uint8)
    for row in _bloom_buckets(df, hash_col, n_parts, bits_per_part, k).collect():
        start = (int(row.bucket) - 1) * _BUCKET_BYTES
        # the last bucket may run past the filter's end (its tail is 0)
        chunk = np.frombuffer(bytes(row.bitmap), dtype=np.uint8)[: flat.size - start]
        flat[start:start + chunk.size] |= chunk
    bloom = PartitionedBloom(n_parts, bits_per_part, k)
    bloom.parts = np.split(flat, n_parts)
    return bloom


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
    """``candidates`` minus the ``url``s in ``seen``: definitely-unseen
    (Bloom negative) rows bypass the join; only the maybe-seen minority
    pays the exact ``left_anti`` backstop (SURVEY C3).  With a healthy
    FPP the anti-join side is ~|seen ∩ candidates| + ε, not |candidates|.

    The backstop joins on ``url``, not ``hash_col``: two distinct URLs
    may share a 64-bit hash (≈ n²/2⁶⁵ pairs among n URLs — about 2.7 at
    10^10), and a hash-keyed check would drop the unseen one forever.
    """
    probed = candidates.withColumn("_maybe", bloom_probe_col(spark, bloom, hash_col))
    sure_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    checked = (
        probed.filter(F.col("_maybe")).drop("_maybe")
        .join(seen.select("url"), "url", "left_anti")
    )
    return sure_new.unionByName(checked)
