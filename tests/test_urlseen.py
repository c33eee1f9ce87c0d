"""Unit tests for the Bloom URL-seen structure, its JVM build and the
exact backstop."""

from __future__ import annotations

import numpy as np
import pytest

from fide_crawler_spark.operators.urlseen import (
    PartitionedBloom,
    _bloom_buckets,
    build_bloom,
    filter_unseen,
)
from fide_crawler_spark.plans import formatted_plan


def _hashes(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)


def test_bloom_no_false_negatives():
    bf = PartitionedBloom(n_parts=4, bits_per_part=1 << 16, k=5)
    added = _hashes(5000, 1)
    bf.add_hashes(added)
    assert bf.might_contain(added).all()


def test_bloom_low_false_positive_rate():
    bf = PartitionedBloom(n_parts=4, bits_per_part=1 << 18, k=5)
    bf.add_hashes(_hashes(10000, 2))
    other = _hashes(10000, 3)
    fpp = bf.might_contain(other).mean()
    assert fpp < 0.02, f"fpp too high: {fpp}"


def test_bloom_roundtrip_and_merge():
    a = PartitionedBloom(n_parts=4, bits_per_part=1 << 14, k=3)
    b = PartitionedBloom(n_parts=4, bits_per_part=1 << 14, k=3)
    ha, hb = _hashes(100, 4), _hashes(100, 5)
    a.add_hashes(ha)
    b.add_hashes(hb)
    a2 = PartitionedBloom.from_bytes(a.to_bytes())
    assert a2.might_contain(ha).all()
    a2.merge(b)
    assert a2.might_contain(hb).all()


@pytest.mark.parametrize(
    "n_parts,bits,k",
    # the last two filters are smaller than one 4 KiB bitmap bucket
    [(8, 1 << 20, 5), (4, 1 << 14, 3), (2, 1 << 10, 2), (4, 1 << 12, 3)],
)
def test_build_bloom_matches_add_hashes(spark, n_parts, bits, k):
    """The JVM build sets exactly add_hashes' bits: same blob bytes."""
    hs = _hashes(3000, 6).astype(np.int64)
    hs[::2] = -hs[::2]  # both signs of the 64-bit pattern
    df = spark.createDataFrame([(int(h),) for h in hs], "url_hash long")
    ref = PartitionedBloom(n_parts, bits, k)
    ref.add_hashes(hs.astype(np.uint64))
    assert build_bloom(df, "url_hash", n_parts, bits, k).to_bytes() == ref.to_bytes()


def test_build_bloom_plan_has_no_python(spark):
    df = spark.createDataFrame([(1,), (-2,)], "url_hash long")
    plan = formatted_plan(_bloom_buckets(df, "url_hash", 8, 1 << 20, 5))
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_filter_unseen_backstop_keys_on_url(spark):
    """Two distinct URLs share a url_hash, one fetched and one
    discovered: the Bloom says maybe-seen for both, and the exact
    backstop must still admit the discovered one (a hash-keyed backstop
    would drop it forever)."""
    h = 123456789
    bloom = PartitionedBloom(4, 1 << 12, 3)
    bloom.add_hashes(np.array([h], dtype=np.uint64))
    seen = spark.createDataFrame([("https://a", h)], "url string, url_hash long")
    candidates = spark.createDataFrame(
        [("https://a", h), ("https://b", h)], "url string, url_hash long"
    )
    got = filter_unseen(spark, candidates, seen, bloom)
    assert [r["url"] for r in got.collect()] == ["https://b"]
