"""Unit tests for the Bloom URL-seen structure (no Spark)."""

from __future__ import annotations

import numpy as np

from fide_crawler_spark.operators.urlseen import PartitionedBloom


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

