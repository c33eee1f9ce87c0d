"""Property-based tests (hypothesis) for the pure-Python kernels the
distributed operators are built on."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from fide_crawler_spark.fixtures import parse_page, render_page, synth_spans
from fide_crawler_spark.operators.urlseen import PartitionedBloom

hashes = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=300
)


@settings(max_examples=50, deadline=None)
@given(hashes)
def test_bloom_never_false_negative(hs):
    bf = PartitionedBloom(n_parts=4, bits_per_part=1 << 12, k=3)
    arr = np.array(hs, dtype=np.uint64)
    bf.add_hashes(arr)
    assert bf.might_contain(arr).all()


@settings(max_examples=50, deadline=None)
@given(hashes)
def test_bloom_serialization_preserves_membership(hs):
    bf = PartitionedBloom(n_parts=2, bits_per_part=1 << 10, k=2)
    arr = np.array(hs, dtype=np.uint64)
    bf.add_hashes(arr)
    bf2 = PartitionedBloom.from_bytes(bf.to_bytes())
    assert (bf.might_contain(arr) == bf2.might_contain(arr)).all()


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126),
               min_size=1, max_size=60))
def test_render_parse_roundtrip(doc_id):
    spans = synth_spans(doc_id)
    parsed = parse_page(render_page(doc_id))
    assert parsed == [(s.kind, s.text, s.media_ref, s.offset) for s in spans]
    # offsets are exactly 0..n-1 (order is a data property)
    assert [p[3] for p in parsed] == list(range(len(parsed)))


@settings(max_examples=20, deadline=None)
@given(st.text(min_size=1, max_size=40), st.integers(min_value=1, max_value=4))
def test_synth_spans_deterministic_and_weight_scales(doc_id, w):
    a = synth_spans(doc_id, w)
    b = synth_spans(doc_id, w)
    assert a == b
    # weight multiplies block count → strictly more spans than weight 1
    if w > 1:
        assert len(a) > len(synth_spans(doc_id, 1))


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=16),
)
def test_sequence_packing_formula_equals_token_walk(counts, L):
    """The closed-form piece layout pack_sequences computes per doc
    (seqs floor(off/L)..floor((off+n-1)/L), boundary clips) must equal
    a token-by-token walk of the global axis — an independent oracle
    with no shared arithmetic."""
    # formula (the operator's per-row expressions)
    off, formula = 0, []
    for d, n in enumerate(counts):
        for s in range(off // L, (off + max(n - 1, 0)) // L + 1):
            ps = max(s * L - off, 0)
            pe = min((s + 1) * L - off, n)
            formula.append((d, s, max(off - s * L, 0), ps, pe - ps))
        off += n
    # walk: assign every token to its sequence, pieces = contiguous runs
    walk, pos = [], 0
    for d, n in enumerate(counts):
        runs: dict[int, list[int]] = {}
        for t in range(n):
            runs.setdefault((pos + t) // L, []).append(t)
        if n == 0:
            runs[pos // L] = []
        for s in sorted(runs):
            toks = runs[s]
            start = toks[0] if toks else 0
            walk.append(
                (d, s, (pos + start) % L if toks else pos % L,
                 start, len(toks))
            )
        pos += n
    assert formula == walk


@settings(max_examples=50, deadline=None)
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=30)),
    min_size=0, max_size=60,
))
def test_union_find_equals_bfs_components(pairs):
    """The driver union-find finisher (cluster.py) vs an independent
    BFS labeling: identical min-label components on arbitrary graphs
    (self-loops, duplicates, reversed edges included)."""
    from collections import defaultdict, deque

    from fide_crawler_spark.operators.cluster import _driver_union_find

    got = _driver_union_find(pairs)
    adj = defaultdict(set)
    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        adj[a].add(b)
        adj[b].add(a)
    want, seen = {}, set()
    for n in sorted(nodes):
        if n in seen:
            continue
        comp, q = [], deque([n])
        seen.add(n)
        while q:
            x = q.popleft()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        root = min(comp)
        for x in comp:
            want[x] = root
    assert got == want
