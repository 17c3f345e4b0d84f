"""Blocked Bloom pre-filter: NumPy xxhash64 parity with the JVM, the
filter's own contract, and triangle parity with the Bloom path forced on.

The probe recomputes Catalyst's xxhash64 over longs bit-for-bit — the
parity test here is the contract that keeps the NumPy side honest
against the JVM build side.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import linkgraph.graph.triangles as tri_mod
from linkgraph.bloom import xxhash64_longs
from tests.conftest import gnp_graph

from linkgraph.graph.edges import canonicalize


@pytest.fixture(scope="module")
def pairs(spark):
    rng = np.random.default_rng(11)
    a = rng.integers(-(2**62), 2**62, 2000, dtype=np.int64)
    b = rng.integers(-(2**62), 2**62, 2000, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
    )
    return a, b, df


def test_xxhash64_matches_jvm(pairs):
    a, b, df = pairs
    jvm = np.array(
        [r[0] for r in df.select(F.xxhash64("a", "b")).collect()], dtype=np.int64
    )
    assert np.array_equal(jvm, xxhash64_longs([a, b]).view(np.int64))
    jvm1 = np.array(
        [r[0] for r in df.select(F.xxhash64("a")).collect()], dtype=np.int64
    )
    assert np.array_equal(jvm1, xxhash64_longs([a]).view(np.int64))


def test_triangles_bloom_path_parity(spark, monkeypatch):
    """Past the broadcast limit both triangle paths pre-filter with the
    closing-key Bloom filter. At 1 bit/key on a few thousand edges the
    filter passes many non-closing wedges; the exact close must remove
    every one of them."""
    graph = canonicalize(gnp_graph(spark, n=300, p=0.06, seed=5)).cache()
    want = sorted(map(tuple, tri_mod.triangles(graph).collect()))
    want_n = tri_mod.triangle_count(graph)
    assert want_n == len(want) > 0
    monkeypatch.setattr(tri_mod, "_BROADCAST_EDGE_LIMIT", 0)
    monkeypatch.setattr(tri_mod, "_BLOOM_BITS_PER_KEY", 1)
    oriented = tri_mod._oriented(graph).localCheckpoint(eager=True)
    n_edges = oriented.count()
    assert n_edges > 2000
    state = tri_mod._close_filter_state(oriented, n_edges)
    probed = tri_mod._wedges_join(oriented, n_edges).mapInArrow(
        tri_mod._bloom_probe(state), tri_mod._WEDGE_SCHEMA
    )
    assert probed.count() > len(want)  # false positives reach the close
    assert sorted(map(tuple, tri_mod.triangles(graph).collect())) == want
    pairs = tri_mod._wedges_csr(oriented, bloom_state=state, pack_pairs=True)
    assert pairs.agg(F.sum("m")).first()[0] > len(want)
    assert tri_mod.triangle_count(graph) == want_n
    graph.unpersist()


def test_blocked_bloom_no_false_negatives_and_fpp(spark):
    import numpy as np

    from linkgraph import bloom as B
    from linkgraph import mmapshare

    n = 200_000
    df = spark.range(n).selectExpr("id as lo", "id * 7 + 3 as hi")
    state = B.build_blocked_bloom(df, ["lo", "hi"], n, bits_per_key=16)
    lo = np.arange(n, dtype=np.int64)
    hi = lo * 7 + 3
    h = B.xxhash64_longs([lo, hi])
    assert B.blocked_contains(state, h).all()  # zero false negatives
    # disjoint non-keys: measured fpp must be near the design point
    lo2 = np.arange(n, 2 * n, dtype=np.int64)
    hi2 = lo2 * 11 + 5
    h2 = B.xxhash64_longs([lo2, hi2])
    fpp = float(B.blocked_contains(state, h2).mean())
    assert fpp < 0.02, fpp
    mmapshare._CACHE.clear()


def test_blocked_bloom_idx_mask_properties():
    import numpy as np

    from linkgraph.bloom import _BB_K, _bb_idx_mask

    h = np.random.default_rng(7).integers(0, 2**63, size=10_000).astype(
        np.uint64
    )
    idx, mask = _bb_idx_mask(h, 4096)
    assert idx.min() >= 0 and idx.max() < 4096
    # masks have between 1 and K bits set (chunk collisions allowed)
    bits = np.array([bin(int(m)).count("1") for m in mask])
    assert bits.min() >= 1 and bits.max() <= _BB_K
    # deterministic
    idx2, mask2 = _bb_idx_mask(h, 4096)
    assert (idx == idx2).all() and (mask == mask2).all()


def test_stage_array_content_addressed_reuse(spark):
    """Round-5 mmapshare change: staging identical content twice
    returns the same name without accruing staged bytes; different
    content stages fresh."""
    import numpy as np

    from linkgraph import mmapshare

    a = np.arange(1000, dtype=np.int64).reshape(2, 500)
    before = mmapshare.staged_bytes()
    n1 = mmapshare.stage_array(spark.sparkContext, a, prefix="t_reuse")
    mid = mmapshare.staged_bytes()
    n2 = mmapshare.stage_array(spark.sparkContext, a.copy(), prefix="t_reuse")
    assert n1 == n2
    assert mmapshare.staged_bytes() == mid == before + a.nbytes
    b = a + 1
    n3 = mmapshare.stage_array(spark.sparkContext, b, prefix="t_reuse")
    assert n3 != n1
    assert mmapshare.staged_bytes() == mid + b.nbytes
    # empty arrays stage without error (memoryview cast edge case)
    e = np.empty((3, 0), dtype=np.int64)
    n4 = mmapshare.stage_array(spark.sparkContext, e, prefix="t_reuse")
    assert n4 != n3
