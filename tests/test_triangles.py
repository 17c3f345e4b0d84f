"""Golden triangle counts (FIXTURES.md §1, §3) through both triangle
paths: ``join``, the degree-oriented self-join enumerator behind
``triangles()`` (counted by rows), and ``csr``, the Arrow-CSR kernel
behind ``triangle_count()``."""

from __future__ import annotations

import math

import pytest

from linkgraph.graph.edges import canonicalize
from linkgraph.graph.triangles import edge_support, triangle_count, triangles
from tests.conftest import (
    complete_graph,
    edge_df,
    gnp_graph,
    path_graph,
    star_graph,
)

PATHS = ["join", "csr"]


def count_via(edges, path):
    return triangles(edges).count() if path == "join" else triangle_count(edges)


def brute_triangles(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = set()
    for a, b in pairs:
        for c in adj[a] & adj[b]:
            tris.add(tuple(sorted((a, b, c))))
    return tris


@pytest.mark.parametrize("path", PATHS)
def test_truss_mini_22(truss_mini, path):
    assert count_via(truss_mini, path) == 22


@pytest.mark.parametrize("path", PATHS)
def test_small_twitter_5(small_twitter, path):
    assert count_via(small_twitter, path) == 5


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("n", [5, 6, 8])
def test_complete_graph(spark, path, n):
    assert count_via(canonicalize(complete_graph(spark, n)), path) == math.comb(n, 3)


@pytest.mark.parametrize("path", PATHS)
def test_triangle_free(spark, path):
    assert count_via(canonicalize(path_graph(spark, 10)), path) == 0
    assert count_via(canonicalize(star_graph(spark, 12)), path) == 0


@pytest.mark.parametrize("path", PATHS)
def test_gnp_vs_bruteforce(spark, path):
    edges = canonicalize(gnp_graph(spark, n=120, p=0.08, seed=42))
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    expected = brute_triangles(pairs)
    if path == "csr":
        assert triangle_count(edges) == len(expected)
        return
    got = {(r["a"], r["b"], r["c"]) for r in triangles(edges).collect()}
    assert got == expected


def test_enumeration_canonical_and_distinct(truss_mini):
    rows = triangles(truss_mini).collect()
    tuples = [(r["a"], r["b"], r["c"]) for r in rows]
    assert len(tuples) == len(set(tuples)) == 22
    assert all(a < b < c for a, b, c in tuples)


def test_edge_support_sums_to_3x_triangles(truss_mini):
    tri = triangles(truss_mini)
    sup = edge_support(tri)
    total = sum(r["support"] for r in sup.collect())
    assert total == 3 * 22


def test_clustering_coefficient_complete_graph(spark):
    # K5: every vertex has lcc 1.0, degree 4, C(4,2)=6 triangles at v.
    from linkgraph.graph.triangles import clustering_coefficient

    g = canonicalize(complete_graph(spark, 5))
    rows = {r["id"]: r for r in clustering_coefficient(g).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert (r["degree"], r["n_triangles"], r["lcc"]) == (4, 6, 1.0)


def test_clustering_coefficient_vs_bruteforce(spark):
    from linkgraph.graph.triangles import clustering_coefficient

    import random

    rng = random.Random(7)
    pairs = [
        (i, j) for i in range(60) for j in range(i + 1, 60) if rng.random() < 0.15
    ]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for v, nb in adj.items():
        d = len(nb)
        t = sum(len(adj[x] & nb) for x in nb) // 2
        expect[v] = (d, t, 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0)
    g = canonicalize(edge_df(spark, pairs))
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["lcc"])
        for r in clustering_coefficient(g).collect()
    }
    assert set(got) == set(expect)
    for v in expect:
        assert got[v][:2] == expect[v][:2]
        assert math.isclose(got[v][2], expect[v][2], abs_tol=1e-12)


# ------------------------------------------- in-kernel exact close (round 4)


def test_kernel_count_golden(truss_mini, small_twitter):
    # in-kernel exact close: count-only CSR kernel, no close join
    assert triangle_count(truss_mini) == 22
    assert triangle_count(small_twitter) == 5


def test_kernel_count_vs_bruteforce(spark):
    edges = canonicalize(gnp_graph(spark, n=120, p=0.08, seed=42))
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    assert triangle_count(edges) == len(brute_triangles(pairs))


def test_kernel_count_with_bloom_prefilter(spark, monkeypatch):
    """Forcing the broadcast limit to 0 takes the scale path (Bloom
    fused into the kernel, pre-aggregated pairs, residual join); the
    count must stay exact (the Bloom only pre-drops)."""
    import linkgraph.graph.triangles as T

    edges = canonicalize(gnp_graph(spark, n=100, p=0.1, seed=3))
    want = triangle_count(edges)
    monkeypatch.setattr(T, "_BROADCAST_EDGE_LIMIT", 0)
    assert T.triangle_count(edges) == want


def test_exact_close_mask_hash_windows():
    """Collision-window handling: duplicate hash keys in the sorted
    edge set must still verify endpoints exactly."""
    import numpy as np

    from linkgraph import bloom as B
    from linkgraph.graph.triangles import _exact_close_mask

    edges = [(1, 2), (3, 4), (5, 6)]
    b = np.array([e[0] for e in edges], dtype=np.int64)
    c = np.array([e[1] for e in edges], dtype=np.int64)
    h = B.xxhash64_longs([b, c])
    # duplicate every hash (simulated collision windows of width 2)
    H = np.repeat(h, 2)
    LO = np.repeat(b, 2)
    HI = np.repeat(c, 2)
    order = np.argsort(H, kind="stable")
    es = (H[order], LO[order], HI[order])
    probe_b = np.array([1, 3, 5, 1, 9], dtype=np.int64)
    probe_c = np.array([2, 4, 6, 7, 9], dtype=np.int64)
    got = _exact_close_mask(es, probe_b, probe_c)
    assert got.tolist() == [True, True, True, False, False]


# ------------------------------------------------------- incremental delta


def test_delta_triangles_equals_recount_diff(spark):
    import random

    from linkgraph.graph.triangles import delta_triangles, triangles
    from tests.conftest import edge_df

    rng = random.Random(99)
    all_pairs = [
        (i, j) for i in range(40) for j in range(i + 1, 40) if rng.random() < 0.12
    ]
    base = [p for p in all_pairs if rng.random() < 0.8]
    delta = [p for p in all_pairs if p not in base]
    tri_of = lambda df: {
        (r["a"], r["b"], r["c"]) for r in triangles(df).select("a", "b", "c").collect()
    }
    t_base = tri_of(edge_df(spark, base))
    t_union = tri_of(edge_df(spark, all_pairs))
    got = {
        (r["a"], r["b"], r["c"])
        for r in delta_triangles(edge_df(spark, base), edge_df(spark, delta)).collect()
    }
    assert got == t_union - t_base
    assert len(t_base) + len(got) == len(t_union)


def test_delta_triangles_dedupes_and_ignores_existing(spark):
    from linkgraph.graph.triangles import delta_triangles
    from tests.conftest import edge_df

    base = [(1, 2)]
    # two new edges close ONE triangle (counted once, not twice); the
    # duplicate delta row and the already-present (1,2) must be ignored
    delta = [(1, 3), (2, 3), (2, 3), (1, 2)]
    got = delta_triangles(edge_df(spark, base), edge_df(spark, delta)).collect()
    assert {(r["a"], r["b"], r["c"]) for r in got} == {(1, 2, 3)}
    # delta entirely inside existing edges: nothing new
    none = delta_triangles(edge_df(spark, [(1, 2), (1, 3), (2, 3)]),
                           edge_df(spark, [(1, 2)])).collect()
    assert none == []


def test_delta_triangles_fallback_close(spark, monkeypatch):
    """Past the wedge-broadcast limit the shared _close_wedges path
    must produce the same result."""
    import random

    import linkgraph.graph.triangles as T
    from tests.conftest import edge_df

    rng = random.Random(5)
    pairs = [
        (i, j) for i in range(30) for j in range(i + 1, 30) if rng.random() < 0.25
    ]
    base = pairs[: len(pairs) * 3 // 4]
    delta = pairs[len(pairs) * 3 // 4 :]
    want = {
        (r["a"], r["b"], r["c"])
        for r in T.delta_triangles(edge_df(spark, base), edge_df(spark, delta)).collect()
    }
    monkeypatch.setattr(T, "_BROADCAST_EDGE_LIMIT", 0)
    got = {
        (r["a"], r["b"], r["c"])
        for r in T.delta_triangles(edge_df(spark, base), edge_df(spark, delta)).collect()
    }
    assert got == want and want


def test_kernel_count_scale_path_unpacked_ids(spark, monkeypatch):
    """Vertex ids past 2^31 disable the packed single-int64 join key;
    the (b, c, m) fallback of the pre-aggregated residual close must
    stay exact (round-5 scale-path change)."""
    import linkgraph.graph.triangles as T

    edges = canonicalize(gnp_graph(spark, n=100, p=0.1, seed=3))
    want = triangle_count(edges)
    base = 1 << 33  # shifting both endpoints preserves canonical order
    shifted = edges.selectExpr(f"src + {base}L as src", f"dst + {base}L as dst")
    monkeypatch.setattr(T, "_BROADCAST_EDGE_LIMIT", 0)
    assert T.triangle_count(shifted) == want


def test_agg_pairs_batch_unit():
    """Pure-NumPy contract of the end-of-partition pair aggregation:
    multiplicities sum to the input size, keys are distinct, packed and
    unpacked forms agree, empties produce empty batches."""
    import numpy as np

    from linkgraph.graph.triangles import _agg_pairs_batch

    b = np.array([5, 3, 5, 3, 5, 7], dtype=np.int64)
    c = np.array([9, 4, 9, 4, 1, 2], dtype=np.int64)
    packed = _agg_pairs_batch([b], [c], pack=True)
    k = packed.column(0).to_numpy(zero_copy_only=False)
    m = packed.column(1).to_numpy(zero_copy_only=False)
    assert m.sum() == b.size and len(set(k.tolist())) == len(k)
    want = {(3 << 32) | 4: 2, (5 << 32) | 9: 2, (5 << 32) | 1: 1, (7 << 32) | 2: 1}
    assert dict(zip(k.tolist(), m.tolist())) == want
    unpacked = _agg_pairs_batch([b], [c], pack=False)
    bb = unpacked.column(0).to_numpy(zero_copy_only=False)
    cc = unpacked.column(1).to_numpy(zero_copy_only=False)
    mm = unpacked.column(2).to_numpy(zero_copy_only=False)
    assert dict(zip(((x << 32) | y for x, y in zip(bb, cc)), mm.tolist())) == want
    for pack in (True, False):
        e = _agg_pairs_batch([], [], pack=pack)
        assert e.num_rows == 0

