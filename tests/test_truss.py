"""k-truss + max-truss golden values (FIXTURES.md §1, §3)."""

from __future__ import annotations

import pytest

from linkgraph.graph.edges import canonicalize
from linkgraph.graph.truss import k_truss, k_truss_components, max_truss
from tests.conftest import canonical_pairs, complete_graph, edge_df, path_graph

TRUSS_MINI_4TRUSS = {
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 6), (4, 7), (4, 9),
    (6, 7), (6, 9), (6, 10), (7, 8), (7, 9), (7, 10), (8, 9), (8, 10), (9, 10),
}


def test_truss_mini_3truss_all_edges(truss_mini):
    res = k_truss(truss_mini, 3)
    assert res.n_edges == 27


def test_truss_mini_4truss_18_edges(truss_mini):
    res = k_truss(truss_mini, 4)
    assert set(canonical_pairs(res.edges)) == TRUSS_MINI_4TRUSS
    assert res.n_edges == 18


def test_truss_mini_5truss_empty(truss_mini):
    assert k_truss(truss_mini, 5).n_edges == 0


def test_truss_mini_components(truss_mini):
    comp4 = k_truss_components(truss_mini, 4)
    rows = comp4.collect()
    assert len(rows) == 18
    assert {r["component"] for r in rows} == {1}


def test_small_twitter_3truss_two_components(small_twitter):
    res = k_truss(small_twitter, 3)
    assert res.n_edges == 9  # edge (3,4) peeled
    comp = k_truss_components(small_twitter, 3)
    comps = {r["component"] for r in comp.collect()}
    assert comps == {1, 4}


def test_small_twitter_4truss_k4(small_twitter):
    res = k_truss(small_twitter, 4)
    assert set(canonical_pairs(res.edges)) == {
        (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7)
    }


def test_k2_trivial(small_twitter):
    assert k_truss(small_twitter, 2).n_edges == 10


@pytest.mark.parametrize("n", [5, 6])
def test_complete_graph_truss(spark, n):
    kn = canonicalize(complete_graph(spark, n))
    assert k_truss(kn, n).n_edges == n * (n - 1) // 2
    assert k_truss(kn, n + 1).n_edges == 0


def test_path_has_no_3truss(spark):
    assert k_truss(canonicalize(path_graph(spark, 8)), 3).n_edges == 0


def test_cascading_peel(spark):
    # Triangle chain: (0,1,2),(1,2,3) share edge (1,2). 4-truss: edge
    # (0,1) has support 1 -> peeled -> kills triangle (0,1,2) -> support
    # of (1,2) drops from 2 to 1 -> everything unravels. Exercises the
    # surviving-triangle recount semantics (Truss.scala:139-146).
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    assert k_truss(canonicalize(edge_df(spark, pairs)), 4).n_edges == 0


def test_two_cliques_bridge_5truss(spark):
    # two K5s joined by one bridge: 5-truss = the two K5s, bridge peeled.
    pairs = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    pairs += [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    pairs.append((0, 10))
    comp = k_truss_components(canonicalize(edge_df(spark, pairs)), 5)
    rows = comp.collect()
    assert len(rows) == 20
    assert {r["component"] for r in rows} == {0, 10}


def test_max_truss_truss_mini(truss_mini):
    res = max_truss(truss_mini, k0=3)
    assert res.k == 4
    assert set(canonical_pairs(res.edges)) == TRUSS_MINI_4TRUSS


def test_max_truss_small_twitter(small_twitter):
    res = max_truss(small_twitter, k0=8)  # start above the answer
    assert res.k == 4
    assert len(canonical_pairs(res.edges)) == 6


@pytest.mark.parametrize("k0", [3, 6, 12])
def test_max_truss_k6_start_insensitive(spark, k0):
    # reference validation style: same answer from different starting k
    # (DBDA_Graph_Mining_Spark.pdf slide 10).
    kn = canonicalize(complete_graph(spark, 6))
    res = max_truss(kn, k0=k0)
    assert res.k == 6
    assert len(canonical_pairs(res.edges)) == 15


def test_max_truss_durable_k10(spark, tmp_path):
    """A durable checkpointer gives every probe its own job: K10 probes
    k = 4, 8, 16, 12, 10, 11, and the k = 10 probe must not resume from
    the empty k = 12 table."""
    from linkgraph.checkpoint import Checkpointer

    k10 = canonicalize(complete_graph(spark, 10))
    ckpt = Checkpointer(spark, dir=str(tmp_path), job="maxtruss")
    res = max_truss(k10, checkpointer=ckpt)
    assert res.k == 10
    assert len(canonical_pairs(res.edges)) == 45
    assert [(p["k"], p["edges"]) for p in res.probes] == [
        (4, 45), (8, 45), (16, 0), (12, 0), (10, 45), (11, 0)
    ]


def test_max_truss_reuses_probe_triangles(spark, truss_mini, monkeypatch):
    """After the first probe, binary-search probes filter the previous
    fixpoint's triangle table instead of re-enumerating wedges."""
    import linkgraph.graph.truss as truss_mod

    calls = []
    orig = truss_mod.triangles

    def counting(e, *a, **kw):
        calls.append(1)
        return orig(e, *a, **kw)

    monkeypatch.setattr(truss_mod, "triangles", counting)
    res = truss_mod.max_truss(truss_mini, k0=3)
    assert res.k == 4
    assert len(calls) == 1  # wedges enumerated exactly once per search
    assert [p["reused_triangles"] for p in res.probes].count(False) <= 1


def test_truss_decomposition_truss_mini(truss_mini):
    from linkgraph.graph.truss import truss_decomposition

    res = truss_decomposition(truss_mini)
    rows = {(r["src"], r["dst"]): r["trussness"] for r in res.trussness.collect()}
    # every input edge labeled exactly once
    assert len(rows) == 27 and res.trussness.count() == 27
    assert res.k_max == 4
    # trussness >= 4 is exactly the golden 4-truss
    assert {e for e, t in rows.items() if t >= 4} == TRUSS_MINI_4TRUSS
    # 3-truss keeps all 27 edges, so nothing has trussness 2
    assert all(t >= 3 for t in rows.values())


def test_truss_decomposition_matches_per_k_truss(spark):
    from tests.conftest import gnp_graph
    from linkgraph.graph.truss import truss_decomposition

    g = canonicalize(gnp_graph(spark, n=60, p=0.15, seed=3)).cache()
    res = truss_decomposition(g)
    rows = {(r["src"], r["dst"]): r["trussness"] for r in res.trussness.collect()}
    assert len(rows) == g.count()
    for k in (3, 4, 5):
        want = set(canonical_pairs(k_truss(g, k).edges))
        got = {e for e, t in rows.items() if t >= k}
        assert got == want, k
    assert res.k_max == max_truss(g, k0=3).k == max(rows.values())
