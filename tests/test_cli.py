"""CLI mode dispatch parity (reference GraphMiningSpark.scala:43-94)."""

from __future__ import annotations

import argparse

import pytest

from linkgraph.cli import run
from tests.conftest import TRUSS_MINI


@pytest.fixture(scope="module")
def mini_txt(tmp_path_factory):
    p = tmp_path_factory.mktemp("cli") / "trussMini.txt"
    p.write_text("".join(f"{a}\t{b}\n" for a, b in TRUSS_MINI))
    return str(p)


def _args(mode, inp, **kw):
    return argparse.Namespace(
        mode=mode,
        input=inp,
        output="",
        sep="TAB",
        partitions=kw.get("partitions", 0),
        k=kw.get("k", 4),
        max_iter=kw.get("max_iter", 20),
        sources=kw.get("sources"),
    )


def test_triangle_modes_agree(spark, mini_txt):
    counts = {
        m: run(_args(m, mini_txt), spark).count()
        for m in ("triangle", "triangleNoSpark")
    }
    assert set(counts.values()) == {22}


def test_truss_mode(spark, mini_txt):
    out = run(_args("truss", mini_txt, k=4), spark)
    assert out.count() == 18
    assert set(out.columns) == {"component", "src", "dst"}


def test_maxtruss_mode(spark, mini_txt):
    out = run(_args("maxtruss", mini_txt, k=3), spark)
    assert out.count() == 18  # max-k = 4 -> the 4-truss edges


def test_histo_and_pagerank_modes(spark, mini_txt):
    histo = run(_args("histo", mini_txt), spark)
    assert set(r["direction"] for r in histo.collect()) == {"in", "out", "total"}
    pr = run(_args("pagerank", mini_txt), spark)
    assert abs(sum(r["rank"] for r in pr.collect()) - 1.0) < 1e-6


def test_round2_continuation_modes(spark, mini_txt):
    bc = run(_args("betweenness", mini_txt, sources="1,4"), spark)
    assert set(bc.columns) == {"id", "betweenness"}
    assert bc.count() > 0
    kz = run(_args("katz", mini_txt), spark)
    assert set(kz.columns) == {"id", "katz"}
    assert all(r["katz"] >= 1.0 for r in kz.collect())
    mis = run(_args("mis", mini_txt), spark)
    assert mis.count() >= 1
    col = run(_args("coloring", mini_txt), spark)
    assert set(col.columns) == {"id", "color"}
    assert col.count() == 10
    lay = run(_args("layers", mini_txt), spark)
    assert set(lay.columns) == {"id", "layer"}
    mod = run(_args("modularity", mini_txt), spark)
    assert "modularity_term" in mod.columns


def test_new_round2_modes(spark, mini_txt):
    h = run(_args("hits", mini_txt), spark)
    assert set(h.columns) == {"id", "hub", "auth"}
    assert abs(sum(r["hub"] ** 2 for r in h.collect()) - 1.0) < 1e-9
    lp = run(_args("linkpred", mini_txt, k=1), spark)
    assert set(lp.columns) == {"u", "v", "common_neighbors", "jaccard", "adamic_adar"}
    assert lp.count() > 0
    bfs = run(_args("bfs", mini_txt, sources="1"), spark)
    got = {(r["root"], r["id"]): r["dist"] for r in bfs.collect()}
    assert got[(1, 1)] == 0 and all(d >= 0 for d in got.values())


def test_round2b_modes(spark, mini_txt):
    td = run(_args("trussdecomp", mini_txt), spark)
    rows = {(r["src"], r["dst"]): r["trussness"] for r in td.collect()}
    assert len(rows) == 27 and max(rows.values()) == 4
    hb = run(_args("hyperball", mini_txt, k=4, max_iter=8), spark)
    assert set(hb.columns) == {"id", "t", "est"}
    assert hb.count() > 0
    cg = run(_args("contract", mini_txt), spark)
    assert set(cg.columns) == {"label_a", "label_b", "n_edges"}
    # trussMini is connected: one supernode, all 27 edges internal
    assert [(r["label_a"], r["label_b"], r["n_edges"]) for r in cg.collect()] == [
        (1, 1, 27)
    ]


def test_msf_mode(spark, mini_txt):
    f = run(_args("msf", mini_txt), spark)
    # trussMini is connected with 10 vertices -> spanning tree of 9 edges
    assert f.count() == 9


def test_localcluster_mode(spark, mini_txt):
    sw = run(_args("localcluster", mini_txt, sources="1"), spark)
    assert {"pos", "id", "volume", "cut_edges", "conductance"} <= set(sw.columns)
    assert sw.count() > 0


def test_louvain_mode(spark, mini_txt):
    labels = run(_args("louvain", mini_txt, k=2, max_iter=4), spark)
    rows = labels.collect()
    assert len(rows) == 10  # one row per trussMini vertex
    # canonical labels: each community labelled by its min member
    got = {r["id"]: r["label"] for r in rows}
    for comm in set(got.values()):
        assert comm == min(v for v, c in got.items() if c == comm)


def test_dicensus_mode(spark, mini_txt):
    out = run(_args("dicensus", mini_txt), spark)
    rows = {r["ttype"]: r["n_triangles"] for r in out.collect()}
    assert sum(rows.values()) == 22  # trussMini triangle count
    assert set(rows) <= {
        "cyclic", "transitive", "one_mutual_source", "one_mutual_sink",
        "one_mutual_flow", "two_mutual", "all_mutual",
    }


def test_approxtri_mode(spark, mini_txt):
    exact = run(_args("approxtri", mini_txt, k=1), spark).collect()[0]
    assert exact["sampled_triangles"] == exact["est_triangles"] == 22
    sampled = run(_args("approxtri", mini_txt, k=2), spark).collect()[0]
    assert sampled["sampled_edges"] < exact["sampled_edges"]
    assert sampled["est_triangles"] == sampled["sampled_triangles"] * 8.0


def test_round2c_modes(spark, mini_txt):
    sal = run(_args("salsa", mini_txt, max_iter=5), spark)
    assert set(sal.columns) == {"id", "hub", "auth"}
    assert abs(sum(r["auth"] for r in sal.collect()) - 1.0) < 1e-9
    cc = run(_args("cocite", mini_txt, k=1), spark)
    assert set(cc.columns) == {"a", "b", "cocitations", "cosine"}
    assert cc.count() > 0
    bc = run(_args("coupling", mini_txt, k=1), spark)
    assert set(bc.columns) == {"a", "b", "couplings", "cosine"}
    sp = run(_args("sparsify", mini_txt), spark)
    assert set(sp.columns) == {"src", "dst", "common", "jaccard"}
    assert 0 < sp.count() <= 27
    dy = run(_args("dyads", mini_txt), spark).collect()[0]
    assert dy["mutual"] == 0 and dy["asymmetric"] == 27
    cond = run(_args("conductance", mini_txt, max_iter=10), spark)
    assert set(cond.columns) == {"label", "cut_edges", "volume", "conductance"}
    rm = run(_args("rmat", "-", k=6), spark)
    assert rm.count() == 16 * 64
    assert set(rm.columns) == {"src", "dst"}
    fv = run(_args("fiedler", mini_txt, max_iter=8), spark)
    assert set(fv.columns) == {"id", "fiedler"}
    vals = [r["fiedler"] for r in fv.collect()]
    assert abs(sum(v * v for v in vals) - 1.0) < 1e-9
