"""Force the at-scale code paths and assert parity with the small-scale
defaults.

The engine switches plans on size thresholds that small fixtures
never cross: PageRank/LPA broadcast the per-vertex state only while
|V| <= 5M (past it: co-partitioned shuffle join), and the triangle
close join broadcasts the oriented edges only while |E| <= 20M (past
it: shuffled hash join with AQE skew splitting). These are exactly the
paths a 1e9-edge run takes, so each is pinned here by monkeypatching
the threshold to 0 and asserting bit-identical results against the
broadcast-mode run on the same graph.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import linkgraph.graph.labelprop as lpa_mod
import linkgraph.graph.pagerank as pr_mod
import linkgraph.graph.triangles as tri_mod
from tests.conftest import TRUSS_MINI, edge_df

from linkgraph.graph.edges import canonicalize


@pytest.fixture()
def graph(spark):
    return canonicalize(edge_df(spark, TRUSS_MINI))


def _ranks(res):
    return {r["id"]: round(r["rank"], 9) for r in res.ranks.collect()}


def test_pagerank_shuffle_mode_matches_broadcast(spark, graph, monkeypatch):
    small = pr_mod.pagerank(graph, max_iter=15, tol=0.0)
    monkeypatch.setattr(pr_mod, "_BROADCAST_STATE_LIMIT", 0)
    big = pr_mod.pagerank(graph, max_iter=15, tol=0.0)
    assert _ranks(small) == _ranks(big)
    assert abs(sum(_ranks(big).values()) - 1.0) < 1e-9


def test_lpa_shuffle_mode_matches_broadcast(spark, graph, monkeypatch):
    small = lpa_mod.label_propagation(graph, max_iter=10)
    monkeypatch.setattr(lpa_mod, "_BROADCAST_LABELS_LIMIT", 0)
    big = lpa_mod.label_propagation(graph, max_iter=10)
    assert sorted(map(tuple, small.labels.collect())) == sorted(
        map(tuple, big.labels.collect())
    )


def test_triangle_close_shuffle_mode_matches_broadcast(spark, graph, monkeypatch):
    want = sorted(map(tuple, tri_mod.triangles(graph).collect()))
    # Past the broadcast limit but under the SHJ build gate: the close
    # join takes the forced shuffle_hash path.
    monkeypatch.setattr(tri_mod, "_BROADCAST_EDGE_LIMIT", 0)
    got = sorted(map(tuple, tri_mod.triangles(graph).collect()))
    assert got == want and len(got) == 22
    # Past BOTH gates: the 1e9-edge plan — oriented table repartitioned
    # to a count that bounds the hash build, wedge stream hashed, and no
    # SortMergeJoin anywhere (the wedge side must never be sorted).
    monkeypatch.setattr(tri_mod, "_SHJ_BUILD_ROWS_LIMIT", 0)
    tri = tri_mod.triangles(graph)
    got = sorted(map(tuple, tri.collect()))
    assert got == want and len(got) == 22
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tri.explain("formatted")
    assert "SortMergeJoin" not in buf.getvalue()


def test_bucketed_checkpoint_join_is_exchange_free_on_state(spark, tmp_path):
    """A bucketed superstep table (bucket count == shuffle partitions)
    joins an equally-partitioned cached relation with ZERO Exchange —
    the shuffle-mode fix for the per-round O(|V|) state re-shuffle. The
    plain-parquet control shows the Exchange the bucketing removes."""
    from linkgraph.checkpoint import Checkpointer

    state = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    links = (
        spark.range(5000)
        .select((F.col("id") % 1000).alias("src"))
        .repartition("src")
        .persist()
    )
    links.count()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan_of(right):
            j = links.join(right, links["src"] == right["id"])
            j.collect()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            return buf.getvalue()

        ck = Checkpointer(spark, dir=str(tmp_path), job="bk")
        bucketed = ck.save(state, 1, bucket_cols=["id"])
        assert ck.history[-1]["bucket"]["cols"] == ["id"]
        plain = ck.save(state, 2)
        # Join-inserted exchanges are tagged ENSURE_REQUIREMENTS (the
        # links cache's own one-time REPARTITION_BY_COL build exchange
        # is displayed inline in both plans and is not per-round cost).
        assert "ENSURE_REQUIREMENTS" in plan_of(plain)   # parquet reshuffles
        assert "ENSURE_REQUIREMENTS" not in plan_of(bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        links.unpersist()


def test_pagerank_bucketed_shuffle_checkpoints_match(spark, graph, tmp_path, monkeypatch):
    from linkgraph.checkpoint import Checkpointer

    monkeypatch.setattr(pr_mod, "_BROADCAST_STATE_LIMIT", 0)
    want = pr_mod.pagerank(graph, max_iter=8, tol=0.0)
    ck = Checkpointer(spark, dir=str(tmp_path), job="pr_bk")
    got = pr_mod.pagerank(graph, max_iter=8, tol=0.0, checkpointer=ck)
    assert _ranks(want) == _ranks(got)
    assert any(h.get("bucket") for h in ck.history)


def test_lpa_bucketed_shuffle_checkpoints_match(spark, graph, tmp_path, monkeypatch):
    from linkgraph.checkpoint import Checkpointer

    monkeypatch.setattr(lpa_mod, "_BROADCAST_LABELS_LIMIT", 0)
    want = lpa_mod.label_propagation(graph, max_iter=8)
    ck = Checkpointer(spark, dir=str(tmp_path), job="lpa_bk")
    got = lpa_mod.label_propagation(graph, max_iter=8, checkpointer=ck)
    assert sorted(map(tuple, want.labels.collect())) == sorted(
        map(tuple, got.labels.collect())
    )
    assert any(h.get("bucket") for h in ck.history)


def test_windowed_triangle_close_shuffle_mode_matches_broadcast(
    spark, graph, monkeypatch
):
    """Fleet (windowed) triangle close past the broadcast limit: same
    gating as the single-graph path with the window id in every key —
    bounded shuffled-hash build, the windowed wedge stream is hashed,
    never sorted (round-2 verdict item)."""
    import linkgraph.graph.temporal as tmp_mod

    fleet = graph.select(
        (F.col("src") % 2).cast("int").alias("win"), "src", "dst"
    ).unionByName(
        graph.select(F.lit(2).cast("int").alias("win"), "src", "dst")
    )
    want = sorted(
        map(tuple, tmp_mod.windowed_triangle_counts(fleet, "win").collect())
    )
    monkeypatch.setattr(tri_mod, "_BROADCAST_EDGE_LIMIT", 0)
    monkeypatch.setattr(tri_mod, "_SHJ_BUILD_ROWS_LIMIT", 0)
    wt = tmp_mod.windowed_triangle_counts(fleet, "win")
    got = sorted(map(tuple, wt.collect()))
    assert got == want
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        wt.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
