"""Directed triangle census (complete-triad classification).

Extends the reference's undirected triangle enumeration
(graph-mining-spark Triangle.scala — see triangles.py) to DIRECTED
graphs: every triangle of the underlying undirected graph is classified
by the orientation pattern of its three dyads, i.e. the complete-triad
half of the Davis–Leinhardt triad census (Holland & Leinhardt 1976).
Types (descriptive names; MAN codes in parentheses):

  cyclic            a→b→c→a                          (030C)
  transitive        no mutual dyad, not a cycle       (030T)
  one_mutual_source the non-dyad vertex points at both dyad ends (120D)
  one_mutual_sink   both dyad ends point at the non-dyad vertex  (120U)
  one_mutual_flow   one in, one out                   (120C)
  two_mutual        exactly two mutual dyads          (210)
  all_mutual        all three dyads mutual            (300)

Plan shape: the expensive part IS the audited undirected enumeration
(degree-ordered wedges — triangles.py); classification adds three
broadcast-or-co-keyed equi-joins of the triangle table against the
per-dyad state table (one row per undirected edge: F = lo→hi only,
R = hi→lo only, M = both) and one whole-stage-codegen CASE — no new
shuffle shapes, no Python. The classifier is a single SQL CASE
expression shared verbatim with the DuckDB oracle (`CLASSIFY_SQL`),
so the cross-engine contract is the expression itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph.triangles import triangles

# Dyad states for the sorted pairs (a,b), (b,c), (a,c) of a triangle
# a < b < c: 'F' = lo→hi only, 'R' = hi→lo only, 'M' = mutual.
# Shared verbatim between F.expr and the DuckDB oracle.
CLASSIFY_SQL = """CASE
WHEN s_ab = 'M' AND s_bc = 'M' AND s_ac = 'M' THEN 'all_mutual'
WHEN CAST(s_ab = 'M' AS INT) + CAST(s_bc = 'M' AS INT)
     + CAST(s_ac = 'M' AS INT) = 2 THEN 'two_mutual'
WHEN s_ab = 'M' THEN
  CASE WHEN s_bc = 'R' AND s_ac = 'R' THEN 'one_mutual_source'
       WHEN s_bc = 'F' AND s_ac = 'F' THEN 'one_mutual_sink'
       ELSE 'one_mutual_flow' END
WHEN s_bc = 'M' THEN
  CASE WHEN s_ab = 'F' AND s_ac = 'F' THEN 'one_mutual_source'
       WHEN s_ab = 'R' AND s_ac = 'R' THEN 'one_mutual_sink'
       ELSE 'one_mutual_flow' END
WHEN s_ac = 'M' THEN
  CASE WHEN s_ab = 'R' AND s_bc = 'F' THEN 'one_mutual_source'
       WHEN s_ab = 'F' AND s_bc = 'R' THEN 'one_mutual_sink'
       ELSE 'one_mutual_flow' END
WHEN s_ab = 'F' AND s_bc = 'F' AND s_ac = 'R' THEN 'cyclic'
WHEN s_ab = 'R' AND s_bc = 'R' AND s_ac = 'F' THEN 'cyclic'
ELSE 'transitive' END"""


def _dyad_states(dedges: DataFrame) -> DataFrame:
    """(lo, hi, s): one row per undirected support edge with its
    orientation state. Self-loops are dropped (a triangle has none);
    duplicate directed edges collapse in the map-side-combinable agg."""
    e = dedges.where(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            (F.col("src") < F.col("dst")).alias("isf"),
        )
        .groupBy("lo", "hi")
        .agg(
            F.max(F.when(F.col("isf"), 1).otherwise(0)).alias("f"),
            F.max(F.when(~F.col("isf"), 1).otherwise(0)).alias("r"),
        )
        .select(
            "lo", "hi",
            F.when((F.col("f") == 1) & (F.col("r") == 1), "M")
            .when(F.col("f") == 1, "F")
            .otherwise("R")
            .alias("s"),
        )
    )


def directed_triangle_census(dedges: DataFrame) -> DataFrame:
    """(a, b, c, ttype) for every triangle of the underlying undirected
    graph of the directed edge table ``dedges`` (a < b < c)."""
    st = _dyad_states(dedges)
    und = st.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
    tri = triangles(und)
    ab = st.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("s").alias("s_ab")
    )
    bc = st.select(
        F.col("lo").alias("b"), F.col("hi").alias("c"), F.col("s").alias("s_bc")
    )
    ac = st.select(
        F.col("lo").alias("a"), F.col("hi").alias("c"), F.col("s").alias("s_ac")
    )
    return (
        tri.join(ab, ["a", "b"])
        .join(bc, ["b", "c"])
        .join(ac, ["a", "c"])
        .select("a", "b", "c", F.expr(CLASSIFY_SQL).alias("ttype"))
    )


def directed_triangle_counts(dedges: DataFrame) -> DataFrame:
    """(ttype, n_triangles): the census totals."""
    return (
        directed_triangle_census(dedges)
        .groupBy("ttype")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
