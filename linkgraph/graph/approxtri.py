"""Approximate triangle counting by deterministic edge sampling
(DOULION — Tsourakakis, Kang, Miller, Faloutsos, KDD 2009).

The quick-estimate scale path next to the exact kernels in
triangles.py: keep each edge with probability p = num/den, count
triangles on the sampled subgraph with the audited exact enumeration,
scale by 1/p^3. Expected work drops by ~p (edges) and ~p^2..p^3
(wedges/triangles); at 1e9 edges a p = 1/16 pass answers "roughly how
many triangles" in ~1/250th the wedge work of the exact count.

The coin is NOT random: an edge is kept iff a quadratic-scramble hash
of its canonical (src, dst) key — exact int64 arithmetic mod P1 < 2^30,
every intermediate inside int64 (the phash contract) — lands under the
num/den threshold. That makes the sample, the sampled triangle count,
and the estimate bit-identical across engines AND across runs/seeds
(the driver-oracle requirement; DOULION's own analysis only needs
pairwise-independent-ish coins, which a seeded hash provides).
Estimator properties (paper, Thm 1-2): unbiased, concentration
improves with the true count; variance is dominated by edge-disjoint
triangles at small p.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.dedup.phash import P1
from linkgraph.graph.triangles import triangles


def _edge_coin(src, dst, seed: int):
    """Quadratic-scramble hash of the canonical edge key, in [0, P1).

    h0 < P1 (< 2^30), so h0 * 1_000_003 + dst%P1 < 2^50 and h*h < 2^60:
    every intermediate stays inside int64 under ANSI mode.
    """
    a = (2_654_435_761 * (seed + 1)) % P1 or 1
    h0 = ((src % P1) * 1_000_003 + dst % P1 + a) % P1
    return (h0 * h0 + a) % P1


def sample_edges(
    edges: DataFrame, num: int = 1, den: int = 4, seed: int = 1
) -> DataFrame:
    """The deterministic DOULION edge sample (canonical src < dst)."""
    if not (0 < num <= den):
        raise ValueError(f"need 0 < num <= den, got {num}/{den}")
    lo, hi = F.least("src", "dst"), F.greatest("src", "dst")
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(lo.alias("src"), hi.alias("dst"))
        .distinct()
        .where(_edge_coin(F.col("src"), F.col("dst"), seed) % den < num)
    )


def approx_triangle_count(
    edges: DataFrame,
    num: int = 1,
    den: int = 4,
    seed: int = 1,
) -> DataFrame:
    """One row: (sampled_edges, sampled_triangles, est_triangles).

    est_triangles = sampled_triangles * (den/num)^3 as a double — the
    unbiased DOULION estimate of the exact triangle count.
    """
    sample = sample_edges(edges, num=num, den=den, seed=seed)
    tri = triangles(sample)
    scale = float(den) ** 3 / float(num) ** 3
    return (
        sample.agg(F.count(F.lit(1)).alias("sampled_edges"))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("sampled_triangles")))
        .select(
            "sampled_edges",
            "sampled_triangles",
            (F.col("sampled_triangles") * F.lit(scale)).alias("est_triangles"),
        )
    )
