"""One-row whole-graph summary.

The "describe" a user runs before picking thresholds: vertex/edge
counts, degree envelope, density, and the triangle/transitivity block
— composed entirely from the existing audited operators (degrees
aggregate + the degree-ordered triangle kernel), so it inherits their
plans and adds only 1-row arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from linkgraph.graph import edges as E
from linkgraph.graph.triangles import transitivity


def graph_summary(edges: DataFrame) -> DataFrame:
    """(n_vertices, n_edges, max_degree, avg_degree, density,
    n_triangles, n_wedges, transitivity) — one row.

    Driver-side work is three bounded scalar results (degree envelope,
    edge count, the transitivity row); nothing corpus-sized ever
    collects.
    """
    deg = E.degrees(edges).agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.coalesce(F.max("degree"), F.lit(0)).alias("max_degree"),
    ).collect()[0]
    n, mx = int(deg["n_vertices"]), int(deg["max_degree"])
    m = edges.count()
    t = transitivity(edges).collect()[0]
    avg_deg = 2.0 * m / n if n else 0.0
    density = 2.0 * m / (n * (n - 1)) if n > 1 else 0.0
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(
            n, int(m), mx, float(avg_deg), float(density),
            int(t["n_triangles"]), int(t["n_wedges"]),
            float(t["transitivity"]),
        )],
        "n_vertices long, n_edges long, max_degree long, avg_degree double, "
        "density double, n_triangles long, n_wedges long, transitivity double",
    )
