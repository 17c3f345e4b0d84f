"""Per-round benchmark harness.

Runs the engine's headline workloads at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "extras": {...}}

The headline metric (BASELINE.json) is edges/sec per superstep for
PageRank + triangle throughput; both are derived here and reported in
``extras``. The two-parallelism scaling-efficiency evidence (local[8]
vs local[32]) is produced by ``bench/scaling.py`` -> BENCH/BASELINE.md,
not per-round.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from linkgraph import datasets  # noqa: E402
from linkgraph.dedup.minhash import minhash_near_duplicates  # noqa: E402
from linkgraph.graph.components import connected_components  # noqa: E402
from linkgraph.graph.labelprop import label_propagation  # noqa: E402
from linkgraph.graph.pagerank import pagerank  # noqa: E402
from linkgraph.graph.triangles import triangle_count, triangles  # noqa: E402
from linkgraph.graph.truss import k_truss  # noqa: E402
from linkgraph.ingest.corpus import synthetic_corpus  # noqa: E402
from linkgraph.ingest.derive import content_sha, import_edges  # noqa: E402
from linkgraph.session import build_session  # noqa: E402
from linkgraph.sim.ann import brute_force_topk  # noqa: E402
from linkgraph.text.analysis import (  # noqa: E402
    language_id,
    quality_features,
    token_stats,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PR_ITERS = 10
LPA_ITERS = 5


def main() -> None:
    spark = build_session("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name: str):
        class _T:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *a):
                timings[name] = round(time.time() - self.t0, 3)

        return _T()

    # Warm the JVM before the first timed stage: the first Spark job pays
    # one-off executor-thread init + whole-stage-codegen compilation
    # (~7s measured at local[32]); charging it to corpus_ingest made the
    # r2 number noise-dominated (22.5s vs 1.5-3.6s steady-state).
    spark.range(10_000).select(F.sha2(F.col("id").cast("string"), 256)).count()

    # -- ingestion: synthetic corpus -> import edges (JVM regex parse) --
    with timed("corpus_ingest"):
        corpus = content_sha(
            synthetic_corpus(spark, n_files=200_000, n_repos=2_000, partitions=CPUS)
        )
        corpus_edges = import_edges(corpus)
        n_corpus_edges = corpus_edges.count()
    extras["corpus_edges"] = n_corpus_edges
    extras["ingest_files_per_sec"] = round(200_000 / timings["corpus_ingest"], 1)

    # -- graph workloads on the co-purchase graph --
    edges = datasets.co_purchase_edges(spark, SF_DIR).persist()
    n_edges = edges.count()
    extras["edges"] = n_edges

    with timed("triangle_count_jvm"):
        n_tri = triangles(edges).count()
    extras["triangles"] = n_tri
    extras["tri_jvm_edges_per_sec"] = round(n_edges / timings["triangle_count_jvm"], 1)

    # round 4: the csr row now times the IN-KERNEL close (count-only
    # kernel — wedges never leave the NumPy kernel, no close join);
    # same operator family and input as the r1-r3 csr-enumeration row.
    with timed("triangle_count_csr"):
        n_tri_k = triangle_count(edges)
    assert n_tri_k == n_tri, (n_tri_k, n_tri)
    extras["tri_csr_edges_per_sec"] = round(n_edges / timings["triangle_count_csr"], 1)

    with timed("pagerank"):
        pr = pagerank(edges, max_iter=PR_ITERS, tol=0.0)
        pr.ranks.count()
    extras["pr_supersteps"] = pr.iterations
    extras["pr_edges_per_sec_per_superstep"] = round(
        n_edges * pr.iterations / timings["pagerank"], 1
    )

    with timed("connected_components"):
        connected_components(edges).count()

    with timed("label_propagation"):
        label_propagation(edges, max_iter=LPA_ITERS).labels.count()

    truss_edges = datasets.co_purchase_edges(spark, SF_DIR, min_quantity=40)
    with timed("ktruss_4"):
        res = k_truss(truss_edges, k=4)
    extras["ktruss_4_edges"] = res.n_edges
    edges.unpersist()

    # -- training-data pipeline workloads --
    docs = datasets.load(spark, SF_DIR, "documents")
    with timed("text_pipeline"):
        out = language_id(quality_features(token_stats(docs)))
        out.agg(
            F.sum("n_tokens_ws"), F.avg("quality_score"), F.count("lang_pred")
        ).collect()

    with timed("minhash_dedup"):
        minhash_near_duplicates(docs, col="text", id_col="doc_id").count()

    emb = datasets.load(spark, SF_DIR, "embeddings")
    with timed("embedding_topk"):
        brute_force_topk(emb, emb.where(F.col("vec_id") < 50), k=10).count()

    total = round(sum(timings.values()), 3)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    print(
        json.dumps(
            {
                "metric": "linkgraph headline suite wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extras": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
