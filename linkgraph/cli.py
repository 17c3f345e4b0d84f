"""Command-line entry mirroring the reference's program modes.

The reference dispatches on a mode string in `main`
(graph-mining-spark GraphMiningSpark.scala:43-94; args
`mode inputPath outputPath separator partitioning [k]`, README.md:41-47).
Same surface here, Spark-first:

    spark-submit --py-files linkgraph.zip -m linkgraph.cli \\
        <mode> <input> <output> [--sep TAB] [--partitions N] [--k K]

Modes (reference cites in parentheses):
  bidirect        reciprocal-edge preprocessing (GraphMiningSpark.scala:61-62)
  triangle        triangle enumeration, degree-ordered node iterator (scala:64-65)
  triangleNoSpark the reference's name for the same enumeration (scala:67-68)
  truss           k-truss for a given k, component-labelled (scala:70-84)
  maxtruss        max-k truss via binary search from k (scala:86-91)
  histo           in/out/total degree histograms (scala:93-94)
  pagerank        PageRank to convergence (scope extension)
  components      connected components (scope extension)
  labelprop       label propagation (scope extension)
  kcore           k-core edges for a given k (scope extension)
  corenumbers     per-vertex core numbers (scope extension)
  hits            HITS hub/authority scores on the raw digraph (scope extension)
  linkpred        common-neighbor/Jaccard/Adamic-Adar pair scores (scope extension)
  bfs             multi-source BFS hop distances; --sources ids (scope extension)
  scc             strongly connected components of the raw digraph (scope extension)
  betweenness     landmark Brandes betweenness; --sources ids (scope extension)
  katz            Katz centrality (scope extension)
  mis             Luby maximal independent set (scope extension)
  coloring        Jones-Plassmann greedy coloring (scope extension)
  layers          topological layers of the SCC condensation (scope extension)
  modularity      per-community modularity of the CC partition (scope extension)
  trussdecomp     per-edge truss numbers, ascending peel (scope extension)
  hyperball       HLL neighborhood function; --k = log2(registers) (scope extension)
  contract        CC-community supergraph with edge multiplicities (scope extension)
  msf             Boruvka minimum spanning forest; weight = 1.0 unless the
                  input parquet has a weight column (scope extension)
  localcluster    PPR sweep-cut community around --sources seed (scope extension)
  louvain         multi-level Louvain communities; --k levels, --max-iter
                  move rounds per level (scope extension)
  clique4         exact 4-clique enumeration (degree-ordered DAG extension)
  dicensus        directed triangle census of the raw digraph (scope extension)
  approxtri       DOULION sampled triangle estimate; --k = denominator of
                  the keep probability 1/k (scope extension)
  salsa           SALSA hub/authority scores on the raw digraph (scope extension)
  cocite          co-citation pairs; --k = min shared citers (scope extension)
  coupling        bibliographic-coupling pairs; --k = min shared cites
  sparsify        similarity-based local sparsification, e=0.5 (scope extension)
  dyads           dyad census + reciprocity of the raw digraph (scope extension)
  conductance     per-community conductance of the LPA partition
  rmat            deterministic R-MAT generator; input ignored, --k = scale
  fiedler         Fiedler vector (spectral bisection by sign)

Input: either a parquet edge table (src, dst) or an edge-list text file
("<int><sep><int>" per line, Truss.scala:21-29); detected by extension.
Output: parquet directory per result table.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.graph import edges as E
from linkgraph.graph.components import component_of_edges, connected_components
from linkgraph.graph.labelprop import label_propagation
from linkgraph.graph.pagerank import pagerank
from linkgraph.graph.refformat import triangle_text, truss_text
from linkgraph.graph.triangles import triangles
from linkgraph.graph.truss import k_truss_components, max_truss
from linkgraph.session import build_session

_SEP = {"TAB": "\t", "SPACE": " ", "COMMA": ","}


def _read_edges(spark: SparkSession, path: str, sep: str) -> DataFrame:
    if path.endswith((".txt", ".csv", ".tsv")):
        raw = E.edges_from_text(spark, path, sep)
    else:
        raw = spark.read.parquet(path).select("src", "dst")
    return raw


def run(args: argparse.Namespace, spark: SparkSession) -> DataFrame:
    if args.mode == "rmat":
        # Generator mode: input path is ignored (pass "-"); --k is the
        # log2 vertex-count scale, edge count = 16 * 2^scale.
        from linkgraph.ingest.rmat import rmat_edges

        return rmat_edges(spark, scale=max(args.k, 1))

    sep = _SEP.get(args.sep, args.sep)
    raw = _read_edges(spark, args.input, sep)
    und = E.canonicalize(raw)
    if args.partitions:
        und = und.repartition(args.partitions, "src")

    text = getattr(args, "text", False)

    if args.mode == "bidirect":
        return E.reciprocal_edges(raw)
    if args.mode in ("triangle", "triangleNoSpark"):
        tri = triangles(und)
        return triangle_text(tri, und) if text else tri
    if args.mode == "truss":
        comp = k_truss_components(und, args.k)
        return truss_text(comp, und) if text else comp
    if args.mode == "maxtruss":
        res = max_truss(und, k0=args.k)
        print(f"max-k: {res.k}; probes: {res.probes}", file=sys.stderr)
        return res.edges
    if args.mode == "histo":
        return E.in_out_degree_histograms(raw)
    if args.mode == "pagerank":
        init_path = getattr(args, "init_ranks", None)
        init = spark.read.parquet(init_path) if init_path else None
        res = pagerank(und, max_iter=args.max_iter, init_ranks=init)
        print(f"iterations: {res.iterations}, delta: {res.delta}", file=sys.stderr)
        return res.ranks
    if args.mode == "components":
        return component_of_edges(und, connected_components(und))
    if args.mode == "labelprop":
        return label_propagation(und, max_iter=args.max_iter).labels
    if args.mode == "kcore":
        from linkgraph.graph.kcore import k_core

        res = k_core(und, args.k)
        print(f"k-core k={args.k}: {res.n_edges} edges, {res.rounds} rounds",
              file=sys.stderr)
        return res.edges
    if args.mode == "corenumbers":
        from linkgraph.graph.kcore import core_numbers

        return core_numbers(und)
    if args.mode == "scc":
        from linkgraph.graph.scc import strongly_connected_components

        res = strongly_connected_components(raw, max_rounds=args.max_iter)
        print(f"scc rounds: {res.rounds}", file=sys.stderr)
        return res.labels
    if args.mode == "hits":
        from linkgraph.graph.hits import hits

        return hits(raw, max_iter=args.max_iter).scores
    if args.mode == "linkpred":
        from linkgraph.graph.linkpred import link_prediction

        return link_prediction(und, min_common=args.k)
    if args.mode == "bfs":
        from linkgraph.graph.bfs import bfs_distances

        sources = [int(s) for s in (args.sources or "").split(",") if s != ""]
        if not sources:
            sources = [r["id"] for r in E.degrees(und).orderBy("id").limit(1).collect()]
        res = bfs_distances(und, sources, max_depth=args.max_iter)
        print(f"bfs depth: {res.iterations}", file=sys.stderr)
        return res.distances
    if args.mode == "betweenness":
        from linkgraph.graph.betweenness import betweenness_centrality

        sources = [int(s) for s in (args.sources or "").split(",") if s != ""]
        if not sources:
            sources = [r["id"] for r in E.degrees(und).orderBy("id").limit(4).collect()]
        return betweenness_centrality(und, sources, max_depth=args.max_iter).scores
    if args.mode == "katz":
        from linkgraph.graph.katz import katz_centrality

        return katz_centrality(und, max_iter=args.max_iter).scores
    if args.mode == "mis":
        from linkgraph.graph.mis import maximal_independent_set

        res = maximal_independent_set(und, max_iter=args.max_iter)
        print(f"mis rounds: {res.iterations}", file=sys.stderr)
        return res.members
    if args.mode == "coloring":
        from linkgraph.graph.coloring import greedy_coloring

        res = greedy_coloring(und, max_iter=args.max_iter)
        print(f"coloring rounds: {res.iterations}", file=sys.stderr)
        return res.colors
    if args.mode == "layers":
        from linkgraph.graph.layers import condensation, topological_layers
        from linkgraph.graph.scc import strongly_connected_components

        labels = strongly_connected_components(raw, max_rounds=args.max_iter).labels
        res = topological_layers(
            condensation(raw, labels),
            max_iter=args.max_iter,
            vertices=labels.select(F.col("label").alias("id")).distinct(),
        )
        print(f"layers: {res.iterations} rounds, converged={res.converged}",
              file=sys.stderr)
        return res.layers
    if args.mode == "modularity":
        from linkgraph.graph.modularity import community_stats

        return community_stats(und, connected_components(und))
    if args.mode == "trussdecomp":
        from linkgraph.graph.truss import truss_decomposition

        res = truss_decomposition(und)
        print(f"k_max: {res.k_max}; phases: {res.phases}", file=sys.stderr)
        return res.trussness
    if args.mode == "hyperball":
        from linkgraph.graph.hyperball import effective_diameter, hyperball

        res = hyperball(und, max_t=args.max_iter, log2m=max(args.k, 2))
        eff = effective_diameter(res.balls)
        print(
            f"hyperball rounds: {res.rounds}, converged={res.converged}, "
            f"effective_diameter(0.9)={eff}",
            file=sys.stderr,
        )
        return res.balls
    if args.mode == "contract":
        from linkgraph.graph.modularity import contract_graph

        return contract_graph(und, connected_components(und))
    if args.mode == "msf":
        from linkgraph.graph.msf import minimum_spanning_forest

        weighted = und if "weight" in und.columns else und.withColumn(
            "weight", F.lit(1.0)
        )
        res = minimum_spanning_forest(weighted)
        print(
            f"msf: {res.n_edges} edges in {res.rounds} rounds", file=sys.stderr
        )
        return res.forest
    if args.mode == "louvain":
        from linkgraph.graph.louvain import louvain

        res = louvain(
            und, n_levels=max(args.k, 1), rounds_per_level=args.max_iter
        )
        print(f"louvain levels: {res.levels}", file=sys.stderr)
        return res.labels
    if args.mode == "dicensus":
        from linkgraph.graph.ditriangles import directed_triangle_counts

        return directed_triangle_counts(raw)
    if args.mode == "approxtri":
        from linkgraph.graph.approxtri import approx_triangle_count

        return approx_triangle_count(und, num=1, den=max(args.k, 1))
    if args.mode == "clique4":
        from linkgraph.graph.cliques import four_cliques

        return four_cliques(und)
    if args.mode == "salsa":
        from linkgraph.graph.salsa import salsa

        return salsa(raw, max_iter=args.max_iter).scores
    if args.mode == "cocite":
        from linkgraph.graph.cocitation import co_citation

        return co_citation(raw, min_count=args.k)
    if args.mode == "coupling":
        from linkgraph.graph.cocitation import bibliographic_coupling

        return bibliographic_coupling(raw, min_count=args.k)
    if args.mode == "sparsify":
        from linkgraph.graph.sparsify import sparsify

        return sparsify(und, e=0.5)
    if args.mode == "dyads":
        return E.dyad_census(raw)
    if args.mode == "conductance":
        from linkgraph.graph.modularity import community_conductance

        return community_conductance(
            und, label_propagation(und, max_iter=args.max_iter).labels
        )
    if args.mode == "fiedler":
        from linkgraph.graph.fiedler import fiedler

        res = fiedler(und, max_iter=args.max_iter)
        print(f"fiedler shift c: {res.shift}", file=sys.stderr)
        return res.scores
    if args.mode == "localcluster":
        from linkgraph.graph.localcluster import local_cluster

        seeds = [int(s) for s in (args.sources or "").split(",") if s != ""]
        if not seeds:
            seeds = [
                r["id"] for r in E.degrees(und).orderBy("id").limit(1).collect()
            ]
        res = local_cluster(und, seed=seeds[0], max_iter=args.max_iter)
        print(
            f"localcluster: best prefix {res.best_pos}, "
            f"conductance {res.best_conductance:.6f}",
            file=sys.stderr,
        )
        return res.sweep
    raise SystemExit(f"unknown mode: {args.mode}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="linkgraph", description=__doc__)
    p.add_argument("mode")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--sep", default="TAB", help="TAB | SPACE | COMMA | literal")
    p.add_argument("--partitions", type=int, default=0)
    p.add_argument("--k", type=int, default=4)
    p.add_argument("--max-iter", type=int, default=50)
    p.add_argument("--master", default=None)
    p.add_argument("--sources", default=None, help="comma-separated root ids (bfs)")
    p.add_argument(
        "--init-ranks",
        default=None,
        help="parquet (id, rank) table to warm-start pagerank from",
    )
    p.add_argument(
        "--text",
        action="store_true",
        help="reference-parity text output (truss/triangle modes)",
    )
    args = p.parse_args(argv)

    spark = build_session("linkgraph-cli", master=args.master)
    out = run(args, spark)
    if getattr(args, "text", False) and out.columns == ["value"]:
        out.write.mode("overwrite").text(args.output)
    else:
        out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
