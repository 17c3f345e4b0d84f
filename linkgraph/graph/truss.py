"""k-truss decomposition by iterative edge-support peeling + max-truss.

Reference semantics (matched exactly at the fixpoint):
- calculateTrusses  graph-mining-spark Truss.scala:115-166 — triangles
  computed ONCE, then a driver-controlled loop: support = triangle count
  per edge, drop edges with support < k-2, drop triangles touching a
  dropped edge, until the edge count stops changing; then label the
  surviving edges by connected component ("zone").
- maxTruss          graph-mining-spark MaximalTruss.scala:19-63 —
  gallop-up / bisect binary search over k, reusing each found truss as
  the next probe's input graph.

Crucial parity detail (SURVEY.md §7): support is recounted from
*surviving triangles* (3-edges-alive semantics, Truss.scala:139-146),
not from pairwise adjacency — these differ mid-iteration.

Spark-first changes vs the reference:
- the reference's 3 cascaded re-joins per round become 3 semi- or
  anti-joins against whichever of the alive/dead edge sets is smaller
  this round, explicitly broadcast when it fits (no payload
  duplication; the triangle table streams through exchange-free).
- each round's triangle table is checkpointed (persist-only in the
  reference ==> unbounded lineage, its known scalability cliff).
- one driver action per round (the fixpoint count), matching the
  "shuffle rounds bounded per superstep" rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import Checkpointer
from linkgraph.graph.components import component_of_edges, connected_components
from linkgraph.graph.triangles import edge_support, triangles

# Same shape/limit rationale as triangles._BROADCAST_EDGE_LIMIT: a
# (src, dst) long-pair relation broadcasts safely up to ~20M rows.
_BROADCAST_SUPPORT_LIMIT = 20_000_000


def _alive_triangles(
    tri: DataFrame,
    alive: DataFrame,
    dead: DataFrame,
    n_alive: int | None = None,
    n_dead: int | None = None,
) -> DataFrame:
    """Triangles whose three edges (a,b),(a,c),(b,c) all survive.

    Every edge of every triangle in ``tri`` appears in the round's
    support table by construction, so "all three edges alive" ==
    "no edge dead" — keeping triangles via three SEMI-joins against
    the alive set and dropping them via three ANTI-joins against the
    dead set are exactly equivalent. Which is cheaper depends on the
    peel's regime this round: a converging trim has dead ≪ alive
    (anti-join wins), a catastrophic collapse has alive ≪ dead
    (semi-join wins). The caller supplies both counts (it already
    computed them in one aggregate), so each round joins against the
    SMALLER side and broadcasts it when it fits — the O(big) triangle
    table then streams through all three joins without an exchange.

    The broadcast must be EXPLICIT: the support-side relation exits
    the cached aggregate already hash-partitioned on the join keys, so
    no shuffle query stage exists there and AQE never sees runtime
    stats that would let it convert the SortMergeJoin on its own
    (verified empirically — a 1.7k-row dead side still planned as SMJ
    without the hint).
    """
    use_anti = dead is not None and (
        (n_dead or 0) <= (n_alive or 0) if n_alive is not None else True
    )
    side, how = (dead, "left_anti") if use_anti else (alive, "left_semi")
    n_side = n_dead if use_anti else n_alive
    if n_side is not None and n_side <= _BROADCAST_SUPPORT_LIMIT:
        side = F.broadcast(side)
    ab = side.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    ac = side.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    bc = side.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return (
        tri.join(ab, ["a", "b"], how)
        .join(ac, ["a", "c"], how)
        .join(bc, ["b", "c"], how)
    )


@dataclass
class TrussResult:
    edges: DataFrame          # surviving k-truss edges (src, dst)
    n_edges: int
    rounds: int
    counters: list[dict] = field(default_factory=list)
    # Fixpoint triangle table == EXACTLY the triangles of `edges` as a
    # subgraph: the peel starts from all triangles and only ever drops
    # those touching a dead edge, so at the fixpoint what remains is
    # every triangle whose three edges survive — max_truss feeds it to
    # the next probe instead of re-enumerating wedges.
    tri: DataFrame | None = None


def k_truss(
    edges: DataFrame,
    k: int,
    checkpointer: Checkpointer | None = None,
    tri: DataFrame | None = None,
    max_rounds: int = 1000,
) -> TrussResult:
    """Edges of the k-truss: every edge supported by >= k-2 triangles.

    ``tri`` lets max_truss reuse an already-computed triangle table.
    """
    spark = edges.sparkSession
    ckpt = checkpointer or Checkpointer(spark, job=f"truss_k{k}")
    thresh = k - 2
    if thresh <= 0:
        # k <= 2: every edge is trivially a 2-truss.
        n = edges.count()
        return TrussResult(edges=edges, n_edges=n, rounds=0)

    # Algorithmic pre-filter (MaximalTruss.scala:28): an endpoint of a
    # k-truss edge has degree >= k-1; cheap degree prune before the
    # expensive triangle enumeration. Conservative variant deg > k-2.
    prev_count = -1
    start_round = 1
    # Resume: each saved round's manifest records the alive-edge count
    # that drove it, so the loop state restores exactly.
    latest = ckpt.latest()
    if latest is not None:
        tri, manifest = ckpt.load(latest)
        prev_count = manifest.get("counters", {}).get("alive_edges", -1)
        start_round = latest + 1
    elif tri is None:
        tri = ckpt.save(triangles(edges), 0, {"stage": "triangles"})
    else:
        tri = ckpt.save(tri, 0, {"stage": "triangles"})

    rounds = start_round - 1
    counters: list[dict] = []
    alive = None
    for rounds in range(start_round, max_rounds + 1):
        # The support explode+groupBy runs twice per round (once under
        # the count action, once under the checkpoint write) — measured
        # CHEAPER than persisting it: caching the ~O(E)-row aggregate
        # costs more in memory-store traffic than recomputing a
        # codegen'd explode+groupBy over the checkpointed triangles.
        # Both counts come from a single action; they pick the smaller
        # join side and gate its explicit broadcast in _alive_triangles.
        sup = edge_support(tri)
        ok = F.col("support") >= thresh
        row = sup.agg(
            F.count(F.when(ok, 1)).alias("alive"),
            F.count(F.when(~ok, 1)).alias("dead"),
        ).collect()[0]
        n_alive, n_dead = row["alive"], row["dead"]
        alive = sup.where(ok).select("src", "dst")
        dead = sup.where(~ok).select("src", "dst")
        tri = _alive_triangles(tri, alive, dead, n_alive, n_dead)
        tri = ckpt.save(tri, rounds, {"stage": "peel", "alive_edges": n_alive})
        counters.append({"round": rounds, "alive_edges": n_alive})
        if n_alive == prev_count:
            break
        prev_count = n_alive
        if n_alive == 0:
            break
    assert alive is not None
    return TrussResult(
        edges=alive.localCheckpoint(eager=True) if prev_count else alive,
        n_edges=prev_count if prev_count >= 0 else 0,
        rounds=rounds,
        counters=counters,
        tri=tri,
    )


def k_truss_components(
    edges: DataFrame, k: int, checkpointer: Checkpointer | None = None
) -> DataFrame:
    """(component, src, dst) — the reference's truss output shape
    (zone id per surviving edge, Truss.scala:153-165), with zone labels
    normalized to the component's min vertex id."""
    res = k_truss(edges, k, checkpointer)
    if res.n_edges == 0:
        spark = edges.sparkSession
        return spark.createDataFrame([], "component long, src long, dst long")
    labels = connected_components(res.edges)
    return component_of_edges(res.edges, labels)


@dataclass
class TrussDecompositionResult:
    trussness: DataFrame       # (src, dst, trussness) — every input edge
    k_max: int                 # max trussness == max_truss().k
    phases: list[dict] = field(default_factory=list)


def truss_decomposition(
    edges: DataFrame, max_k: int = 1000
) -> TrussDecompositionResult:
    """Per-edge truss number: trussness(e) = the largest k such that e
    survives the k-truss peel (>= 2 for every edge; 2 means "in no
    triangle that survives the 3-truss").

    Ascending peel, the standard decomposition construction the
    reference stops short of (it exposes only fixed-k calculateTrusses
    and the max-k search, Truss.scala:115-166 / MaximalTruss.scala:19-63):
    peel at k=3, 4, ... — each phase starts from the PREVIOUS phase's
    fixpoint edges and triangle table (the probe-reuse invariant
    ``TrussResult.tri``), so triangles are enumerated exactly once for
    the whole decomposition and each phase's input shrinks
    monotonically. Edges dropped during phase k get trussness k-1.
    Number of phases = k_max - 2 (bounded by O(sqrt(E))); per-phase
    cost is the same checkpointed peel k_truss runs.
    """
    spark = edges.sparkSession
    cur = edges.select("src", "dst")
    n_cur = cur.count()
    parts: list[DataFrame] = []
    tri: DataFrame | None = None
    k_max = 2
    phases: list[dict] = []
    k = 3
    while n_cur > 0 and k <= max_k:
        ckpt = Checkpointer(spark, job=f"trussdec_k{k}")
        res = k_truss(cur, k, ckpt, tri=tri)
        n_dead = n_cur - res.n_edges
        if n_dead > 0:
            dead = cur.join(res.edges, ["src", "dst"], "left_anti").select(
                "src", "dst", F.lit(k - 1).cast("int").alias("trussness")
            )
            # eager cut: `cur` is replaced next phase; the union at the
            # end must not re-run earlier phases' lineage
            parts.append(dead.localCheckpoint(eager=True))
        phases.append({"k": k, "alive": res.n_edges, "rounds": res.rounds})
        if res.n_edges > 0:
            k_max = k
        cur, tri, n_cur = res.edges, res.tri, res.n_edges
        k += 1
    if not parts:
        out = spark.createDataFrame([], "src long, dst long, trussness int")
    else:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    return TrussDecompositionResult(trussness=out, k_max=k_max, phases=phases)


@dataclass
class MaxTrussResult:
    k: int                    # maximum k with a non-empty k-truss
    edges: DataFrame          # the k_max-truss edges
    probes: list[dict] = field(default_factory=list)


def max_truss(
    edges: DataFrame,
    k0: int = 4,
    checkpointer: Checkpointer | None = None,
    reuse_triangles: bool = True,
) -> MaxTrussResult:
    """Maximum-k truss via the reference's gallop/bisect search
    (MaximalTruss.scala:19-63): probe k; empty -> bisect down toward
    minK; non-empty before any empty seen -> double k (gallop); else
    bisect up. Each non-empty truss becomes the next probe's input graph
    (the search shrinks monotonically). The Flink variant's result-
    shadowing bug (flink MaximalTruss.scala:15-22) is NOT replicated —
    golden semantics follow the Spark version.
    """
    spark = edges.sparkSession
    graph = edges
    best = edges
    best_k = 2
    min_k, max_k = 1, 0
    k = max(k0, 3)
    # Probe reuse: a successful probe's fixpoint triangle table is
    # exactly the triangle set of its surviving subgraph (TrussResult.tri
    # invariant), and every later probe searches INSIDE that subgraph —
    # so instead of re-enumerating wedges per probe, filter the previous
    # fixpoint's triangles to the degree-pruned edge set with the same
    # 3-way semi-join the peel already uses. Only the very first probe
    # (and probes after a still-None start) enumerate wedges.
    cur_tri: DataFrame | None = None   # triangles(graph), when known
    cur_n: int | None = None           # |graph| (broadcast gate bound)
    probes: list[dict] = []
    while k != max_k and k != min_k:
        # One job per probe: a shared durable job would make each probe's
        # k_truss resume from the PREVIOUS probe's last superstep.
        if checkpointer is None:
            ckpt = Checkpointer(spark, job=f"maxtruss_k{k}")
        else:
            ckpt = replace(checkpointer, job=f"{checkpointer.job}_k{k}", history=[])
        # degree prune before each probe (MaximalTruss.scala:28)
        from linkgraph.graph.edges import degrees

        deg = degrees(graph)
        keep = deg.where(F.col("degree") >= k - 1).select("id")
        pruned = graph.join(
            keep.withColumnRenamed("id", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi").select(
            "src", "dst"
        )
        tri0 = None
        if reuse_triangles and cur_tri is not None:
            tri0 = _alive_triangles(cur_tri, pruned, None, n_alive=cur_n)
        res = k_truss(pruned, k, ckpt, tri=tri0)
        probes.append(
            {
                "k": k,
                "edges": res.n_edges,
                "rounds": res.rounds,
                "reused_triangles": tri0 is not None,
            }
        )
        if res.n_edges == 0:
            max_k = k
            k = min_k + (k - min_k) // 2
        elif max_k == 0:
            min_k = k
            best, best_k = res.edges, k
            graph, cur_tri, cur_n = res.edges, res.tri, res.n_edges
            k = 2 * k
        else:
            min_k = k
            best, best_k = res.edges, k
            graph, cur_tri, cur_n = res.edges, res.tri, res.n_edges
            k = k + (max_k - k) // 2
    return MaxTrussResult(k=best_k, edges=best, probes=probes)
