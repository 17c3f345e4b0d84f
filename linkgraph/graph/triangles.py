"""Exact triangle enumeration and counting: node-iterator with degree
ordering.

Reference semantics:
- getTriangles (join variant)      graph-mining-spark Truss.scala:46-68
- getTrianglesNoSpark (node-iter)  graph-mining-spark Truss.scala:71-103
- degree pre-filter                graph-mining-spark Truss.scala:50

The algorithm (Cohen, "Graph Twiddling in a MapReduce World", 2009):
orient every undirected edge from its lower-(degree, id) endpoint; each
triangle is then generated exactly once as a wedge at its lowest-degree
vertex, closed by a join against the oriented edge set. Degree ordering
bounds every vertex's out-degree by O(sqrt(2m)), so wedge generation is
skew-safe by construction — no salting needed for this operator even on
power-law graphs (the 100TB argument: the largest adjacency run is
O(sqrt(2m)) rows, total wedge volume is the arboricity bound, and both
shuffles hash on near-uniform keys).

One enumerator and one counter. Each picks its regime from the oriented
edge count alone (``_BROADCAST_EDGE_LIMIT``):

- ``triangles``: the oriented-edge self-join (the reference's
  `getTriangles` shape) — entirely JVM-side, a whole-stage-codegen
  wedge stream with no per-vertex array materialization. At or below
  the limit the close join broadcasts the oriented edge set; past it
  the wedges first pass a register-blocked Bloom probe of the closing
  keys (``bloom.build_blocked_bloom``) and then a bounded
  shuffled-hash close.
- ``triangle_count``: sorted-CSR adjacency blocks inside Arrow batches
  into a vectorized NumPy ``mapInArrow`` kernel — one Python call per
  Arrow batch, never per row. At or below the limit the kernel closes
  every wedge in place against the mmap'd exact edge set and emits one
  partial count per partition; past it the kernel fuses the Bloom probe
  and emits pre-aggregated, packed closing pairs into a bounded
  shuffled-hash residual join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import bloom as B
from linkgraph.graph import edges as E

_WEDGE_SCHEMA = "a long, b long, c long"


def _oriented(edges: DataFrame) -> DataFrame:
    """Canonical edges -> degree-ordered orientation, pre-filtered.

    The `deg > 1` filter mirrors Truss.scala:50 (a vertex of degree 1
    cannot anchor a wedge); Catalyst pushes it below the projection.
    """
    oriented = E.orient_by_degree(E.with_degrees(edges))
    # Project lo_deg away after the filter: no kernel reads it, and the
    # oriented table is checkpointed and re-exchanged several times —
    # 3 longs/row instead of 4 cuts every one of those by 25%.
    return oriented.where(F.col("lo_deg") > 1).select("lo", "hi", "hi_deg")


_BROADCAST_EDGE_LIMIT = 20_000_000  # rows; 2 longs/row ~ 320MB serialized

# Past the broadcast limit the full O(sum deg_out^2) wedge stream would
# cross the close-join exchange just for ~(1 - T/W) of it to be dropped
# by the join. A register-blocked Bloom filter of the closing keys
# (bloom.build_blocked_bloom: distributed sparse-bitmap build, one
# random read per probe, bitmap mmap-shared per node) probed BEFORE the
# exchange — fused into the count kernel, a pipelined Arrow stage after
# the enumerator's self-join — cuts the exchanged rows to T + fpp*W; the
# exact join then removes the false positives, so results are
# unchanged. 16 bits/key gives fpp ~0.5-1% at 2 bytes/edge (74 MB at
# 37M edges), fetched once per node. Exchange volume is the non-scaling
# term on a multi-executor close (it crosses JVM/network boundaries),
# so this is the lever that moves N -> 4N scaling efficiency at
# >= broadcast-limit sizes.
_BLOOM_BITS_PER_KEY = 16


def _close_filter_state(oriented: DataFrame, n_edges: int) -> tuple:
    """Build the closing-key Bloom filter over the oriented edge set.
    The returned state is a tiny picklable tuple safe to close over."""
    return B.build_blocked_bloom(
        oriented, ["lo", "hi"], n_edges, bits_per_key=_BLOOM_BITS_PER_KEY
    )


def _bloom_mask(state: tuple, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    return B.blocked_contains(state, B.xxhash64_longs([b, c]))


# Worker-process cache: file name -> (H uint64 sorted, LO, HI) views.
_EDGE_SET_CACHE: dict[str, tuple] = {}


def _edge_set_file(oriented: DataFrame) -> str:
    """Materialize the oriented edge set for the in-kernel exact close.

    Layout: int64[3][n] — row 0 the Catalyst xxhash64(lo, hi) keys in
    uint64-ascending order, rows 1/2 the aligned (lo, hi) endpoints for
    exact verification of hash collisions. The hash is computed
    JVM-side; the kernel probes with the bit-identical NumPy
    replication (bloom.xxhash64_longs, verified in tests/test_bloom.py).
    The file is staged through mmapshare (SparkContext.addFile), so
    every Python worker on a node maps ONE page-cache copy (~24 B/edge)
    instead of deserializing a private broadcast.
    """
    from linkgraph import mmapshare

    pdf = oriented.select(F.xxhash64("lo", "hi").alias("h"), "lo", "hi").toPandas()
    h = pdf["h"].to_numpy(np.int64).view(np.uint64)
    lo = pdf["lo"].to_numpy(np.int64)
    hi = pdf["hi"].to_numpy(np.int64)
    n = len(pdf)
    del pdf  # free the frame before the int64[3][n] copy: frame + copy
    # together would double peak driver RSS
    order = np.argsort(h, kind="stable")
    arr = np.empty((3, n), dtype=np.int64)
    arr[0] = h[order].view(np.int64)
    arr[1] = lo[order]
    arr[2] = hi[order]
    del h, lo, hi, order
    return mmapshare.stage_array(
        oriented.sparkSession.sparkContext, arr, prefix="linkgraph_edgeset"
    )


def _load_edge_set(name: str) -> tuple:
    tup = _EDGE_SET_CACHE.get(name)
    if tup is None:
        from linkgraph import mmapshare

        arr = mmapshare.load_array(name)
        tup = (arr[0].view(np.uint64), arr[1], arr[2])
        _EDGE_SET_CACHE[name] = tup
    return tup


def _exact_close_mask(edge_set: tuple, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Exact membership of (b, c) in the oriented edge set.

    One vectorized binary search over the hash-sorted key array; the
    aligned endpoint rows verify the (vanishingly rare) hash-window
    cases, so the result is EXACT — no false positives to join away.
    """
    H, LO, HI = edge_set
    h = B.xxhash64_longs([b, c])
    left = np.searchsorted(H, h, side="left")
    right = np.searchsorted(H, h, side="right")
    found = np.zeros(b.size, dtype=bool)
    one = (right - left) == 1
    p = left[one]
    found[one] = (LO[p] == b[one]) & (HI[p] == c[one])
    for i in np.flatnonzero((right - left) > 1):
        sl = slice(left[i], right[i])
        found[i] = bool(np.any((LO[sl] == b[i]) & (HI[sl] == c[i])))
    return found


def _bloom_probe(state: tuple):
    """mapInArrow stage: drop wedge rows whose (b, c) cannot close.

    Runs pipelined in the wedge-producing stage, i.e. BEFORE the close
    join's exchange — the whole point is that dropped rows never
    serialize into shuffle files.
    """

    def probe(batches):
        import pyarrow as pa

        for batch in batches:
            b = batch.column("b").to_numpy(zero_copy_only=False)
            c = batch.column("c").to_numpy(zero_copy_only=False)
            mask = _bloom_mask(state, b, c)
            yield batch if mask.all() else batch.filter(pa.array(mask))

    return probe


# Max oriented-edge rows per shuffle partition for which the wedge
# self-join may force a (non-spillable) shuffled hash build; ~32B/row
# keyed relation -> <= ~32MB per task, safe under any sane executor
# memory. Past it the build side is repartitioned to _shj_parts.
_SHJ_BUILD_ROWS_LIMIT = 1_000_000


def _shj_safe(spark, n_edges: int) -> bool:
    """True when a forced (non-spillable) shuffled hash build over the
    oriented edge table is memory-safe at the CURRENT shuffle partition
    count: expected rows per partition under _SHJ_BUILD_ROWS_LIMIT."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return n_edges / max(parts, 1) <= _SHJ_BUILD_ROWS_LIMIT


def _shj_parts(spark, n_edges: int) -> int:
    """Partition count that bounds a forced hash build of the oriented
    edge table at _SHJ_BUILD_ROWS_LIMIT rows (~32MB) per task — the
    scale path past every fixed threshold: the build side is ALWAYS just
    the edge table, so an explicit repartition count that grows with
    |E| keeps the non-spillable build bounded at ANY scale, and the
    O(sum deg_out^2) wedge side is then hashed, never sorted (SMJ would
    sort the wedge stream — the dominant cost at 1e9 edges)."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    need = -(-n_edges // max(_SHJ_BUILD_ROWS_LIMIT, 1))
    return max(parts, need)


def _close_wedges(wedges: DataFrame, oriented: DataFrame, n_edges: int) -> DataFrame:
    """Join wedges (a; b, c) with the oriented edge set on (b, c).

    b precedes c in (degree, id) order by construction, so the closing
    edge — if it exists — is oriented exactly (lo=b, hi=c). Output is
    id-canonical (a < b < c) regardless of degree order.

    The wedge side is O(sum deg_out^2) >> the edge side, so when the
    edge set is broadcastable we broadcast it explicitly and the wedge
    blowup never shuffles. Past _BROADCAST_EDGE_LIMIT the build side is
    still just the edge table, so a shuffled hash join (skipping the
    sort of the huge wedge side) beats SortMergeJoin — measured 47 s vs
    75 s best-of-reps on the 9.3M-edge graph at local[32] with the
    broadcast disabled. The forced hash build cannot spill, so it must
    be bounded: at the default shuffle partition count while that keeps
    build rows/partition under _SHJ_BUILD_ROWS_LIMIT, else by an
    explicit repartition on (b, c) to _shj_parts — (b, c) pairs are
    unique edges, so the key is collision-uniform and the bound holds at
    any |E|. The wedge stream therefore NEVER gets sorted.
    """
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    if n_edges <= _BROADCAST_EDGE_LIMIT:
        tri = wedges.join(F.broadcast(closing), ["b", "c"])
    elif _shj_safe(oriented.sparkSession, n_edges):
        tri = wedges.join(closing.hint("shuffle_hash"), ["b", "c"])
    else:
        # Repartition only the BUILD side to the bounded count; the
        # wedge side's matching exchange is inserted by the planner, so
        # AQE retains the freedom to split skewed stream partitions.
        parts = _shj_parts(oriented.sparkSession, n_edges)
        tri = wedges.join(
            closing.repartition(parts, "b", "c").hint("shuffle_hash"), ["b", "c"]
        )
    ordered = F.array_sort(F.array("a", "b", "c"))
    return tri.select(
        ordered.getItem(0).alias("a"),
        ordered.getItem(1).alias("b"),
        ordered.getItem(2).alias("c"),
    )


def _explode_parts(df: DataFrame) -> int:
    """Partition count for explosive stages: 4x parallelism so the
    wedge blowup spreads across every core with slack for imbalance."""
    return df.sparkSession.sparkContext.defaultParallelism * 4


def _wedges_join(oriented: DataFrame, n_edges: int) -> DataFrame:
    # shuffle_hash: the self-join's per-partition build side is one
    # hash-partition of the oriented edge table, so a shuffled hash join
    # skips SortMergeJoin's O(E log E) sort of BOTH aliases — ~15-25%
    # faster measured on the 9.3M-edge graph. The hint FORCES the join
    # strategy past Spark's safety sizing, and unlike SMJ a hash build
    # cannot spill — so the build must be bounded: at the default
    # shuffle partition count while rows/partition stay under the limit,
    # else by repartitioning the oriented table ONCE on the join key to
    # _shj_parts (both aliases then share the partitioning, so the join
    # itself is exchange-free). Per-key rows are bounded by the degree
    # ordering at O(sqrt(2m)) << rows/partition, so no partition can
    # blow out.
    spark = oriented.sparkSession
    if not _shj_safe(spark, n_edges):
        oriented = oriented.repartition(_shj_parts(spark, n_edges), "lo")
    x, y = oriented.alias("x"), oriented.alias("y")
    return (
        x.join(y.hint("shuffle_hash"), "lo")
        .where(
            F.struct(F.col("x.hi_deg"), F.col("x.hi"))
            < F.struct(F.col("y.hi_deg"), F.col("y.hi"))
        )
        .select(
            F.col("lo").alias("a"), F.col("x.hi").alias("b"), F.col("y.hi").alias("c")
        )
    )


def _cumsum0(x: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum."""
    return np.r_[0, np.cumsum(x)[:-1]] if x.size else x


def _run_pairs(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All intra-run (i < j) closing pairs over CSR runs, fully vectorized.

    `lo` must be run-contiguous and `hi` sorted in degree order within
    each run. Two-level repeat construction: runs -> i-blocks -> pairs.
    Returns the (b, c) int64 arrays; the anchor column is never
    gathered (counting only needs the closing pair — one fewer
    8 B/wedge array through DRAM on the hot path).
    """
    empty = np.empty(0, dtype=np.int64)
    change = np.flatnonzero(np.r_[True, lo[1:] != lo[:-1]])
    indptr = np.r_[change, lo.size]
    counts = np.diff(indptr)  # run sizes c_r
    starts = indptr[:-1]
    L = counts - 1  # i ranges over 0..L-1 per run
    keep = L > 0
    if not keep.any():
        return empty, empty
    L, starts = L[keep], starts[keep]
    n_runs = L.size
    # i-blocks: for run r, blocks i = 0..L_r-1 of length L_r - i.
    run_of_block = np.repeat(np.arange(n_runs), L)
    i_of_block = np.arange(run_of_block.size) - np.repeat(_cumsum0(L), L)
    block_len = L[run_of_block] - i_of_block
    # pairs: expand each block.
    i = np.repeat(i_of_block, block_len)
    run_of_pair = np.repeat(run_of_block, block_len)
    within = np.arange(i.size) - np.repeat(_cumsum0(block_len), block_len)
    j = i + 1 + within
    base = starts[run_of_pair]
    return hi[base + i], hi[base + j]


def _agg_pairs_batch(
    bs: list[np.ndarray], cs: list[np.ndarray], pack: bool
) -> "object":
    """End-of-partition pre-aggregation of the survivor pair buffer.

    Sort + run-length count: one row per DISTINCT closing pair in this
    partition with its wedge multiplicity. Packed form keys on the
    injective ``(b << 32) | c`` int64 (requires ids < 2^31)."""
    import pyarrow as pa

    b = np.concatenate(bs) if bs else np.empty(0, dtype=np.int64)
    c = np.concatenate(cs) if cs else np.empty(0, dtype=np.int64)
    if not b.size:  # np.r_[True, ...] on empties would index [0]
        empty = pa.array(np.empty(0, dtype=np.int64))
        if pack:
            return pa.RecordBatch.from_arrays([empty, empty], names=["k", "m"])
        return pa.RecordBatch.from_arrays(
            [empty, empty, empty], names=["b", "c", "m"]
        )
    if pack:
        k = (b << np.int64(32)) | c
        ks = np.sort(k, kind="stable")
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        m = np.diff(np.r_[starts, ks.size])
        return pa.RecordBatch.from_arrays(
            [pa.array(ks[starts]), pa.array(m.astype(np.int64))],
            names=["k", "m"],
        )
    order = np.lexsort((c, b))
    bs_, cs_ = b[order], c[order]
    starts = np.flatnonzero(
        np.r_[True, (bs_[1:] != bs_[:-1]) | (cs_[1:] != cs_[:-1])]
    )
    m = np.diff(np.r_[starts, bs_.size])
    return pa.RecordBatch.from_arrays(
        [pa.array(bs_[starts]), pa.array(cs_[starts]), pa.array(m.astype(np.int64))],
        names=["b", "c", "m"],
    )


def _csr_batch_iter(
    batches,
    edge_set_name: str | None = None,
    bloom_state: tuple | None = None,
    pack_pairs: bool = False,
) -> Iterator:
    """mapInArrow kernel: wedge generation over CSR-packed partitions.

    The input partition is hash-distributed by anchor vertex and sorted
    within the partition by (lo, hi_deg, hi) — i.e. the partition IS a
    sorted-CSR block stream. A run may span Arrow batch boundaries, so
    rows of the last (possibly incomplete) run are carried into the next
    batch; the carry is flushed at end-of-partition.

    Arrow in / Arrow out (no pandas Series materialization): each batch
    is two zero-copy int64 views — the per-batch Python cost is the
    NumPy kernel alone. No wedge ever leaves the kernel; two output
    modes:
    - ``edge_set_name`` set (IN-KERNEL EXACT CLOSE): wedges are probed
      against the mmap'd oriented edge set and the kernel emits one
      partial-count row per input partition — no wedge exchange, no
      close join.
    - ``bloom_state`` set (the scale path's residual-close input): the
      (b, c) pairs surviving the fused Bloom probe are BUFFERED per
      partition and emitted ONCE at end-of-partition, PRE-AGGREGATED
      to (key, multiplicity) — wedges from different anchors in this
      partition that share a closing pair collapse to one shuffled row
      (the buffer is ~16 B/survivor, ~T/P rows — MBs per task at any
      scale). With ``pack_pairs`` (caller guarantees ids < 2^31) the
      key is the single int64 ``(b << 32) | c`` — half the exchanged
      key bytes and a one-word join key; past 2^31 ids it falls back
      to (b, c, m).
    """
    import pyarrow as pa

    edge_set = _load_edge_set(edge_set_name) if edge_set_name else None
    pair_b: list[np.ndarray] = []
    pair_c: list[np.ndarray] = []
    total = 0

    def close(lo: np.ndarray, hi: np.ndarray) -> None:
        nonlocal total
        b, c = _run_pairs(lo, hi)
        if not b.size:
            return
        if edge_set is not None:
            total += int(np.count_nonzero(_exact_close_mask(edge_set, b, c)))
        else:
            mask = _bloom_mask(bloom_state, b, c)
            pair_b.append(b[mask])
            pair_c.append(c[mask])

    carry_lo = carry_hi = None
    for batch in batches:
        lo = batch.column("lo").to_numpy(zero_copy_only=False)
        hi = batch.column("hi").to_numpy(zero_copy_only=False)
        if carry_lo is not None and carry_lo.size:
            lo = np.concatenate([carry_lo, lo])
            hi = np.concatenate([carry_hi, hi])
        if not lo.size:
            carry_lo = carry_hi = None
            continue
        cut = int(np.searchsorted(lo, lo[-1], side="left"))
        carry_lo, carry_hi = lo[cut:], hi[cut:]
        if cut:
            close(lo[:cut], hi[:cut])
    if carry_lo is not None and carry_lo.size:
        close(carry_lo, carry_hi)
    if edge_set is not None:
        yield pa.RecordBatch.from_arrays(
            [pa.array([total], type=pa.int64())], names=["n"]
        )
    else:
        yield _agg_pairs_batch(pair_b, pair_c, pack_pairs)


def _wedges_csr(
    oriented: DataFrame,
    edge_set_name: str | None = None,
    bloom_state: tuple | None = None,
    pack_pairs: bool = False,
) -> DataFrame:
    csr = (
        oriented.select("lo", "hi", "hi_deg")
        # Explicit repartition count: the oriented table is small in
        # BYTES, so AQE's byte-based coalescing would otherwise funnel
        # the O(sum deg_out^2) wedge blowup through a handful of tasks
        # (AQE never coalesces a user repartition with an explicit count).
        .repartition(_explode_parts(oriented), "lo")
        .sortWithinPartitions("lo", "hi_deg", "hi")
    )

    def kernel(batches):
        # The Bloom state is a tiny (file, n_words) tuple — safe to
        # close over; the bitmap itself is mmap'd per worker.
        return _csr_batch_iter(batches, edge_set_name, bloom_state, pack_pairs)

    if edge_set_name:
        schema = "n long"
    else:
        schema = "k long, m long" if pack_pairs else "b long, c long, m long"
    return csr.mapInArrow(kernel, schema=schema)


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate all triangles of the canonical undirected edge table.

    Returns (a, b, c) with a < b < c, one row per triangle, exactly.

    Wedges come from the degree-oriented self-join; past
    _BROADCAST_EDGE_LIMIT oriented edges the closing-key Bloom filter
    drops non-closing wedges before the close join's exchange (see
    _BLOOM_BITS_PER_KEY).
    """
    # One materialization: both the wedge join and the close join read
    # the oriented table; without it the degree aggregation + two degree
    # joins run twice. The count is ~free on the checkpointed data and
    # drives the close-join broadcast decision.
    oriented = _oriented(edges).localCheckpoint(eager=True)
    n_edges = oriented.count()
    wedges = _wedges_join(oriented, n_edges)
    if n_edges > _BROADCAST_EDGE_LIMIT:
        state = _close_filter_state(oriented, n_edges)
        wedges = wedges.mapInArrow(_bloom_probe(state), _WEDGE_SCHEMA)
    return _close_wedges(wedges, oriented, n_edges)


def triangle_count(edges: DataFrame) -> int:
    """Exact triangle count through the Arrow-CSR kernel, two regimes:

    - <= _BROADCAST_EDGE_LIMIT: the kernel probes the mmap'd exact edge
      set and emits ONE partial-count row per partition — no wedge row
      is ever materialized outside a NumPy register file, no exchange,
      no close join; the only shuffle is the P-row count aggregate.
      (The edge-set build is a serial driver pass, fine at this size.)
    - past it: the SCALE path. The serial edge-set build would become
      the Amdahl floor (measured: flat ~40 s at 37M edges, collapsing
      the 1 -> 4 executor efficiency to ~0.2 even as absolute walls
      improved), so instead the kernel fuses the Bloom close-key
      pre-filter and emits only the surviving closing pairs,
      PRE-AGGREGATED per partition to (pair, wedge multiplicity) and
      (when ids < 2^31, checked) PACKED into one int64 key, halving the
      exchanged key bytes; one bounded shuffled-hash join against the
      identically-keyed oriented edge set removes the Bloom false
      positives and sum(m) over the matches is the exact count. Every
      stage fans out, the Bloom partial merge included
      (bloom.build_blocked_bloom), so no serial driver term remains.
    """
    oriented = _oriented(edges).localCheckpoint(eager=True)
    n_edges = oriented.count()
    if n_edges <= _BROADCAST_EDGE_LIMIT:
        partials = _wedges_csr(oriented, edge_set_name=_edge_set_file(oriented))
        row = partials.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n")).collect()[0]
        return int(row["n"])
    state = _close_filter_state(oriented, n_edges)
    # Packed single-int64 join key iff every id fits 31 bits (exact —
    # (b << 32) | c is injective there). The max() is ~free on the
    # checkpointed table.
    max_id = oriented.agg(
        F.greatest(F.max("lo"), F.max("hi")).alias("mx")
    ).first()["mx"]
    pack = max_id is not None and int(max_id) < (1 << 31)
    pairs = _wedges_csr(oriented, bloom_state=state, pack_pairs=pack)
    if pack:
        # hi < 2^31 makes | equivalent to +; Catalyst has no int OR on
        # longs cheaper than this shiftleft + add.
        key_cols = ["k"]
        closing = oriented.select(
            (F.shiftleft(F.col("lo"), 32) + F.col("hi")).alias("k")
        )
    else:
        key_cols = ["b", "c"]
        closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    if _shj_safe(oriented.sparkSession, n_edges):
        closing = closing.hint("shuffle_hash")
    else:
        parts = _shj_parts(oriented.sparkSession, n_edges)
        closing = closing.repartition(parts, *key_cols).hint("shuffle_hash")
    row = (
        pairs.join(closing, key_cols)
        .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("n"))
        .first()
    )
    return int(row["n"])


def vertex_triangle_count(tri: DataFrame) -> DataFrame:
    """Triangles incident to each vertex: (id, n_triangles).

    Explode each (a, b, c) triangle into its three vertices, then hash
    aggregate — partial (map-side) combine keeps the shuffle at one row
    per (vertex, partition), so the shuffle volume is O(V * P), not
    O(3 * triangles). Vertices in no triangle are absent (join with
    degrees to densify; ``clustering_coefficient`` does).
    """
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex: (id, degree, n_triangles, lcc).

    lcc = 2 * triangles(v) / (deg(v) * (deg(v) - 1)); vertices with
    degree < 2 get 0.0. Built on the exact triangle kernel, so the cost
    profile (degree-ordered wedges, O(sqrt(2m)) bound per vertex) is
    identical to ``triangles`` plus one broadcast-friendly aggregation.
    """
    tri_per_v = vertex_triangle_count(triangles(edges))
    deg = E.degrees(edges)
    joined = deg.join(tri_per_v, "id", "left_outer").select(
        "id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )
    return joined.withColumn(
        "lcc",
        F.when(
            F.col("degree") >= 2,
            2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)),
        ).otherwise(F.lit(0.0)),
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient, one row:
    (n_triangles, n_wedges, transitivity = 3 * triangles / wedges).

    n_wedges counts unordered connected vertex triples centred anywhere:
    sum over v of C(deg(v), 2) — one degree aggregation plus a scalar
    fold, so the cost beyond the triangle kernel is negligible.
    """
    n_tri = triangle_count(edges)
    deg = E.degrees(edges)
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.col("degree") * (F.col("degree") - 1) / 2), F.lit(0.0)
        ).alias("n_wedges")
    ).collect()[0]["n_wedges"]
    spark = edges.sparkSession
    t = 3.0 * n_tri / wedges if wedges else 0.0
    return spark.createDataFrame(
        [(int(n_tri), int(wedges), float(t))],
        "n_triangles long, n_wedges long, transitivity double",
    )


def edge_support(tri: DataFrame) -> DataFrame:
    """Per-edge triangle count (support): (src, dst, support).

    The peel loop's support recount (Truss.scala:128-134) — explode each
    triangle into its three canonical edges, hash-aggregate.
    """
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("a").alias("src"), F.col("c").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return tri_edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))


def delta_triangles(old_edges: DataFrame, delta_edges: DataFrame) -> DataFrame:
    """Triangles CREATED by an edge delta — incremental triangle
    maintenance (edge additions).

    A new triangle must contain at least one delta edge, so it is
    discoverable from the delta alone: for each delta edge, wedge
    through its lower-degree endpoint's neighbors in the UNION graph,
    close with a semi-join against the union edge set, then dedupe the
    sorted triple (a triangle with k new edges is generated k times —
    `distinct` replaces any inclusion-exclusion bookkeeping). Cost is
    O(sum of delta-endpoint degrees) wedges plus one semi-join — the
    old graph is scanned once for adjacency/degrees of the touched
    endpoints, never re-enumerated; at 10^9 edges with a 10^6-edge
    nightly delta, this is the difference between a full O(sum deg^2)
    recount and a bounded incremental job.

    Reference analogue: none (the reference recounts from scratch each
    run); composes with `triangles` as
    new_total = old_total + delta_triangles(...).count().

    Returns (a, b, c) with a < b < c, new triangles only.
    """
    from pyspark.storagelevel import StorageLevel

    old = old_edges.select("src", "dst")
    # Delta edges not already present contribute novelty; dedupe both
    # within the delta and against the old set.
    delta = (
        delta_edges.select("src", "dst").distinct().join(old, ["src", "dst"], "left_anti")
    )
    # union feeds two consumers (adjacency, close) and adj feeds two
    # (degrees, wedges): persist both so the old-graph derivation runs
    # once, and eagerly materialize the (bounded) result at the end so
    # the caches can be dropped before returning.
    union = old.unionByName(delta).persist(StorageLevel.MEMORY_AND_DISK)
    bidir = union.unionByName(
        union.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ends = (
        delta.select(F.col("src").alias("id"))
        .unionByName(delta.select(F.col("dst").alias("id")))
        .distinct()
    )
    # Adjacency + degrees restricted to delta endpoints (broadcast
    # semi-join: ends is bounded by 2|delta|, so the endpoint filter
    # streams the union scan with no shuffle).
    adj = bidir.join(
        F.broadcast(ends), bidir["src"] == ends["id"], "left_semi"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    d1 = deg.select(F.col("src").alias("_u"), F.col("deg").alias("_du"))
    d2 = deg.select(F.col("src").alias("_v"), F.col("deg").alias("_dv"))
    oriented = (
        delta.join(d1, delta["src"] == d1["_u"])
        .join(d2, delta["dst"] == d2["_v"])
        .select(
            F.when(
                F.struct(F.col("_du"), F.col("src"))
                <= F.struct(F.col("_dv"), F.col("dst")),
                F.struct(
                    F.col("src").alias("lo"), F.col("dst").alias("hi")
                ),
            )
            .otherwise(
                F.struct(F.col("dst").alias("lo"), F.col("src").alias("hi"))
            )
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    wedges = (
        oriented.join(adj, oriented["lo"] == adj["src"])
        .select(
            F.col("lo").alias("a"),
            F.least("hi", "dst").alias("b"),
            F.greatest("hi", "dst").alias("c"),
        )
        .where(F.col("b") != F.col("c"))
    )
    # For the target regime (delta ≪ graph) the wedge table — bounded
    # by Σ deg over delta endpoints — is the SMALL side, so broadcast
    # the wedges and stream the union: the close then costs one scan of
    # the edge table with no O(|E|) shuffle or broadcast. Past the
    # limit (huge delta), fall back to the shared tuned close above.
    wedges = wedges.persist(StorageLevel.MEMORY_AND_DISK)
    n_wedges = wedges.count()
    if n_wedges <= _BROADCAST_EDGE_LIMIT // 4:
        closing = union.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        tri = (
            closing.join(F.broadcast(wedges), ["b", "c"])
            .select(F.array_sort(F.array("a", "b", "c")).alias("t"))
            .select(
                F.col("t")[0].alias("a"),
                F.col("t")[1].alias("b"),
                F.col("t")[2].alias("c"),
            )
        )
    else:
        tri = _close_wedges(
            wedges,
            union.select(F.col("src").alias("lo"), F.col("dst").alias("hi")),
            n_edges=union.count(),
        )
    out = tri.distinct().localCheckpoint(eager=True)
    wedges.unpersist()
    union.unpersist()
    adj.unpersist()
    return out
