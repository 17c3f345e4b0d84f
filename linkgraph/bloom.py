"""Register-blocked Bloom filter for pre-filtering explosive streams
before their exchange.

Motivation (triangle close join past the broadcast limit,
`graph/triangles.py`): the wedge stream is O(sum deg_out^2) rows but
only triangles + false positives survive the close join against the
oriented edge set. When the edge set no longer broadcasts, the whole
wedge stream crosses the exchange just to be dropped — a Bloom filter
of the closing keys probed INSIDE the Arrow wedge stage removes
~(1 - fpp) of non-triangle wedges before a single byte is shuffled.
Exactness is untouched: the real join still runs and removes the false
positives.

The filter is register-blocked — the idea behind Parquet's split-block
Bloom filter (Putze/Sanders/Singler 2007, "Cache-, Hash- and
Space-Efficient Bloom Filters"): ALL k bits of a key live in ONE 64-bit
word, so a probe is a single random gather plus register-width mask
arithmetic instead of k independent random DRAM reads (with k=7 those
reads were the measured latency wall of the wedge kernel at 678M
probes). Blocking costs extra bits for the same false-positive rate
(keys sharing a word correlate): ~16 bits/key for fpp ~0.5-1%.

Keys are Catalyst's `xxhash64(col1, col2, ...)`: the build computes it
JVM-side, the probe recomputes it executor-side in NumPy
(``xxhash64_longs``, verified bit-for-bit against the JVM in
tests/test_bloom.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix64(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def _xxh64_long(value: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of one 8-byte block (Spark XXH64.hashLong)."""
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl64(value * _P2, 31) * _P1
    h = _rotl64(h, 27) * _P1 + _P4
    return _fmix64(h)


def xxhash64_longs(columns: list[np.ndarray], seed: int = 42) -> np.ndarray:
    """Catalyst `xxhash64(c1, c2, ...)` over BIGINT columns, vectorized.

    Column i's hash becomes column i+1's seed (HashExpression fold).
    Returns uint64 (reinterpret as int64 for the JVM's signed view).
    """
    with np.errstate(over="ignore"):
        h = np.full(len(columns[0]), np.uint64(seed), dtype=np.uint64)
        for col in columns:
            h = _xxh64_long(col.astype(np.int64).view(np.uint64), h)
    return h


# The build is distributed END-TO-END: the kernel emits SPARSE
# (word index, word) pairs and a Catalyst hash aggregate
# groupBy(idx).agg(bit_or(w)) OR-merges them — partial aggregation
# combines map-side, the exchange carries only distinct-per-task set
# words, and the merge parallelizes over the cluster. The driver
# receives exactly ONE merged result (<= n_words sparse rows, ~2x the
# final bitmap's bytes), scatters it into the dense bitmap, and
# mmap-shares it to workers via linkgraph.mmapshare (one page-cache
# copy per node; the probe state shipped through closures is just
# (name, n_words)). Collecting dense per-partition bitmaps for a
# driver-side OR instead would be linear in |E| (297 MB per partial at
# 148.6M edges) — a multi-GB serial driver term at 1e9 edges.

_BB_K = 8
_BB_PHI = np.uint64(0x9E3779B97F4A7C15)  # odd; splitmix64's golden gamma
_BB_C2 = np.uint64(0xBF58476D1CE4E5B9)   # odd; splitmix64 mix constant


def _bb_idx_mask(h: np.ndarray, n_words: int) -> tuple[np.ndarray, np.ndarray]:
    """(word index, 8-bit-set word mask) per key hash.

    ``h`` must already be avalanched (xxhash64). The word index uses h
    directly; the 8 in-word bit positions come from 6-bit chunks of an
    independent second mix (h * PHI then a xor-shift-multiply round),
    so index and bits are decorrelated.
    """
    with np.errstate(over="ignore"):
        idx = (h % np.uint64(n_words)).astype(np.int64)
        g = h * _BB_PHI
        g ^= g >> np.uint64(30)
        g *= _BB_C2
        mask = np.zeros(len(h), dtype=np.uint64)
        for i in range(_BB_K):
            mask |= np.uint64(1) << ((g >> np.uint64(6 * i)) & np.uint64(63))
    return idx, mask


def _bb_sparse_pairs(n_words: int):
    """mapInArrow kernel: per input batch, the DISTINCT (word index,
    8-bit-set word) pairs its keys touch — the sparse form of the
    bitmap update, deduped within the batch by sort + OR-reduceat
    (ufunc.at is ~50x slower). Cross-batch / cross-partition dedup is
    the downstream hash aggregate's partial-merge job, so the kernel
    holds O(batch) memory, never O(n_words)."""

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            h = batch.column("h").to_numpy(zero_copy_only=False).view(np.uint64)
            if not h.size:
                continue
            idx, mask = _bb_idx_mask(h, n_words)
            order = np.argsort(idx, kind="stable")
            si, sm = idx[order], mask[order]
            starts = np.flatnonzero(np.r_[True, si[1:] != si[:-1]])
            red = np.bitwise_or.reduceat(sm, starts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(si[starts]), pa.array(red.view(np.int64))],
                names=["idx", "w"],
            )

    return gen


def build_blocked_bloom(
    df: DataFrame, cols: list[str], expected_items: int, bits_per_key: int = 16
) -> tuple[str, str, int]:
    """Distributed blocked-Bloom build over xxhash64(cols).

    The OR-merge of partition partials runs EXECUTOR-SIDE as a
    Catalyst hash aggregate over sparse (idx, w) pairs: partial
    aggregation combines duplicates map-side before the exchange, the
    final aggregate parallelizes across the cluster, and the only
    driver transfer is the single merged sparse result (<= n_words
    rows; at ~4 keys/word essentially every word is set, so ~16 B/word
    = 2x the bitmap's 8 B/word). No dense partial ever crosses to the
    driver and no driver.maxResultSize tuning is needed at any |E|.

    Returns the probe state ``(file_name, n_words)`` — plain picklable
    values; workers mmap the bitmap on first probe.
    """
    n_words = max(64, -(-int(expected_items) * int(bits_per_key) // 64))
    keyed = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h"))
    merged = (
        keyed.mapInArrow(_bb_sparse_pairs(n_words), schema="idx bigint, w bigint")
        .groupBy("idx")
        .agg(F.bit_or("w").alias("w"))
    )
    pdf = merged.toPandas()
    bitmap = np.zeros(n_words, dtype=np.uint64)
    if len(pdf):
        bitmap[pdf["idx"].to_numpy(np.int64)] = (
            pdf["w"].to_numpy(np.int64).view(np.uint64)
        )
    del pdf
    from linkgraph import mmapshare

    name = mmapshare.stage_array(
        df.sparkSession.sparkContext, bitmap.view(np.int64), prefix="linkgraph_bbloom"
    )
    return (name, n_words)


def blocked_contains(state: tuple, h: np.ndarray) -> np.ndarray:
    """Worker-side probe: one gather + mask compare per key."""
    name, n_words = state
    from linkgraph import mmapshare

    words = mmapshare.load_array(name).view(np.uint64)
    idx, mask = _bb_idx_mask(h.view(np.uint64), n_words)
    return (words[idx] & mask) == mask
