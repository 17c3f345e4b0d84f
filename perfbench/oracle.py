"""Independent reference results for every gated benchmark output.

Everything here runs in the benchmark's own process over the staged input
files with DuckDB and NumPy; nothing imports ``linkgraph``. Each
function restates the documented semantics of one public call:

- import edges: the import-regex + module-index resolution of
  ``linkgraph.ingest.import_edges`` (ids are Spark's ``abs(xxhash64)``
  of the repo name, replicated by :func:`spark_xxhash64`);
- co-purchase edges: the self-join of ``datasets.co_purchase_edges``;
- triangles / k-truss / max-truss: exact enumeration + peeling;
- PageRank: undirected power iteration with the same stopping rule;
- connected components: minimum vertex id per component;
- label propagation: synchronous, most frequent neighbour label, ties to
  the minimum label, period-2 orbits resolved to the smaller label.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def spark_xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as Spark's ``xxhash64`` returns it (signed)."""
    n, i = len(data), 0

    def word(at: int, width: int) -> int:
        return int.from_bytes(data[at:at + width], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((word(i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def repo_id(name: str) -> int:
    """``abs(xxhash64(name))`` — the engine's stable vertex id."""
    return abs(spark_xxhash64(name.encode("utf-8")))


def canonical(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """(E, 2) int64 array of distinct (lo, hi) pairs, self-loops dropped."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    pairs = np.stack([lo[keep], hi[keep]], axis=1).astype(np.int64)
    if len(pairs) == 0:
        return pairs.reshape(0, 2)
    return np.unique(pairs, axis=0)


def import_edges(corpus_dir: str) -> tuple[np.ndarray, int]:
    """(canonical repo-level import edges, resolved import mentions) of
    the staged corpus; mentions are counted before deduplication."""
    rows = duckdb.sql(
        f"""
        WITH c AS (SELECT * FROM read_parquet('{corpus_dir}/*.parquet')),
        idx AS (
          SELECT DISTINCT
            regexp_extract(repo, '(repo\\d+)$', 1) || '.' ||
            regexp_extract(path, '(mod\\d+)\\.\\w+$', 1) AS module,
            repo AS dst_repo
          FROM c),
        m AS (
          SELECT repo, unnest(regexp_extract_all(content, CASE lang
            WHEN 'python' THEN '(?m)^\\s*(?:import|from)\\s+([\\w\\.]+)'
            WHEN 'scala'  THEN '(?m)^\\s*import\\s+([\\w\\.]+)'
            WHEN 'java'   THEN '(?m)^\\s*import\\s+(?:static\\s+)?([\\w\\.]+)'
            ELSE '(?m)^\\s*(?:import|from|#include|require|use)\\s+["<]?([\\w\\./]+)'
            END, 1)) AS module
          FROM c)
        SELECT m.repo, idx.dst_repo, count(*) AS n
        FROM m JOIN idx USING (module)
        WHERE idx.module <> '.' AND m.repo <> idx.dst_repo
        GROUP BY ALL
        """
    ).fetchall()
    ids = {}
    for a, b, _ in rows:
        for name in (a, b):
            if name not in ids:
                ids[name] = repo_id(name)
    src = np.fromiter((ids[r[0]] for r in rows), np.int64, len(rows))
    dst = np.fromiter((ids[r[1]] for r in rows), np.int64, len(rows))
    return canonical(src, dst), sum(r[2] for r in rows)


def raw_edges(edge_dir: str) -> tuple[int, np.ndarray]:
    """(raw row count, canonical edges) of a staged (src, dst) table."""
    tbl = duckdb.sql(
        f"SELECT src, dst FROM read_parquet('{edge_dir}/*.parquet')"
    ).fetchnumpy()
    return len(tbl["src"]), canonical(tbl["src"], tbl["dst"])


def co_purchase_edges(lineitem: str, min_quantity: float | None = None) -> np.ndarray:
    """Canonical part pairs sharing an order (optionally quantity-filtered)."""
    where = "" if min_quantity is None else f"WHERE l_quantity >= {min_quantity}"
    tbl = duckdb.sql(
        f"""
        WITH ps AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM read_parquet('{lineitem}') {where})
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM ps a JOIN ps b USING (ok) WHERE a.pk < b.pk
        """
    ).fetchnumpy()
    return canonical(tbl["src"], tbl["dst"])


def triangles(edges: np.ndarray) -> np.ndarray:
    """(T, 3) edge-row indices (ab, bc, ac) of every triangle a<b<c."""
    con = duckdb.connect()
    con.register("e", pd.DataFrame(
        {"i": np.arange(len(edges), dtype=np.int64), "s": edges[:, 0], "d": edges[:, 1]}))
    tri = con.sql(
        """
        SELECT e1.i AS ab, e2.i AS bc, e3.i AS ac
        FROM e e1 JOIN e e2 ON e1.d = e2.s
                  JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d
        """
    ).fetchnumpy()
    con.close()
    return np.stack([tri["ab"], tri["bc"], tri["ac"]], axis=1).astype(np.int64)


def truss_mask(n_edges: int, tri: np.ndarray, k: int,
               alive: np.ndarray | None = None) -> np.ndarray:
    """Edges of the k-truss: peel edges supported by < k-2 live triangles."""
    alive = np.ones(n_edges, bool) if alive is None else alive.copy()
    live = alive[tri].all(axis=1)
    while True:
        support = np.bincount(tri[live].ravel(), minlength=n_edges)
        dead = alive & (support < k - 2)
        if not dead.any():
            return alive
        alive &= ~dead
        live &= alive[tri].all(axis=1)


def max_truss_k(n_edges: int, tri: np.ndarray) -> int:
    """Largest k with a non-empty k-truss (2 when there is no triangle)."""
    k, alive = 2, np.ones(n_edges, bool)
    while True:
        nxt = truss_mask(n_edges, tri, k + 1, alive)
        if not nxt.any():
            return k
        k, alive = k + 1, nxt


def _index(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(sorted vertex ids, src index, dst index) of the mirrored links."""
    ids, inv = np.unique(edges.ravel(), return_inverse=True)
    inv = inv.reshape(-1, 2)
    src = np.concatenate([inv[:, 0], inv[:, 1]])
    dst = np.concatenate([inv[:, 1], inv[:, 0]])
    return ids, src, dst


def pagerank(edges: np.ndarray, max_iter: int, tol: float,
             damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """(ids, ranks) of undirected PageRank (each edge links both ways)."""
    ids, src, dst = _index(edges)
    n = len(ids)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
        new = (1.0 - damping) / n + damping * contrib
        delta = np.abs(new - rank).max()
        rank = new
        if tol > 0 and delta < tol:
            break
    return ids, rank


def components(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, label) with label = the minimum vertex id of the component."""
    ids, src, dst = _index(edges)
    label = np.arange(len(ids))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, src, label[dst])
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            return ids, ids[label]
        label = nxt


def label_propagation(edges: np.ndarray, max_iter: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, label) of deterministic synchronous label propagation."""
    ids, src, dst = _index(edges)
    label, prev = ids.copy(), ids.copy()
    for _ in range(max_iter):
        # votes per (vertex, neighbour label); winner = max count, min label
        votes, counts = np.unique(
            np.stack([src, label[dst]], axis=1), axis=0, return_counts=True
        )
        order = np.lexsort((votes[:, 1], -counts, votes[:, 0]))
        first = np.ones(len(order), bool)
        first[1:] = votes[order[1:], 0] != votes[order[:-1], 0]
        new = label.copy()
        new[votes[order[first], 0]] = votes[order[first], 1]
        changed = int((new != label).sum())
        changed2 = int((new != prev).sum())
        label, prev = new, label
        if changed == 0:
            break
        if changed2 == 0:
            label = np.minimum(label, prev)
            break
    return ids, label
