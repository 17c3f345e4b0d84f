"""Capacity probe: R-MAT scale-22 graph -> canonicalize -> PageRank +
triangle count on local[32], fresh JVM. Prints one JSON line."""
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from linkgraph.session import build_session
from linkgraph.graph.edges import canonicalize
from linkgraph.graph.pagerank import pagerank
from linkgraph.graph.triangles import triangles
from linkgraph.ingest.rmat import rmat_edges

spark = build_session(app_name="rmat-capacity", master="local[32]")
out = {}
t0 = time.time()
raw = rmat_edges(spark, scale=22, n_edges=16 * (1 << 22))
e = canonicalize(raw).localCheckpoint(eager=True)
m = e.count()
out["edges"] = m
out["gen_canon_s"] = round(time.time() - t0, 1)

t0 = time.time()
res = pagerank(e, max_iter=10)
res.ranks.count()
walls = [c["wall_s"] for c in res.counters if c.get("wall_s")]
steady = walls[2:] if len(walls) > 2 else walls
out["pr_loop_s"] = round(time.time() - t0, 1)
out["pr_steady_superstep_s"] = round(sum(steady) / len(steady), 2)
out["pr_edges_per_sec_per_superstep"] = int(m / (sum(steady) / len(steady)))

t0 = time.time()
n_tri = triangles(e).count()
out["triangles"] = n_tri
out["tri_wall_s"] = round(time.time() - t0, 1)
out["tri_edges_per_sec"] = int(m / out["tri_wall_s"])
print("RESULT " + json.dumps(out))
spark.stop()
