"""Spans around the benchmark's calls into linkgraph, and the per-layer
metrics derived from them and the Spark event log.

A span is (id, name, layer, unit, start, end, parent, run). Entering a
span makes its id the Spark job group of the calling thread, so every
job, stage and task Spark runs on the span's behalf carries it in the
event log; nothing inside linkgraph is touched. Spans are held in
memory and handed back when the run ends.

``unit`` groups spans that form one repetition of the measured work
(one setup, one timed iteration); each per-layer value is the median
over units of the per-unit sum, so it reads as "per iteration".
"""

from __future__ import annotations

import glob
import itertools
import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

LAYERS = (
    "setup", "datasets", "ingest", "triangles", "truss",
    "pagerank", "components", "labelprop", "checkpoint",
)
COUNTERS = (
    ("wall_s", "s", "lower"), ("task_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("util", "ratio", "higher"), ("jobs", "count", "lower"),
    ("tasks", "count", "lower"), ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"), ("fetch_wait_s", "s", "lower"),
    ("spill_mb", "MB", "lower"), ("failed_tasks", "count", "lower"),
)
# Counters measured at the call boundary (results, checkpoint dirs).
EXTRAS = (
    ("pagerank.supersteps", "count", "lower"), ("pagerank.superstep_s", "s", "lower"),
    ("components.rounds", "count", "lower"), ("labelprop.rounds", "count", "lower"),
    ("labelprop.delta_rounds", "count", "higher"), ("truss.rounds", "count", "lower"),
    ("truss.probes", "count", "lower"), ("truss.probe_reuse_frac", "ratio", "higher"),
    ("truss.durable_kmax_error", "count", "lower"),
    ("checkpoint.output_mb", "MB", "lower"), ("checkpoint.resume_s", "s", "lower"),
    ("ingest.edges_per_mention", "ratio", "higher"),
    ("setup.session_s", "s", "lower"), ("setup.warmup_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
PER_LAYER = [
    (f"{layer}.{name}", unit, better)
    for layer in LAYERS for name, unit, better in COUNTERS
] + list(EXTRAS)

_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    never sets a job group, so untraced runs execute the plain calls."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.unit = "none"
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = f"{self.run_id}.{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "unit": self.unit,
               "parent": parent, "run": self.run_id, "start": time.time()}
        self._stack.append(sid)
        self.sc.setJobGroup(sid, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            self.sc.setJobGroup(parent or f"{self.run_id}.root", "benchmark")


def read_event_log(log_dir: str) -> tuple[Counter, dict]:
    """Per job group: the number of jobs, and summed task metrics."""
    jobs: Counter = Counter()
    stage_group: dict[int, str] = {}
    tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        jobs[group] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    acc = tasks[stage_group[ev["Stage ID"]]]
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    acc["tasks"] += 1
                    acc["failed_tasks"] += ev["Task End Reason"]["Reason"] != "Success"
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
                    acc["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / _MB
                    acc["fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1000.0
                    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return jobs, tasks


def layer_metrics(spans: list[dict], log_dir: str, cores: int) -> dict[str, float]:
    """``<layer>.<counter>`` medians over units; 0 for layers not run."""
    jobs, tasks = read_event_log(log_dir)
    child_time: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child_time[s["parent"]] += s["end"] - s["start"]
    per_unit: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc = per_unit[(s["layer"], s["unit"])]
        # self time: a checkpoint superstep inside pagerank counts once,
        # under checkpoint, not again under pagerank.
        acc["wall_s"] += s["end"] - s["start"] - child_time[s["id"]]
        acc["jobs"] += jobs[s["id"]]
        for key, val in tasks.get(s["id"], {}).items():
            acc[key] += val
    out = {}
    for layer in LAYERS:
        units = [acc for (lay, _), acc in per_unit.items() if lay == layer]
        for name, _, _ in COUNTERS:
            if name == "util":
                continue
            out[f"{layer}.{name}"] = (
                statistics.median(u[name] for u in units) if units else 0.0
            )
        wall = out[f"{layer}.wall_s"]
        out[f"{layer}.util"] = out[f"{layer}.task_s"] / (wall * cores) if wall else 0.0
    return out
