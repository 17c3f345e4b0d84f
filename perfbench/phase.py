"""One Spark application of the benchmark: set up, compute the oracle,
warm up, run the timed iterations, check every result, and write what it
measured as JSON.

Started by run.py in a fresh process (and process group) with the
environment pinned there; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

SETUP_REPS = 3   # set-up is repeated and its median reported
# Timed iterations: one per ITER_SECONDS of --seconds, at least MIN_ITERS.
# The count is fixed by the arguments, never by measured time: the first
# iterations after the warm-up are still slower, so a count that grew
# whenever the machine ran fast would shift the median with it.
ITER_SECONDS = 5
MIN_ITERS = 2
# Driver heap, also the initial heap (-Xms): inputs stay under 100k edges,
# and a heap that never resizes keeps peak RSS from depending on when G1
# decided to grow it (without -Xms peak RSS varied by a quarter between runs).
DRIVER_MEM = "1536m"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _perturb(value):
    """The deliberately corrupted result the self-test injects."""
    if isinstance(value, tuple):
        return value[:-1] + (_perturb(value[-1]),)
    if isinstance(value, np.ndarray):
        value = value.copy()
        value.flat[0] += 1
        return value
    return value + 1


def _equal(got, expected) -> bool:
    if isinstance(got, tuple):
        return len(got) == len(expected) and all(map(_equal, got, expected))
    if isinstance(got, np.ndarray) or isinstance(expected, np.ndarray):
        return np.array_equal(np.asarray(got), np.asarray(expected))
    return got == expected


class Run:
    """State of one application: the session, its tracer, the gate's
    tallies and the per-iteration operator times."""

    def __init__(self, spark, tracer, cores: int, work: str, corrupt: str | None):
        self.spark, self.tracer, self.cores = spark, tracer, cores
        self.work, self.corrupt = work, corrupt
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.known_defects: list[dict] = []
        self.times: dict[str, float] = {}
        self.last_s = 0.0
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def op(self, metric: str, layer: str, name: str, fn):
        """Time one public call up to its materialized result."""
        t0 = time.perf_counter()
        with self.tracer.span(name, layer):
            out = fn()
        self.last_s = time.perf_counter() - t0
        self.times[metric] = self.times.get(metric, 0.0) + self.last_s
        return out

    def _record(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def check(self, name: str, got, expected) -> None:
        if name == self.corrupt:
            got = _perturb(got)
        self._record(name, _equal(got, expected))

    def check_ranks(self, name: str, pdf, expected) -> None:
        """PageRank: same vertex set, allclose 1e-6, ranks sum to 1."""
        pdf = pdf.sort_values("id")
        ids, ranks = pdf["id"].to_numpy(np.int64), pdf["rank"].to_numpy(np.float64)
        if name == self.corrupt:
            ranks = _perturb(ranks)
        exp_ids, exp_ranks = expected
        self._record(name, np.array_equal(ids, exp_ids)
                     and np.allclose(ranks, exp_ranks, rtol=0.0, atol=1e-6)
                     and abs(ranks.sum() - 1.0) < 1e-9)

    def iteration(self, wl, staged: dict, exp: dict) -> dict | None:
        """One iteration; an exception counts as a failed operation."""
        self.times = {}
        try:
            return wl.iteration(staged, exp)
        except Exception:
            traceback.print_exc()
            self._record(f"exception in {wl.name} iteration", False)
            return None


def _timed_loop(run, wl, staged: dict, exp: dict, seconds: float, traced: bool):
    """The timed iterations for ``seconds``. With ``traced``, each iteration runs twice, untraced and
    with spans, in alternating order, so both see the same warmth of JVM
    and caches. Returns (untraced samples, traced samples, median
    counters, count)."""
    modes = (False, True) if traced else (False,)
    samples: dict[bool, dict[str, list[float]]] = {m: {} for m in modes}
    extras: dict[str, list[float]] = {}
    n_iters = max(MIN_ITERS, int(seconds // ITER_SECONDS))
    for n in range(n_iters):
        for mode in (modes if n % 2 == 0 else modes[::-1]):
            run.tracer.enabled = mode
            run.tracer.unit = f"iter{n}"
            counters = run.iteration(wl, staged, exp)
            if counters is None:
                continue
            ops = run.times
            per_iter = {f"{k}_s": v for k, v in ops.items()}
            per_iter["analytics_s"] = sum(v for k, v in ops.items() if k != "ingest")
            per_iter["wall_s"] = sum(ops.values())
            for k, v in per_iter.items():
                samples[mode].setdefault(k, []).append(v)
            for k, v in counters.items():
                extras.setdefault(k, []).append(v)
    medians = {k: statistics.median(v) for k, v in extras.items()}
    return samples[False], samples.get(True), medians, n_iters


def _session(args, cores: int):
    from linkgraph.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(args.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = build_session("linkgraph-perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--size", default="bench")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--corrupt", default=None)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    root = os.environ["PYTHONPATH"].split(os.pathsep)[0]

    import linkgraph
    if not os.path.abspath(linkgraph.__file__).startswith(os.path.abspath(root) + os.sep):
        raise SystemExit(f"linkgraph imported from {linkgraph.__file__}, not {root}")
    import spans
    import workloads

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = _session(args, cores)
    session_s = time.perf_counter() - t0

    tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}-{int(args.traced)}",
                       bool(args.traced))
    run = Run(spark, tracer, cores, args.work, args.corrupt)
    wl = workloads.WORKLOADS[args.workload](run, args.size)

    setup_s, staged, prev = [], None, None
    for rep in range(SETUP_REPS):
        tracer.unit = f"setup{rep}"
        d = run.fresh_dir("input")
        t = time.perf_counter()
        with tracer.span("stage_inputs", "setup"):
            staged = wl.stage(d, args.seed)
        setup_s.append(time.perf_counter() - t)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        prev = d

    t = time.perf_counter()
    exp = wl.expect(staged)
    oracle_s = time.perf_counter() - t

    # Warm-up iteration: checked, but neither timed nor traced.
    tracer.enabled = False
    t = time.perf_counter()
    run.iteration(wl, staged, exp)
    warmup_s = time.perf_counter() - t

    samples, traced, counters, n = _timed_loop(
        run, wl, staged, exp, args.seconds, bool(args.traced))

    tracer.enabled, tracer.unit = bool(args.traced), "after"
    once = wl.after_loop(staged, exp)
    peak_rss_mb = _vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
    env = {
        "nproc": os.cpu_count(), "cores_used": cores,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1024**3, 1),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    spark.stop()

    result = {
        "samples": samples,
        "setup_s": setup_s,
        "session_s": session_s, "oracle_s": oracle_s, "warmup_s": warmup_s,
        "iterations": n,
        "peak_rss_mb": peak_rss_mb,
        "attempted": run.attempted, "failed": run.failed,
        "failures": run.failures, "known_defects": run.known_defects,
        "counters": counters | once,
        "inputs": wl.inputs(exp),
        "env": env,
    }
    if args.traced:
        result["traced_samples"] = traced
        result["spans"] = tracer.spans
        result["layers"] = spans.layer_metrics(
            tracer.spans, os.path.join(args.work, "eventlog"), cores)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
