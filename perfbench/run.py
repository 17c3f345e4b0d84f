"""linkgraph benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Each run starts the measured
Spark application in a fresh process group on ``local[min(nproc, 4)]``,
with every scratch file (Spark local dirs, temp files, checkpoints,
staged inputs, event log) under ``.perfbench_work/`` in the checkout,
and removes it afterwards.

``--trace 0`` prints the end-to-end metrics of an untraced run.
``--trace 1`` turns the Spark event log on, runs every timed iteration
twice, untraced and with spans around every call into linkgraph, and
prints the per-layer metrics of the traced iterations, with the tracing
overhead as traced wall_s minus untraced wall_s.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds details (environment, input sizes, per-operator medians, known
defects, and with ``--trace 1`` every recorded span). ``--size toy`` and ``--corrupt <check>`` exist for
perfbench/selftest.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 175.0   # every run must end within 180 s
WORKLOADS = ("import-pipeline", "rmat-truss", "copurchase-durable")


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is the state, fields[2] the process group
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the group (JVM, Python workers) and wait."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _application(args, root: str, work: str, deadline: float) -> dict:
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cores = min(len(os.sched_getaffinity(0)), 4)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "phase.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--size", args.size,
           "--traced", str(args.trace), "--work", work, "--out", out]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    # stdout of the application goes to our stderr: our stdout carries
    # only the result lines.
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"application exited with {code}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "toy"), default="bench")
    ap.add_argument("--corrupt", default=None, help="check whose result is perturbed")
    args = ap.parse_args()
    # a terminated benchmark still stops its application and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "linkgraph", "__init__.py")):
        print(f"no linkgraph package under {root}", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = _application(args, root, work, deadline)
    except (RuntimeError, OSError, ValueError) as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    med = {k: statistics.median(v) for k, v in res["samples"].items()}
    if not args.trace:
        metrics = {
            "wall_s": (med["wall_s"], "s"),
            "setup_s": (statistics.median(res["setup_s"]), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "analytics_s": (med["analytics_s"], "s"),
        }
    else:
        import spans

        traced = {k: statistics.median(v) for k, v in res["traced_samples"].items()}
        layers = dict(res["layers"])
        layers.update(res["counters"])
        layers["setup.session_s"] = res["session_s"]
        layers["setup.warmup_s"] = res["warmup_s"]
        sup = layers.get("pagerank.supersteps", 0)
        layers["pagerank.superstep_s"] = traced["pagerank_s"] / sup if sup else 0.0
        layers["trace.overhead_s"] = traced["wall_s"] - med["wall_s"]
        metrics = {name: (float(layers.get(name, 0.0)), unit)
                   for name, unit, _ in spans.PER_LAYER}

    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": res["env"], "inputs": res["inputs"], "iterations": res["iterations"],
        "per_op_median_s": med, "counters": res["counters"],
        "setup_s": res["setup_s"], "session_s": res["session_s"],
        "oracle_s": res["oracle_s"], "warmup_s": res["warmup_s"],
        "failures": res["failures"], "known_defects": res["known_defects"],
    }
    if args.trace:
        details["spans"] = res["spans"]
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
