"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py

Run from the root of a source checkout. For every workload it checks
that an untraced run prints exactly the end-to-end metrics and a traced
run exactly the per-layer metrics BENCHMARK.json names, with their
units, and that both pass the correctness gate; that a run with one
deliberately corrupted result counts it as failed; and that the command
fails without printing a result in a directory holding only
BENCHMARK.json and the benchmark. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
# one gated result per workload to corrupt
CORRUPT = {
    "import-pipeline": "pagerank.ranks",
    "rmat-truss": "triangles.count",
    "copurchase-durable": "components.resumed_labels",
}


def _run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "toy", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for wl in CORRUPT:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = _run(ROOT, wl, trace)
            expect(code == 0 and res is not None, f"{wl} trace={trace} exits 0")
            if res is None:
                print(err[-3000:], file=sys.stderr)
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace} prints every {key} metric with its unit")
            expect(all(math.isfinite(v["value"]) for v in res["metrics"].values()),
                   f"{wl} trace={trace} values are finite numbers")
            if trace == 0:
                expect(all(res["metrics"][m]["value"] > 0 for m in want),
                       f"{wl} end-to-end values are non-zero")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{wl} trace={trace} passes the gate ({res['attempted']} checked)")
        code, res, _ = _run(ROOT, wl, 0, "--corrupt", CORRUPT[wl])
        expect(code == 0 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{wl} counts corrupted {CORRUPT[wl]} as failed "
               f"({res and res['failed']}/{res and res['attempted']})")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res, _ = _run(bare, "rmat-truss", 0)
        expect(code != 0 and res is None, "fails without a result when linkgraph is absent")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
