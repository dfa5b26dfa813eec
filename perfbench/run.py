#!/usr/bin/env python3
"""graft benchmark: seeded workloads driven through graft's public API.

Usage, from the repository root:

    python3 perfbench/run.py --workload ann_batch --seed 1 --seconds 5 --trace 0

Workloads: ann_batch, doc_ingest, index_upsert (see perfbench/README.md).
Builds graft and the benchmark from source on first use (perfbench/build.py),
then runs one JVM that generates the inputs from the seed, sets up, runs a
closed loop of operations sized from --seconds and checks the outputs. The last line of standard
output is the result object; the line before it is the full report, which
is also written under .bench_work/.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ann_batch", "doc_ingest", "index_upsert")
RUN_TIMEOUT_S = 170

def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    a = p.parse_args()

    root = os.getcwd()
    try:
        classpath, flags = build.build(root)
    except build.BuildError as e:
        sys.stderr.write(f"graftbench: build failed: {e}\n")
        return 2

    work = os.path.join(root, ".bench_work", a.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_prefix(classpath, work, flags) + ["graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"graftbench: run exceeded {RUN_TIMEOUT_S} s, killed\n")
        return 3
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(f"graftbench: JVM exited with {proc.returncode}\n")
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write("graftbench: last output line is not the result object\n")
        return 5
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write("graftbench: last output line is not the result object\n")
        return 5
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
