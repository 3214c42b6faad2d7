#!/usr/bin/env python3
"""PPDB service benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source (see build.py), then runs
one workload in one JVM on Spark local[N], N = min(4, cores). The last line
of standard output is the result JSON: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. --self-test runs the
benchmark's own tests. Workloads and metrics are described in README.md.
Run from the repository root; all state lives under .bench_work/ there.
"""
import argparse
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["stream_staged", "stream_jdbc"]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    try:
        b = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    name = "selftest" if a.self_test else a.workload
    work = build.new_work_dir(name)
    if a.self_test:
        cmd = b.java(work, "ppdbbench.SelfTest", [])
    else:
        cmd = b.java(work, "ppdbbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--work", str(work)])
    try:
        code = subprocess.run(cmd, cwd=build.ROOT, env=b.env(work),
                              timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: {name} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
