"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload run.py knows (those in BENCHMARK.json and
pip_contains) at a tiny input size on two seeds: seed 1 untraced, seed 2
traced. Each run must exit 0 (run.py fails when a metric BENCHMARK.json
declares is missing), check correct against the oracle and fail no job.
Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402

SCALE = "0.004"


def main():
    for name in WORKLOADS:
        for seed, trace in ((1, 0), (2, 1)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                   "--scale", SCALE]
            res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                                 timeout=600)
            lines = res.stdout.strip().splitlines()
            label = f"{name} seed {seed} trace {trace}"
            if res.returncode != 0 or not lines:
                sys.exit(f"FAIL {label}: exit {res.returncode}")
            out = json.loads(lines[-1])
            if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
                sys.exit(f"FAIL {label}: oracle check: {lines[-2] if len(lines) > 1 else out}")
            print(f"ok   {label}: {out['attempted']} jobs checked, "
                  f"{len(out['metrics'])} metrics")


if __name__ == "__main__":
    main()
