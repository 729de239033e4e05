"""Benchmark self-check: two traced runs at the same seed must give every
op exactly the same Spark job, stage and task counts.

Usage (from the repository root):

    python3 perfbench/selfcheck.py --workload llm_operators --seed 1 [--seconds 10]

Exits 0 when every op's (jobs, stages, tasks) matches across both runs
and across the traced passes within each run, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_counts(workload: str, seed: int, seconds: float, out: str) -> list[dict]:
    subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1", "--counts-out", out,
        ],
        check=True,
        cwd=ROOT,
        stdout=subprocess.DEVNULL,
    )
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    runs = [
        traced_counts(
            args.workload, args.seed, args.seconds,
            os.path.join(out_dir, f"counts-{args.workload}-{args.seed}-{k}.json"),
        )
        for k in range(2)
    ]
    passes = [p for run in runs for p in run]
    first = passes[0]
    bad = sorted(
        name for name in first if any(p.get(name) != first[name] for p in passes[1:])
    )
    for name in sorted(first):
        shapes = {tuple(p[name]) for p in passes if name in p}
        print(f"{'MISMATCH' if name in bad else 'same    '} {name}: {sorted(shapes)}")
    print(f"{len(passes)} traced passes over 2 runs; {len(bad)} of {len(first)} ops differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
