"""Tracing overhead of one workload: runs run.py untraced and traced on
the same seeds (alternating) and compares the medians of the figures a
traced run reports about itself (``trace.cpu_ms_per_unit``) with the
untraced ones.

    python3 perfbench/overhead.py --workload live_tail --seeds 101 102 103
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: incorrect run")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain, traced = [], []
    for seed in args.seeds:
        plain.append(run(args.workload, seed, args.seconds, 0))
        traced.append(run(args.workload, seed, args.seconds, 1))
    report = {"workload": args.workload, "seeds": args.seeds}
    # overhead: how much more CPU the traced runs use (a share; < 0 = less)
    a = statistics.median(m["cpu_ms_per_unit"] for m in plain)
    b = statistics.median(m["trace.cpu_ms_per_unit"] for m in traced)
    report["cpu_ms_per_unit"] = {"untraced": a, "traced": b, "overhead": b / a - 1}
    report["spans_per_run"] = statistics.median(m["trace.spans"] for m in traced)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
