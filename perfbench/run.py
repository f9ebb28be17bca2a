"""Product-path benchmark of dwds-livestream-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: live_tail, batch_queries
(see perfbench/README.md). Inputs are generated from --seed inside
perfbench/.work/ and removed afterwards. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and
the spans of a traced run are written to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dwds_livestream_spark")):
        print("perfbench: the dwds_livestream_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(BENCH) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    from batch import batch_queries
    from common import Tracer, describe_session, start_session
    from live import live_tail

    workloads = {"live_tail": live_tail, "batch_queries": batch_queries}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tracer = Tracer(bool(args.trace), T_START)

    def start():
        spark = start_session(work)
        tracer.mark("session")
        return spark, time.perf_counter() - T_START

    # the session starts while the workload generates its inputs; the
    # workload blocks on session() once it needs Spark
    pool = ThreadPoolExecutor(1)
    future = pool.submit(start)
    try:
        out = workloads[args.workload](future.result, work, args.seed, args.seconds, tracer)
        info = describe_session(future.result()[0])
    finally:
        if future.exception() is None:
            _stop_session(future.result()[0])
        pool.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    tracer.mark("end")

    if tracer.enabled:
        dump = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(dump)
        out["layers"]["trace.spans"] = float(len(tracer.spans))
        # the traced run's own end-to-end figures: comparing them with the
        # untraced runs' medians gives the tracing overhead
        out["layers"]["trace.cpu_ms_per_unit"] = out["e2e"]["cpu_ms_per_unit"]

    unit_of = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if tracer.enabled else "end_to_end"]]
    source = out["layers" if tracer.enabled else "e2e"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": unit_of[n]} for n in names}
    info.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "load": out["load"], "check": out["check"],
        "wall": out["wall"],
        "timeline_s": tracer.timeline,
        "selection": "single run, every figure reported; no best-of-N, no retries",
    })
    print(json.dumps({"perfbench": info}))
    print(json.dumps({
        "correct": out["failed"] == 0, "attempted": int(out["attempted"]),
        "failed": int(out["failed"]), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on failure
        traceback.print_exc()
        sys.exit(1)
