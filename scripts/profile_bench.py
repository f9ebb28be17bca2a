"""Per-query profiling harness for the optimization rounds.

Reproduces bench.py's measurement conditions (same session factory,
same warmup, same cache-cold-per-query protocol, same timed action
df.count()) but adds:

  - N repeated runs per query (first = bench-comparable, min/steady
    recorded separately) so JIT tails are visible;
  - the last run's jobs, stages, tasks and job durations, read from
    the JVM status store after the run (measure.jobs_since), so
    multi-second numbers decompose into "how many sequential jobs x
    stages" instead of guesswork. The UI stays off as in the bench,
    so one run gives both the timings and the decomposition;
  - optional .explain('formatted') capture to a file (the r12/r13
    captures are in git at f998491:plans/r12/ and
    f998491:plans/r13/).

Usage:
  python scripts/profile_bench.py q1 q2 ...      # profile named queries
  python scripts/profile_bench.py --top 15       # slowest 15 from BENCH.out.json
  python scripts/profile_bench.py q --explain q_before.txt
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dwds_livestream_spark.measure import (  # noqa: E402
    jobs_since,
    last_job_id,
    warm_up,
)
from dwds_livestream_spark.plans import QUERIES  # noqa: E402
from dwds_livestream_spark.session import (  # noqa: E402
    build_session,
    drop_leftover_state,
)


def profile(names: list[str], runs: int, explain_to: str | None,
            sf_dir: str) -> None:
    spark = build_session(app_name="dwds-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        times: list[float] = []
        setups: list[float] = []
        for i in range(runs):
            drop_leftover_state(spark)
            j0 = last_job_id(spark)
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            times.append(round(t2 - t0, 3))
            setups.append(round(t1 - t0, 3))
            if explain_to and i == 0:
                with open(explain_to, "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(None)
        job_info = jobs_since(spark, j0) if runs else []
        n_stages = sum(j["stages"] for j in job_info)
        out[name] = {
            "times": times,
            "setup": setups,
            "n_jobs_lastrun": len(job_info),
            "n_stages_lastrun": n_stages,
            "jobs": job_info,
        }
        print(f"{name}: times={times} setup={setups} "
              f"jobs={len(job_info)} stages={n_stages}", flush=True)
    print(json.dumps(out, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(args.queries)
    if args.top:
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH.out.json")
        with open(path) as fh:
            prior = json.load(fh)
        names += [k for k, _ in sorted(prior["queries"].items(),
                                       key=lambda kv: -kv[1])[:args.top]]
    bad = [n for n in names if n not in QUERIES]
    if bad:
        raise SystemExit(f"unknown queries: {bad}")
    profile(names, args.runs, args.explain, sf_dir)


if __name__ == "__main__":
    main()
