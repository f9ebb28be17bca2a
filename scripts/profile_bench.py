"""Per-query profiling harness for the optimization rounds.

Reproduces bench.py's measurement conditions (same session factory,
same warmup, same cache-cold-per-query protocol, same timed action
df.count()) but adds:

  - N repeated runs per query (first = bench-comparable, min/steady
    recorded separately) so JIT tails are visible;
  - the Spark UI REST API (enabled here, disabled in the real bench)
    scraped per query for job/stage counts and stage time breakdowns,
    so multi-second numbers decompose into "how many sequential jobs x
    stages" instead of guesswork;
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
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dwds_livestream_spark.plans import QUERIES  # noqa: E402
from dwds_livestream_spark.session import (  # noqa: E402
    build_session,
    drop_leftover_state,
)


def _warmup(spark, sf_dir: str) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()

    @F.pandas_udf("double")
    def _warm_py(v: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: PLC0415

        return pd.Series(_np.asarray(v, dtype="float64") * 1.0)

    (
        spark.range(100_000)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(_warm_py(F.col("id").cast("double")).alias("x"))
        .agg(F.sum("x"))
        .collect()
    )


def _rest(app_url: str, path: str):
    try:
        with urllib.request.urlopen(f"{app_url}/{path}", timeout=10) as r:
            return json.loads(r.read())
    except Exception:
        return None


def _app_url(spark) -> str | None:
    try:
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        return f"{ui}/api/v1/applications/{app_id}"
    except Exception:
        return None


def _jobs_since(app_url: str, after_job_id: int) -> list[dict]:
    jobs = _rest(app_url, "jobs") or []
    return [j for j in jobs if j["jobId"] > after_job_id]


def _max_job_id(app_url: str) -> int:
    jobs = _rest(app_url, "jobs") or []
    return max((j["jobId"] for j in jobs), default=-1)


def profile(names: list[str], runs: int, explain_to: str | None,
            sf_dir: str, no_ui: bool = False) -> None:
    # --no-ui: lean timing mode. The UI/REST session measurably
    # inflates and destabilizes per-run timings on this sandbox
    # (r12 noise protocol); use it when the NUMBERS matter and the
    # default (UI on) when the job/stage DECOMPOSITION matters.
    spark = build_session(
        app_name="dwds-profile",
        extra_conf={"spark.ui.enabled": "false" if no_ui else "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)
    app_url = _app_url(spark)

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        times: list[float] = []
        setups: list[float] = []
        job_info: list[dict] = []
        for i in range(runs):
            drop_leftover_state(spark)
            j0 = _max_job_id(app_url) if app_url else -1
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            times.append(round(t2 - t0, 3))
            setups.append(round(t1 - t0, 3))
            if app_url and i == runs - 1:
                for j in _jobs_since(app_url, j0):
                    job_info.append({
                        "job": j["jobId"],
                        "stages": len(j.get("stageIds", [])),
                        "tasks": j.get("numTasks"),
                        "dur_ms": _job_dur_ms(j),
                    })
            if explain_to and i == 0:
                with open(explain_to, "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "times": times,
            "setup": setups,
            "n_jobs_lastrun": len(job_info),
            "n_stages_lastrun": sum(j["stages"] for j in job_info),
            "jobs": job_info,
        }
        print(f"{name}: times={times} setup={setups} "
              f"jobs={len(job_info)} stages={sum(j['stages'] for j in job_info)}",
              flush=True)
    print(json.dumps(out, indent=1))


def _job_dur_ms(j: dict) -> int | None:
    try:
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        t0 = datetime.strptime(j["submissionTime"], fmt)
        t1 = datetime.strptime(j["completionTime"], fmt)
        return int((t1 - t0).total_seconds() * 1000)
    except Exception:
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--no-ui", action="store_true")
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
    profile(names, args.runs, args.explain, sf_dir, no_ui=args.no_ui)


if __name__ == "__main__":
    main()
