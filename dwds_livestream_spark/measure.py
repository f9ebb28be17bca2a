"""Spark measurement: the batch harnesses' shared session warm-up and
the readers over Spark's status stores.

- :func:`warm_up` brings a session to the state bench.py times queries
  from (JVM and codegen up, every table's pages and schema read, the
  Python worker pool started). bench.py and scripts/profile_bench.py
  call it, so their numbers describe the same state.
- :func:`jobs_since` reads jobs and stages from the JVM
  ``AppStatusStore`` — the store behind the Spark UI's jobs tab and its
  REST API, filled with the UI disabled too. It sees every job, those
  that run outside any SQL execution (an eager ``localCheckpoint``)
  included.
- :func:`measure_execution` reads what every Exchange actually wrote
  from the ``SQLAppStatusStore``. It complements the plan-shape gates
  (tests/test_plan_sweep.py): a plan can BE a BroadcastHashJoin and
  still move more than intended elsewhere, so scale claims ("the fact
  scan never shuffles", "partial agg folds the scan to group rows") are
  assertable numbers, not prose. Used by scripts/shuffle_audit.py (the
  SHUFFLE.md report) and tests/test_shuffle_volume.py (the regression
  gates).
- :func:`jvm_gc_ms` reads the driver JVM's collection time.

All readers go through py4j and work in local mode with the UI off.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.io import load_table
from .plans.registry import TABLES

_SIZES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _value_line(metric_value: str) -> str:
    """The store may prefix a header line ('total (min, med, max ...)');
    the value itself is the last non-empty line. Empty input -> ''."""
    lines = metric_value.strip().splitlines()
    return lines[-1].split("(")[0].strip() if lines else ""


def parse_metric_bytes(metric_value: str) -> int:
    """SQL size metrics render as 'total (min, med, max (...))' with
    humanized units; take the leading total."""
    m = re.match(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", _value_line(metric_value))
    if not m:
        return 0
    return int(float(m.group(1)) * _SIZES[m.group(2)])


def parse_metric_count(metric_value: str) -> int:
    m = re.match(r"([\d,.]+)", _value_line(metric_value))
    return int(m.group(1).replace(",", "").split(".")[0]) if m else 0


def last_execution_id(spark: SparkSession) -> int:
    """Highest execution id currently in the store (-1 when empty).
    IDs, not list indices: the store trims old entries past
    spark.sql.ui.retainedExecutions, so index arithmetic against
    executionsCount() silently reads an empty window in long sessions
    (the full test suite crosses the limit)."""
    st = spark._jsparkSession.sharedState().statusStore()
    exes = st.executionsList()
    mx = -1
    for e in range(exes.size()):
        mx = max(mx, exes.apply(e).executionId())
    return mx


def metrics_since(spark: SparkSession, after_ex_id: int) -> list[tuple]:
    """(node_name, metric_name, value) across EVERY SQL execution with
    id greater than ``after_ex_id`` — iterative queries (k-means seeds,
    rank bounds, pagerank loops) run actions while the plan is being
    BUILT, so a single-execution read would miss their shuffles."""
    st = spark._jsparkSession.sharedState().statusStore()
    exes = st.executionsList()
    out: list[tuple] = []
    for e in range(exes.size()):
        ex_id = exes.apply(e).executionId()
        if ex_id <= after_ex_id:
            continue
        mv = st.executionMetrics(ex_id)
        g = st.planGraph(ex_id)
        nodes = g.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                val = mv.get(m.accumulatorId())
                if val.isDefined():
                    out.append((node.name(), m.name(), val.get()))
    return out


def summarize(metrics: list[tuple]) -> dict:
    return {
        "scan_rows": sum(
            parse_metric_count(v)
            for n, m, v in metrics
            if n.startswith("Scan") and m == "number of output rows"
        ),
        "shuffle_records": sum(
            parse_metric_count(v)
            for n, m, v in metrics
            if m == "shuffle records written"
        ),
        "shuffle_bytes": sum(
            parse_metric_bytes(v)
            for n, m, v in metrics
            if m == "shuffle bytes written"
        ),
        "broadcast_bytes": sum(
            parse_metric_bytes(v)
            for n, m, v in metrics
            if n == "BroadcastExchange" and m == "data size"
        ),
        # any aggregate/sort/join that outgrew its memory reports here;
        # a well-sized plan spills nothing at its working scale
        "spill_bytes": sum(
            parse_metric_bytes(v) for n, m, v in metrics if m == "spill size"
        ),
    }


def measure_execution(spark: SparkSession, build_df) -> dict:
    """Build a DataFrame via ``build_df()``, execute it through a noop
    sink (full plan, no driver-side result transfer), and return the
    summed shuffle/scan/broadcast volumes of every execution involved."""
    before = last_execution_id(spark)
    df: DataFrame = build_df()
    df.write.format("noop").mode("overwrite").save()
    _drain_listener_bus(spark)
    return summarize(metrics_since(spark, before))


def _drain_listener_bus(spark: SparkSession) -> None:
    """Metric and job-end updates post through the async listener bus;
    drain it so a read after an action is deterministic (same call
    Spark's own tests use)."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    except Exception:
        pass  # private API moved — metrics are best-effort then


def _jobs(spark: SparkSession):
    """The jobs the JVM AppStatusStore holds, newest first (a Scala Seq
    over the store's job-id index, reversed), read after the listener
    bus is drained so a just-finished action's jobs are complete. The
    store trims old jobs past spark.ui.retainedJobs, so callers compare
    ids, never positions."""
    _drain_listener_bus(spark)
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None)


def last_job_id(spark: SparkSession) -> int:
    """Highest job id in the status store (-1 when empty)."""
    jobs = _jobs(spark)
    return jobs.apply(0).jobId() if jobs.size() else -1


def jobs_since(spark: SparkSession, after_job_id: int) -> list[dict]:
    """Every job with id greater than ``after_job_id``, oldest first:
    ``{"job", "stages", "tasks", "dur_ms"}``. ``stages`` counts the
    job's stage ids, skipped stages included (the REST API's
    ``stageIds``); ``dur_ms`` is None for a job still running. Reads
    only the jobs it returns, so its cost does not grow with the
    session's job history."""
    jobs = _jobs(spark)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job_id:
            break
        t0, t1 = j.submissionTime(), j.completionTime()
        out.append({
            "job": j.jobId(),
            "stages": j.stageIds().size(),
            "tasks": j.numTasks(),
            "dur_ms": (
                t1.get().getTime() - t0.get().getTime()
                if t0.isDefined() and t1.isDefined()
                else None
            ),
        })
    return out[::-1]


def jvm_gc_ms(spark: SparkSession) -> int | None:
    """Cumulative driver-JVM GC milliseconds (all collectors), or None
    when the MXBeans are unreadable. A host heartbeat catches HOST
    stalls; this catches the JVM-internal slowness a Python thread
    cannot see (r6: 4-8 s first-run spikes with zero heartbeat
    events)."""
    try:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        return sum(b.getCollectionTime() for b in beans)
    except Exception:
        return None


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Bring a fresh session to the state queries are timed from.

    JVM/codegen startup and the parquet reader path (footer decode,
    vectorized reader classes, OS page cache) must not be billed to
    whichever query happens to touch a table first — a query's number
    should attribute to its PLAN, not to read order (the sf1 scale
    smoke showed warm pagerank_trade at 2.2 s vs ~10 s when it also
    paid the cold graph-table reads).
    """
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES:
        # count(*) alone is answered from parquet row-group METADATA
        # (empty read schema — zero data pages touched), so it warms
        # nothing: the first query to project a column would still pay
        # the cold read. count(col) per column forces the vectorized
        # reader through every column's pages, so the OS page cache is
        # hot for ALL tables before the first timed query.
        # load_table, as the queries read: this also fills its schema
        # memo, so no timed query pays parquet schema inference
        df = load_table(spark, sf_dir, t)
        df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()

    # Python-worker / Arrow warmup: the first pandas_udf of the run
    # pays worker-pool spawn + per-worker numpy import +
    # ArrowEvalPython init — measured 4.1 s cold vs 0.16 s steady
    # recompute (same JVM) on the minhash signature kernel. That cost
    # must bill to the RUN, not to whichever query first leaves the
    # JVM: in the r9 window minhash_jaccard_error ran directly after
    # the 7 JVM-only parity queries and absorbed all of it (18.9 s
    # driver first run vs ~4 s steady — the thrice-confirmed
    # first-execution-spike pattern, VERDICT r9 #2/#3). One batch per
    # core slot so the whole reusable worker pool comes up warm.
    @F.pandas_udf("double")
    def _warm_py(v: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: PLC0415  (warm the worker import)

        return pd.Series(_np.asarray(v, dtype="float64") * 1.0)

    (
        spark.range(100_000)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(_warm_py(F.col("id").cast("double")).alias("x"))
        .agg(F.sum("x"))
        .collect()
    )
