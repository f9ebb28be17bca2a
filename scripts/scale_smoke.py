"""Scale smoke: core operators at 10-30x the sf0.1 bench volume, on
synthetic spark.range data (nothing written to /root/testdata).

The per-round bench (bench.py) proves correctness-scale performance;
this script is the evidence that the *plans* hold when the fact side
grows: broadcast enrichment never shuffles the fact table, argmin
dedup stays one partial+final min_by sort aggregate around a single
shuffle (no window), the as-of join stays one shuffle,
the salted join splits the hot key, streaming-style windowed counts
stay map-side partial. Prints one JSON line per op with rows/sec.

Usage: python scripts/scale_smoke.py [--rows 20000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dwds_livestream_spark.operators.asof import asof_join  # noqa: E402
from dwds_livestream_spark.operators.curation import (  # noqa: E402
    repetition_stats,
    word_topk,
)
from dwds_livestream_spark.operators.dedup_dim import argmin_dedup  # noqa: E402
from dwds_livestream_spark.operators.enrich import enrich  # noqa: E402
from dwds_livestream_spark.operators.skew import salted_join  # noqa: E402
from dwds_livestream_spark.session import build_session  # noqa: E402


def report(name: str, rows: int, t0: float, plan: str, must: str, must_not: str = ""):
    sec = time.perf_counter() - t0
    ok_plan = must in plan and (not must_not or must_not not in plan)
    print(
        json.dumps(
            {
                "op": name,
                "rows": rows,
                "sec": round(sec, 1),
                "rows_per_sec": int(rows / sec),
                "plan_ok": ok_plan,
            }
        )
    )
    if not ok_plan:
        raise SystemExit(f"{name}: plan regression (want {must!r}, not {must_not!r})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    args = ap.parse_args()
    n = args.rows

    spark = build_session(app_name="dwds-livestream-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    events = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86_400).alias("ts"),
        (F.rand(seed=7) * 1000).alias("value"),
    )
    dim = spark.range(100_000).select(
        F.col("id").alias("user_id"), F.concat(F.lit("u"), F.col("id")).alias("name")
    )

    # J1 at scale: fact side must stay shuffle-free
    t0 = time.perf_counter()
    j = enrich(events, dim, on="user_id")
    rows = j.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    report("broadcast_enrich", rows, t0, plan, "BroadcastHashJoin", "SortMergeJoin")

    # A1 at scale: one partial+final min_by sort aggregate, no window
    t0 = time.perf_counter()
    d = argmin_dedup(events.withColumn("hidx", (F.col("event_id") % 7).cast("int")),
                     key="user_id", order_col="hidx",
                     tie_breakers=["event_id"])
    rows = d.count()
    plan = d._jdf.queryExecution().executedPlan().toString()
    report("argmin_dedup", n, t0, plan, "min_by", "Window")

    # as-of join at scale: union + one keyed shuffle, no pair explosion
    quotes = spark.range(500_000).select(
        (F.col("id") % 1000).alias("user_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") * 167) % 86_400).alias("qts"),
        F.col("id").alias("quote_id"),
    )
    points = events.where(F.col("user_id") < 1000).select("user_id", "ts")
    t0 = time.perf_counter()
    a = asof_join(points, quotes, on="user_id", left_ts="ts", right_ts="qts",
                  payload=["quote_id"])
    rows = a.count()
    plan = a._jdf.queryExecution().executedPlan().toString()
    report("asof_join", rows, t0, plan, "Window", "CartesianProduct")

    # skew: 60% of the fact on ONE key; salted join must not stall
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 6, F.lit(0)).otherwise(F.col("id") % 100_000).alias("user_id"),
        F.col("id").alias("event_id"),
    )
    t0 = time.perf_counter()
    s = salted_join(skewed, dim, on="user_id", salt=32, hot_keys=[0])
    rows = s.count()
    plan = s._jdf.queryExecution().executedPlan().toString()
    report("salted_hot_key_join", rows, t0, plan, "Join")

    # distributed_rank at scale: exact global row_number with NO
    # single-partition sort — every window hash-partitioned by bucket
    from dwds_livestream_spark.operators.ranking import distributed_rank

    per_user = events.groupBy("user_id").agg(F.sum("value").alias("spend"))
    t0 = time.perf_counter()
    rk = distributed_rank(
        per_user, "spend", descending=True,
        tiebreakers=[F.col("user_id").asc()], rank_col="rn",
    )
    rows = rk.count()
    plan = rk._jdf.queryExecution().executedPlan().toString()
    if any(
        "windowspecdefinition" in ln and "__bucket#" not in ln
        for ln in plan.splitlines()
    ):
        raise SystemExit("distributed_rank: unpartitioned window in plan")
    report("distributed_rank", rows, t0, plan, "row_number")

    # streaming-shape windowed counts (batch form): map-side partials
    t0 = time.perf_counter()
    w = (
        events.groupBy(F.window("ts", "1 minute"), (F.col("user_id") % 100))
        .agg(F.count("*").alias("n"))
    )
    rows = w.count()
    plan = w._jdf.queryExecution().executedPlan().toString()
    report("windowed_counts", n, t0, plan, "HashAggregate")

    # synthetic documents: ~20 tokens each, n/10 docs
    docs = spark.range(n // 10).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), ((F.col("id") * (i + 3)) % 997).cast("string"))
                for i in range(20)
            ],
        ).alias("text"),
    )

    # repetition stats at scale: must stay map-only (no Exchange)
    t0 = time.perf_counter()
    r = repetition_stats(docs)
    rows = r.count()
    plan = r._jdf.queryExecution().executedPlan().toString()
    report("repetition_stats", rows, t0, plan, "Project", "Exchange")

    # vocabulary top-k at scale: partial combine before the one shuffle
    t0 = time.perf_counter()
    v = word_topk(docs, k=20)
    v.collect()
    plan = v._jdf.queryExecution().executedPlan().toString()
    report("word_topk", n // 10 * 20, t0, plan, "partial_count")

    # trending top-k: sliding window x4 rows pre-agg, partial-combined
    t0 = time.perf_counter()
    tr = (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            (F.col("user_id") % 100).alias("k"),
        )
        .agg(F.count("*").alias("n"))
    )
    rows = tr.count()
    plan = tr._jdf.queryExecution().executedPlan().toString()
    report("trending_preagg", n * 4, t0, plan, "partial_count")

    # Gopher + C4 quality batteries at scale: must stay map-only
    from dwds_livestream_spark.operators.curation import (  # noqa: PLC0415
        c4_clean,
        gopher_quality,
    )

    t0 = time.perf_counter()
    g = gopher_quality(docs)
    rows = g.count()
    plan = g._jdf.queryExecution().executedPlan().toString()
    report("gopher_quality", rows, t0, plan, "Project", "Exchange")

    t0 = time.perf_counter()
    c4 = c4_clean(docs)
    rows = c4.count()
    plan = c4._jdf.queryExecution().executedPlan().toString()
    report("c4_clean", rows, t0, plan, "Project", "Exchange")

    # paragraph dedup at scale: winner election must be a partial-
    # combined min aggregate (never a Window over the hot hash), and
    # paragraph text must not appear in the election shuffle
    from dwds_livestream_spark.operators.dedup import (  # noqa: PLC0415
        paragraph_dedup,
    )

    para_docs = spark.range(n // 10).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            # paragraph drawn from a 10k pool -> heavy duplication, one
            # hot boilerplate paragraph in every doc
            F.lit("boilerplate header shared by every single document"),
            *[
                F.concat(F.lit("para "), ((F.col("id") * (i + 13)) % 10_000).cast("string"))
                for i in range(3)
            ],
        ).alias("text"),
    )
    t0 = time.perf_counter()
    pd_ = paragraph_dedup(para_docs)
    rows = pd_.count()
    plan = pd_._jdf.queryExecution().executedPlan().toString()
    report("paragraph_dedup", (n // 10) * 4, t0, plan, "partial_min", "Window")

    # bloom prefilter at scale: probe side reaches the exact join only
    # through k broadcast semi-joins; no probe shuffle before them
    from dwds_livestream_spark.operators.bloom import (  # noqa: PLC0415
        bloom_prefilter_semi_join,
    )

    build = spark.range(100_000).select((F.col("id") * 13).alias("bk"))
    t0 = time.perf_counter()
    bl = bloom_prefilter_semi_join(
        events.select(F.col("event_id").alias("k")), build,
        key="k", build_key="bk", m_bits=1 << 20, k_hashes=3,
    )
    rows = bl.count()
    plan = bl._jdf.queryExecution().executedPlan().toString()
    if plan.count("BroadcastHashJoin") < 3:
        raise SystemExit("bloom_prefilter: expected 3 broadcast position joins")
    report("bloom_prefilter_semi_join", n, t0, plan, "BroadcastHashJoin")

    # count-min at scale: cell grid bounded, partial combine before the
    # one shuffle
    from dwds_livestream_spark.operators.sketches import (  # noqa: PLC0415
        countmin_sketch,
    )

    t0 = time.perf_counter()
    cm = countmin_sketch(
        events.select((F.col("user_id") % 50_000).alias("w")), "w",
        width=1024, depth=4,
    )
    cells = cm.count()
    plan = cm._jdf.queryExecution().executedPlan().toString()
    if cells > 1024 * 4:
        raise SystemExit("countmin: cell grid exceeded depth*width")
    report("countmin_sketch", n * 4, t0, plan, "partial_count")

    # time-series battery at scale, on the same synthetic events:
    # reuse the registry plans by pointing their table loader at the
    # synthetic frame (same trick the unit tests use).
    from dwds_livestream_spark.plans import analytics as A  # noqa: PLC0415

    ev_typed = events.withColumn(
        "event_type",
        F.element_at(
            F.array(*[F.lit(t) for t in ("view", "click", "purchase", "scroll", "hover")]),
            (F.col("user_id") % 5 + 1).cast("int"),
        ),
    )
    real_t = A._t
    A._t = lambda spark, sf, name: ev_typed
    try:
        # OHLC: both windows + groupBy on one reused exchange, no join
        t0 = time.perf_counter()
        o = A.q_ohlc_bars(spark, "synthetic")
        rows = o.count()
        plan = o._jdf.queryExecution().executedPlan().toString()
        report("ohlc_bars", n, t0, plan, "Window", "Join")

        # CDC compaction: one keyed shuffle, output bounded by keys
        t0 = time.perf_counter()
        c = A.q_cdc_apply(spark, "synthetic")
        rows = c.count()
        plan = c._jdf.queryExecution().executedPlan().toString()
        report("cdc_apply", n, t0, plan, "Window", "Join")

        # sweep-line concurrency: 2n endpoint deltas, pre-aggregated
        # map-side before the single keyed shuffle
        t0 = time.perf_counter()
        m = A.q_max_concurrency(spark, "synthetic")
        rows = m.count()
        plan = m._jdf.queryExecution().executedPlan().toString()
        report("max_concurrency", n * 2, t0, plan, "Union", "Join")
    finally:
        A._t = real_t

    # quantile-histogram rollup: one map-side-combined aggregate; the
    # persisted artifact stays <= days*64 rows no matter how many
    # events feed it, and the range-quantile answer never rescans them
    from dwds_livestream_spark.operators.quantile_hist import (  # noqa: PLC0415
        histogram_rollup,
        range_quantiles,
    )

    t0 = time.perf_counter()
    h = histogram_rollup(events, lo=0.0, hi=1024.0)
    hist_rows = h.count()
    plan = h._jdf.queryExecution().executedPlan().toString()
    if hist_rows > 2 * 64:  # synthetic ts spans a midnight (2 days)
        raise SystemExit("histogram_rollup: rollup exceeded days*64 rows")
    report("histogram_rollup", n, t0, plan, "partial_count", "Join")
    t0 = time.perf_counter()
    qr = range_quantiles(h, "2023-01-01", "2024-12-31", lo=0.0, hi=1024.0)
    rows = qr.count()
    plan = qr._jdf.queryExecution().executedPlan().toString()
    report("range_quantiles", hist_rows, t0, plan, "BroadcastNestedLoopJoin")


if __name__ == "__main__":
    main()
