"""Gates for the round-2 additions: persisted quantile-histogram
rollup (operators/quantile_hist.py), truncated EWMA, and near-dup
cluster representative selection.

The registry oracles prove cross-engine value equality; these tests
pin the *semantic* claims the oracles cannot see — approximation error
bounds, mergeability, and the dedup-ledger invariants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dwds_livestream_spark.operators.quantile_hist import (
    histogram_rollup,
    range_quantiles,
)

SF_DIR = "/root/testdata/sf0.001"

LO, HI, NBINS = 0.0, 512.0, 64
BIN_W = (HI - LO) / NBINS


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_histogram_preserves_total_count(spark, events):
    hist = histogram_rollup(events, lo=LO, hi=HI, n_bins=NBINS)
    assert (
        hist.agg(F.sum("cnt")).first()[0] == events.count()
    ), "clamping must not drop rows"


def test_histogram_is_mergeable(spark, events):
    """Bin-wise sum of per-day histograms == histogram of the union —
    the property that lets 100 TB of daily rollups answer any range."""
    hist = histogram_rollup(events, lo=LO, hi=HI, n_bins=NBINS)
    merged = (
        hist.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    direct = (
        histogram_rollup(
            events.withColumn("ts", F.lit("2024-01-01").cast("timestamp")),
            lo=LO, hi=HI, n_bins=NBINS,
        )
        .select("bin", "cnt")
    )
    got = {r.bin: r.cnt for r in merged.collect()}
    want = {r.bin: r.cnt for r in direct.collect()}
    assert got == want


def test_range_quantiles_within_bin_width_of_exact(spark, events):
    """Interpolated quantile is within one bin width of the exact
    percentile (the documented error bound)."""
    hist = histogram_rollup(events, lo=LO, hi=HI, n_bins=NBINS)
    est = {
        r.q: r.est
        for r in range_quantiles(
            hist, "2024-01-01", "2024-12-31", qs=(0.5, 0.9, 0.99),
            lo=LO, hi=HI, n_bins=NBINS,
        ).collect()
    }
    exact = events.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 100000).alias("p")
    ).first().p
    for q, ex in zip((0.5, 0.9, 0.99), exact):
        assert abs(est[q] - ex) <= BIN_W, (q, est[q], ex)


def test_rollup_rowcount_bounded(spark, events):
    """The persisted artifact is |days| x n_bins rows at most — the
    cost-model claim (kilobytes per year, never |events|)."""
    hist = histogram_rollup(events, lo=LO, hi=HI, n_bins=NBINS)
    n_days = events.select(F.to_date("ts")).distinct().count()
    assert hist.count() <= n_days * NBINS


def test_ewma_bounded_by_window_extremes(spark):
    """EWMA is a convex combination: min(window xs) <= ewma <= max."""
    from dwds_livestream_spark.plans.analytics import q_ewma_user_value

    out = q_ewma_user_value(spark, SF_DIR)
    daily = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-13, 0)
    )
    bounds = daily.select(
        "user_id", "day",
        F.min("x").over(w).alias("lo"),
        F.max("x").over(w).alias("hi"),
    )
    bad = (
        out.join(bounds, ["user_id", "day"])
        .where(
            (F.col("ewma") < F.col("lo") - 1e-6)
            | (F.col("ewma") > F.col("hi") + 1e-6)
        )
        .count()
    )
    assert bad == 0


def test_ewma_first_point_is_itself(spark):
    from dwds_livestream_spark.plans.analytics import q_ewma_user_value
    from pyspark.sql import Window

    out = q_ewma_user_value(spark, SF_DIR)
    daily = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    first = daily.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("day")),
    ).where(F.col("rn") == 1)
    bad = (
        out.join(first, ["user_id", "day"])
        .where(F.abs(F.col("ewma") - F.col("x")) > 1e-6)
        .count()
    )
    assert bad == 0


def test_cluster_representative_ledger_invariants(spark):
    """Keeper rows partition the corpus: every doc in exactly one
    cluster, keeper is the longest member (ties -> min doc_id), and
    kept + dropped chars reproduce the corpus total."""
    from dwds_livestream_spark.plans.llm import q_cluster_representative

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    led = q_cluster_representative(spark, SF_DIR).cache()
    try:
        assert led.agg(F.sum("n_members")).first()[0] == docs.count()
        total = led.agg(
            F.sum(F.col("kept_chars") + F.col("dropped_chars"))
        ).first()[0]
        assert total == docs.agg(F.sum("n_chars")).first()[0]
        # keeper really is a member with maximal n_chars
        keeper_chars = led.join(
            docs.select(F.col("doc_id").alias("keeper_id"), "n_chars"),
            "keeper_id",
        )
        assert keeper_chars.where(
            F.col("n_chars") != F.col("kept_chars")
        ).count() == 0
        # singletons drop nothing
        assert led.where(
            (F.col("n_members") == 1) & (F.col("dropped_chars") != 0)
        ).count() == 0
    finally:
        led.unpersist()


def test_keyed_rollup_matches_per_key_slices(spark, events):
    """range_quantiles over a keyed rollup == range_quantiles on each
    key's own events — the grouped operator is exactly the per-segment
    composition of the global one."""
    hist = histogram_rollup(
        events, "event_type", lo=LO, hi=HI, n_bins=NBINS
    )
    got = {
        (r.key, r.q): r.est
        for r in range_quantiles(
            hist, "2024-01-01", "2024-12-31", lo=LO, hi=HI, n_bins=NBINS
        ).collect()
    }
    keys = [r[0] for r in events.select("event_type").distinct().collect()]
    for k in keys:
        sub = histogram_rollup(
            events.where(F.col("event_type") == k),
            lo=LO, hi=HI, n_bins=NBINS,
        )
        want = {
            r.q: r.est
            for r in range_quantiles(
                sub, "2024-01-01", "2024-12-31",
                lo=LO, hi=HI, n_bins=NBINS,
            ).collect()
        }
        for q, est in want.items():
            assert got[(k, q)] == est, (k, q, got[(k, q)], est)
