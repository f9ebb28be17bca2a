"""HLL sketch table (operators/hll.py): rolling estimates from
persisted day sketches vs exact distincts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dwds_livestream_spark.operators.hll import daily_sketches, rolling_distinct

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def sketches(events):
    sk = daily_sketches(events).cache()
    sk.count()
    return sk


def test_sketch_table_is_day_sized(events, sketches):
    n_days = events.select(F.to_date("ts").alias("d")).distinct().count()
    assert sketches.count() == n_days


def test_rolling_estimate_tracks_exact(spark, events, sketches):
    est = {
        r["day"]: r["est_distinct"]
        for r in rolling_distinct(sketches, window_days=7).collect()
    }
    # exact trailing-7d distinct: day x user pairs, range-joined
    du = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    exact = {
        r["day"]: r["n"]
        for r in days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy("d.day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for day, e in exact.items():
        assert abs(est[day] - e) <= max(3, 0.05 * e), (day, est[day], e)


def test_sketches_merge_associatively(spark, events, sketches):
    """Union of all day sketches == sketch of all events (same lgK) —
    the property that makes the persisted table answer any range."""
    via_days = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long")
    ).collect()[0][0]
    direct = events.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).cast("long")
    ).collect()[0][0]
    assert via_days == direct
