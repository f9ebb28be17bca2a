"""Mergeable HLL distinct-count sketches (Apache DataSketches, exposed
by Spark as hll_sketch_agg / hll_union_agg / hll_sketch_estimate — all
JVM-side).

Beyond-reference operator (project brief: pipeline ops at scale). The
existing ``approx_distinct`` query answers ONE fixed question per scan;
these helpers persist the sketch itself, which is what changes the
cost model at 100 TB: distinct-count state per (day, dimension) is a
few KB, unions are associative, so ANY date-range / cross-dimension
distinct question is answered from sketch rows alone — no rescan of
the events, no COUNT(DISTINCT) shuffle of raw keys.

- ``daily_sketches``: one groupBy(day) pass → binary sketch per day
  (persist this table; it is the queryable artifact).
- ``rolling_distinct``: exact-sliding-window union over the sketch
  table — a RANGE window of day-sized rows, so the window input is
  |days| rows, never |events|.

Error: DataSketches HLL_4, lgK=12 → ~1.6% relative standard error;
gated against exact distincts in tests/test_hll.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_sketches(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    lg_k: int = 12,
) -> DataFrame:
    """Per-day HLL sketch of ``key``: day date, sketch binary, n_rows.
    One map-side-combined aggregate; sketch size ≤ 2^lg_k nibbles/day
    regardless of cardinality."""
    return (
        events.select(F.to_date(ts_col).alias("day"), F.col(key))
        .groupBy("day")
        .agg(
            F.hll_sketch_agg(key, F.lit(lg_k)).alias("sketch"),
            F.count("*").alias("n_rows"),
        )
    )


def rolling_distinct(
    sketches: DataFrame, window_days: int = 7
) -> DataFrame:
    """Trailing-N-day distinct estimate per day, computed ONLY from
    the persisted day sketches: day, est_distinct. The window frame is
    day-granular (a RANGE over unix days), so each output row unions ≤
    ``window_days`` sketch blobs."""
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = (
        Window.orderBy(day_num)
        .rangeBetween(-(window_days - 1), 0)
    )
    return sketches.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sketch").over(w))
        .cast("long")
        .alias("est_distinct"),
    )
