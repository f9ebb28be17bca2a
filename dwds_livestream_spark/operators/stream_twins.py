"""Batch twins of streaming stateful semantics, driver-checkable.

Structured Streaming's watermark late-drop, emit-on-change
deduplication and leaky-bucket rate limit are stream semantics, but
stream state is not SQL-expressible, so the external DuckDB oracle
never sees them; the emit-on-change and rate-limit STREAMS
(streaming/stateful.py) are exercised in tests/test_streaming_dedup.py
and tests/test_streaming_windows.py. These operators restate each
semantic as a deterministic BATCH plan over an explicit arrival order
— the same keep/drop decision per row the stream would make at row
granularity — so the oracle can verify the SEMANTICS with window
functions (ROADMAP r6: "watermark late-drop
semantics as a batch window query; session-window twins").

Reference parity note: the reference pipeline drops nothing for
lateness (its tailer emits in file order; collector.clj replays
in-order), so both operators are beyond-reference pipeline surface.

Scale: the naive formulation of the watermark is a GLOBAL running max
— a no-partition window that funnels every row through one task, the
classic scale-killer. ``watermark_late_drop`` computes the identical
result with the split-point technique of operators/ranking.py:

1. equi-width arrival buckets (bounds from one 2-row aggregate),
2. per-bucket max event time (shuffle = bucket count),
3. cross-bucket exclusive prefix max over the TINY bucket summary
   (single-partition window over n_buckets rows — driver-sized by
   construction),
4. within-bucket running max (hash-partitioned window), combined with
   the broadcast prefix.

Every shuffle is bucket-count- or hash-sized; no row passes through a
single-partition sort. ``emit_on_change`` is per-key windowed from the
start (lag over partitionBy(key)) and needs no such treatment.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def watermark_late_drop(
    df: DataFrame,
    arrival_col: str,
    ts_col: str,
    delay: str = "10 minutes",
    n_buckets: int = 64,
) -> DataFrame:
    """Drop rows a streaming watermark would reject.

    A row is LATE iff its event time ``ts_col`` is strictly older than
    ``max(ts over all strictly-earlier arrivals) - delay`` — the
    row-granular watermark. Structured Streaming's own watermark only
    ever LAGS this one for the same arrival prefix (measured, Spark
    4.1: the watermark effective in micro-batch i derives from the max
    event time through batch i-2 — the value computed at a batch's end
    takes effect one trigger later), so the engine keeps a SUPERSET of
    these rows; this operator is the strictest batch twin. Both facts
    are pinned against a live stream in
    tests/test_stream_twins_skyline.py::
    test_watermark_twin_matches_engine_semantics. The first arrival is
    never late.

    ``arrival_col`` must be a numeric total arrival order (e.g. a
    monotonically increasing ingest id). ``delay`` is a SQL interval
    string.
    """
    bounds = df.agg(
        F.min(arrival_col).alias("lo"), F.max(arrival_col).alias("hi")
    ).first()
    if bounds is None or bounds["lo"] is None:
        return df
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    width = max((hi - lo) // n_buckets + 1, 1)
    d = df.withColumn(
        "__b", ((F.col(arrival_col) - F.lit(lo)) / F.lit(width)).cast("bigint")
    )
    # tiny frame: one row per bucket; exclusive prefix max over it is a
    # single-partition window over <= n_buckets rows (driver-sized)
    prefix = (
        d.groupBy("__b")
        .agg(F.max(ts_col).alias("__bmax"))
        .select(
            "__b",
            F.max("__bmax")
            .over(
                Window.orderBy("__b").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("__prefix"),
        )
    )
    run = Window.partitionBy("__b").orderBy(arrival_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    out = (
        d.join(F.broadcast(prefix), "__b")
        .withColumn(
            # greatest() skips nulls: first row of first bucket has
            # neither a prefix nor a preceding row -> null -> kept
            "__seen",
            F.greatest(F.col("__prefix"), F.max(ts_col).over(run)),
        )
        .where(
            F.col("__seen").isNull()
            | (F.col(ts_col) >= F.expr(f"__seen - INTERVAL {delay}"))
        )
    )
    return out.drop("__b", "__prefix", "__seen")


def emit_on_change(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Suppress consecutive per-key rows whose ``value_cols`` did not
    change — the batch twin of a streaming emit-on-change /
    deduplicate-consecutive operator (run-length compression of a
    keyed change stream).

    A row is kept iff it is the key's first row in ``order_cols``
    order, or ANY value column differs (null-safely) from the
    previous row's. ``order_cols`` must totally order rows within a
    key or ties make "previous" nondeterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    changed = reduce(
        lambda acc, c: acc | ~F.lag(c).over(w).eqNullSafe(F.col(c)),
        value_cols[1:],
        ~F.lag(value_cols[0]).over(w).eqNullSafe(F.col(value_cols[0])),
    )
    first = F.row_number().over(w) == 1
    return (
        df.withColumn("__keep", first | changed)
        .where("__keep")
        .drop("__keep")
    )


def rate_limit_twin(
    df: DataFrame,
    epm: int,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Batch twin of ``streaming/stateful.rate_limit_stream``: per key
    (or one global bucket when ``key_cols`` is empty) admit at most
    ``epm`` events per event-time minute, earliest-first, dropping the
    excess — the reference's leaky-bucket sampling semantics
    (reference: src/dwds/livestream/http.clj:74-78, bucket refilled
    each minute, drop-not-buffer overflow) restated as one keyed
    window so the DuckDB oracle can verify the keep/drop decision per
    row.

    Equivalence: under IN-ORDER arrival the stateful streaming form
    admits exactly this set — its token counter resets on every
    forward minute and decrements in (ts, tiebreak) order, which is
    precisely "the first epm rows of each (key, minute)". Late
    stragglers differ by design (the stream charges them to the
    CURRENT window — under-admits, never over-admits; see
    rate_limit_stream). Asserted against the live stream in
    tests/test_stream_twins_skyline.py.

    Scale: one hash-partitioned window keyed by (key, minute) — the
    partition count is keys x minutes, so no hot partition even for
    the global bucket over a year of data; Spark pushes the
    row_number <= epm predicate into WindowGroupLimit (partial top-k
    before the exchange), same shape as topk_rank_ties.
    """
    if epm <= 0:
        raise ValueError(f"epm must be a positive int: {epm}")
    keys = list(key_cols or [])
    minute = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / 60_000_000
    )
    w = Window.partitionBy(*keys, "__minute").orderBy(
        ts_col, tiebreak_col
    )
    return (
        df.withColumn("__minute", minute)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= epm)
        .drop("__minute", "__rn")
    )
