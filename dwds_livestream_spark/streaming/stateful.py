"""Custom stateful streaming operator: per-key leaky-bucket rate limit.

The reference throttles each live subscriber to `epm` events/minute via
a leaky bucket fed by a filler thread (reference:
src/dwds/livestream/http.clj:74-78, 109-113; bucket lifecycle CHANGELOG
v1.4.1). The serving hub applies that bucket per client
(streaming/hub.py); this operator is the engine-side cross-batch
form: token state lives in the Spark state store, survives micro-batch
boundaries and restarts, and is keyed (per subscriber / per stream) so
it scales horizontally.

Spark has no built-in rate-limit operator — this is the
applyInPandasWithState slot (project brief: custom stateful streaming
operators). State per key is 2 longs — O(keys), watermark-free.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("tokens", LongType()),  # remaining sends this window
        StructField("window_start_us", LongType()),  # epoch micros of window
    ]
)


def rate_limit_stream(
    events: DataFrame,
    epm: int,
    ts_col: str = "timestamp",
    key_col: str = "lemma",
    key_all: bool = True,
) -> DataFrame:
    """Pass at most ``epm`` events per event-time minute (per key if
    ``key_all`` is False, else one global bucket), dropping the excess —
    the reference's leaky-bucket semantics with drop-not-buffer overflow.

    Within a batch, events are admitted in event-time order (the
    reference admits in arrival order — not reproducible distributed, so
    event-time order is the deterministic analog). Output schema = input
    schema.
    """
    if epm <= 0:
        raise ValueError(f"epm must be a positive int: {epm}")

    out_schema = StructType(
        [f for f in events.schema.fields] + [StructField("__key", LongType())]
    )
    ts_idx_type = events.schema[ts_col].dataType
    if not isinstance(ts_idx_type, TimestampType):
        raise ValueError(f"{ts_col} must be TimestampType, got {ts_idx_type}")

    def bucket(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, window_us = state.get
        else:
            tokens, window_us = epm, -1
        # Arrow hands a key's micro-batch data as MULTIPLE chunks
        # (spark.sql.execution.arrow.maxRecordsPerBatch) in arbitrary
        # order; sorting each chunk independently would admit rows out
        # of global event-time order for keys with >1 chunk per batch.
        # Materialize the key's whole batch and sort ONCE — state per
        # key stays 2 longs; the transient batch buffer is bounded by
        # the micro-batch size, same as any per-key batch operator.
        chunks = list(pdfs)
        if not chunks:
            state.update((tokens, window_us))
            return
        pdf = pd.concat(chunks).sort_values(ts_col, kind="stable")
        mask = []
        for t in pdf[ts_col]:
            minute_us = (int(t.value) // 1000 // 60_000_000) * 60_000_000
            # refill ONLY on forward movement: an out-of-order
            # event from an earlier minute must not reset the
            # bucket (a single late straggler would otherwise
            # refill the window twice and admit up to 2x epm);
            # late events are charged against the current window
            # instead — under-admits, never over-admits
            if minute_us > window_us:
                window_us, tokens = minute_us, epm
            if tokens > 0:
                tokens -= 1
                mask.append(True)
            else:
                mask.append(False)
        state.update((tokens, window_us))
        kept = pdf[pd.Series(mask, index=pdf.index)]
        if len(kept):
            yield kept

    keyed = events.withColumn(
        "__key",
        F.lit(0).cast("long") if key_all else F.xxhash64(events[key_col]),
    )
    limited = keyed.groupBy("__key").applyInPandasWithState(
        bucket,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return limited.drop("__key")


# ---------------------------------------------------------------------
# emit-on-change: suppress per-key rows whose value did not change


EOC_STATE_SCHEMA = StructType(
    [
        # nullable string can't distinguish "last value was NULL" from
        # "no state yet" through a replay, so null-ness is explicit
        StructField("last_value", StringType()),
        StructField("last_is_null", LongType()),
    ]
)

EOC_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
    ]
)


def emit_on_change_stream(events: DataFrame) -> DataFrame:
    """Streaming form of ``operators/stream_twins.emit_on_change``:
    per user, emit a row only when ``event_type`` differs (null-safely)
    from the key's previously EMITTED value — run-length compression of
    a keyed change stream with the compression state in the Spark
    state store, surviving micro-batch boundaries and restarts.

    Rows are processed in (ts, event_id) order within each micro-batch;
    with in-order arrival the cumulative output equals the batch twin
    replayed over the full history (asserted against it in
    tests/test_streaming_dedup.py::test_emit_on_change_stream_matches
    _batch_twin). State per key is one value — O(keys), watermark-free,
    same scale shape as the rate limiter above.
    """

    def track(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_value, last_is_null = state.get
            have_last = True
            last = None if last_is_null else last_value
        else:
            have_last = False
            last = None
        out: list[tuple] = []
        # concat-then-sort across ALL chunks: Arrow splits a key's
        # micro-batch into multiple chunks in arbitrary order, so a
        # per-chunk sort is not a global (ts, event_id) sort and the
        # documented batch-twin equivalence would break for keys with
        # >maxRecordsPerBatch rows in one micro-batch
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            for ts, eid, val in zip(
                pdf["ts"], pdf["event_id"], pdf["event_type"]
            ):
                v = None if pd.isna(val) else str(val)
                if not have_last or v != last:
                    out.append((int(key[0]), ts, int(eid), v))
                last, have_last = v, True
        state.update((last if last is not None else "", 1 if last is None else 0))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "ts", "event_id", "event_type"]
            )

    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType=EOC_OUT_SCHEMA,
            stateStructType=EOC_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
