"""SCD2 (type-2 slowly changing dimension) merge.

The reference refreshes its lemma dimension by atomically swapping a
full snapshot every 12 h (wbdb.clj:39-49, 61-67) — history is lost, so
an event enriched yesterday cannot be re-derived once the article
metadata changes. SCD2 keeps every version as a validity interval
[valid_from, valid_to): the open row (valid_to IS NULL) is "current",
and a point-in-time enrichment joins events to the version whose
interval covers the event timestamp (composable with
operators/asof.py / range_join.py).

One merge step = ONE full-outer join of the open rows against the new
snapshot on the business key, classifying each key as unchanged /
changed / deleted / added with null-safe attribute comparison, then a
union with the closed history. No window functions, no per-key
iteration; shuffle is a single hash partition on the key — the merge
scales with |dimension|, independent of fact volume. Idempotent:
re-merging an identical snapshot is a no-op.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scd2_init(
    snapshot: DataFrame, ts: str, from_col: str = "valid_from", to_col: str = "valid_to"
) -> DataFrame:
    """First load: every snapshot row becomes an open version."""
    return snapshot.withColumn(from_col, F.lit(ts).cast("timestamp")).withColumn(
        to_col, F.lit(None).cast("timestamp")
    )


def scd2_merge(
    history: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    attrs: list[str],
    ts: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Merge a new dimension snapshot into an SCD2 history table.

    - unchanged keys keep their open row;
    - changed keys: open row closed at ``ts``, new open row inserted;
    - deleted keys: open row closed at ``ts``;
    - added keys: new open row inserted.
    """
    ts_lit = F.lit(ts).cast("timestamp")
    open_rows = history.where(F.col(to_col).isNull())
    closed_rows = history.where(F.col(to_col).isNotNull())

    o = open_rows.select(
        *[F.col(k) for k in keys],
        *[F.col(a).alias(f"__o_{a}") for a in attrs],
        F.col(from_col).alias("__o_from"),
        F.lit(True).alias("__in_o"),
    )
    s = snapshot.select(
        *[F.col(k) for k in keys],
        *[F.col(a).alias(f"__s_{a}") for a in attrs],
        F.lit(True).alias("__in_s"),
    )
    j = o.join(s, keys, "full_outer")

    same: Column = reduce(
        lambda acc, a: acc & F.col(f"__o_{a}").eqNullSafe(F.col(f"__s_{a}")),
        attrs,
        F.lit(True),
    )
    in_o = F.col("__in_o").isNotNull()
    in_s = F.col("__in_s").isNotNull()
    unchanged = in_o & in_s & same
    changed = in_o & in_s & ~same
    deleted = in_o & ~in_s
    added = in_s & ~in_o

    kept_open = j.where(unchanged).select(
        *keys,
        *[F.col(f"__o_{a}").alias(a) for a in attrs],
        F.col("__o_from").alias(from_col),
        F.lit(None).cast("timestamp").alias(to_col),
    )
    closed_now = j.where(changed | deleted).select(
        *keys,
        *[F.col(f"__o_{a}").alias(a) for a in attrs],
        F.col("__o_from").alias(from_col),
        ts_lit.alias(to_col),
    )
    new_open = j.where(changed | added).select(
        *keys,
        *[F.col(f"__s_{a}").alias(a) for a in attrs],
        ts_lit.alias(from_col),
        F.lit(None).cast("timestamp").alias(to_col),
    )
    cols = [*keys, *attrs, from_col, to_col]
    return (
        closed_rows.select(cols)
        .unionByName(kept_open)
        .unionByName(closed_now)
        .unionByName(new_open)
    )
