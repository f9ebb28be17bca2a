"""A1 — argmin dedup of the dimension (first homograph per lemma).

Reference: while folding the JDBC result set, keep per ``lemma`` the
record with the minimum ``hidx``, treating nil as 0
(first-homograph, src/dwds/livestream/wbdb.clj:20-28).

Spark-first shape: ``min_by(struct(*cols), coalesce(hidx, 0))`` in one
``groupBy(lemma)``. The physical plan is not a hash aggregate:
``min_by``'s buffer holds structs, which are not HashAggregate-eligible
(its buffer must be fixed-width mutable fields), so Spark plans
Sort -> SortAggregate(partial) -> Exchange hashpartitioning(lemma) ->
Sort -> SortAggregate. It is still one shuffle on the group key, with
map-side partial aggregation shrinking what crosses it, and it is exact
for any payload. This is the batch form (the ``argmin_dedup`` query,
``scripts/replay_log.py``); the live lookup folds the raw rows to the
same choice on the driver (``sources/dimension.py::dimension_lookup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def argmin_dedup(
    df: DataFrame,
    key: str,
    order_col: str,
    null_value: int = 0,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Keep, per ``key``, the row minimizing ``coalesce(order_col,
    null_value)``; optional tie-breaker columns make the choice total
    (the reference's fold keeps the first-seen row on ties, an
    arrival-order artifact — at scale a deterministic tie-break is the
    correct semantic).
    """
    payload = [c for c in df.columns if c != key]
    rank = F.coalesce(F.col(order_col), F.lit(null_value))
    order = F.struct(rank.alias("__rank"), *[F.col(t) for t in (tie_breakers or [])])
    agg = F.min_by(F.struct(*payload), order).alias("__best")
    return (
        df.groupBy(key)
        .agg(agg)
        .select(key, *[F.col(f"__best.{c}").alias(c) for c in payload])
    )


def dedup_dimension(dim: DataFrame) -> DataFrame:
    """The reference's exact dimension dedup: per lemma, minimum hidx
    (nil -> 0); deterministic tie-break on the remaining columns."""
    tie = [c for c in dim.columns if c not in ("lemma", "hidx")]
    return argmin_dedup(dim, key="lemma", order_col="hidx", tie_breakers=tie)
