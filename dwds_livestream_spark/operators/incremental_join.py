"""Incremental JOIN-view maintenance: when A grows by ΔA and B by ΔB,
the join view A⋈B grows by exactly

    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB

(for append-only inputs — the standard delta rule; deletes need the
symmetric difference form, out of scope for an append-only fact
pipeline).

Beyond-reference operator (project brief: pipeline ops): a
denormalized serving table (e.g. events ⋈ dimension snapshots,
orders ⋈ lineitem) kept current by joining only the DELTAS against
the other side — at 100 TB the difference between
"join this batch" and "re-join history every refresh".

Scale design: ΔA and ΔB are batch-sized; ΔA⋈B and A⋈ΔB are each one
keyed join where the delta side is usually broadcastable, and the big
side is scanned with the join key pushed down (partition/bucket the
persisted view by the key and the scan prunes). No shuffle ever
touches the existing view output — deltas are APPENDED.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def join_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    d_a: DataFrame | None,
    d_b: DataFrame | None,
    on: list[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Rows to APPEND to the materialized ``a ⋈ b`` view after the
    append of ``d_a`` to A and ``d_b`` to B. ``how`` must be 'inner'
    (outer join views need retraction handling, not append-only
    deltas)."""
    if how != "inner":
        raise ValueError("append-only delta maintenance requires inner join")
    keys = [on] if isinstance(on, str) else list(on)
    parts: list[DataFrame] = []
    if d_a is not None:
        parts.append(d_a.join(b_old, keys, "inner"))
    if d_b is not None:
        parts.append(a_old.join(d_b, keys, "inner"))
    if d_a is not None and d_b is not None:
        parts.append(d_a.join(d_b, keys, "inner"))
    if not parts:
        raise ValueError("at least one delta must be provided")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
