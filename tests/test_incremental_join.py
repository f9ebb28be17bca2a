"""Incremental join maintenance (operators/incremental_join.py):
Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dwds_livestream_spark.operators.incremental_join import join_delta


def test_join_delta_equals_full_recompute(spark):
    """Appended deltas reconstruct the full joined view exactly."""
    a = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("av")
    )
    b = spark.range(0, 300).select(
        (F.col("id") % 120).alias("k"), F.col("id").alias("bv")
    )
    a_old, d_a = a.where("k % 3 != 0"), a.where("k % 3 = 0")
    b_old, d_b = b.where("bv % 2 = 0"), b.where("bv % 2 = 1")
    old_view = a_old.join(b_old, "k")
    delta = join_delta(a_old, b_old, d_a, d_b, on="k")
    maintained = old_view.unionByName(delta)
    full = a.join(b, "k")
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_join_delta_one_sided_and_errors(spark):
    a = spark.range(10).select(F.col("id").alias("k"))
    b = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    d_b = spark.range(10, 15).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    # only B grows: delta is a_old ⋈ ΔB
    out = join_delta(a, b, None, d_b, on="k")
    assert out.count() == 0  # ΔB keys outside a_old
    with pytest.raises(ValueError):
        join_delta(a, b, None, None, on="k")
    with pytest.raises(ValueError):
        join_delta(a, b, a, None, on="k", how="left")
