"""Salted-join correctness: equals the plain join on skewed data, and
the salt actually spreads the hot key."""

from __future__ import annotations

from pyspark.sql import functions as F

from dwds_livestream_spark.operators.skew import salted_join


def _skewed(spark):
    # 2000 rows on the hot key, a handful elsewhere
    fact = spark.range(2100).select(
        F.when(F.col("id") < 2000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id") % 7))
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(7)],
        "k string, label string",
    )
    return fact, dim


def test_salted_join_equals_plain_join(spark):
    fact, dim = _skewed(spark)
    plain = {(r.k, r.v, r.label) for r in fact.join(dim, "k").collect()}
    for hot_keys in (None, ["hot"]):
        salted = {
            (r.k, r.v, r.label)
            for r in salted_join(fact, dim, on="k", salt=8, hot_keys=hot_keys).collect()
        }
        assert salted == plain


def test_salt_spreads_hot_key_and_left_join_keeps_unmatched(spark):
    fact, dim = _skewed(spark)
    f = fact.withColumn("__salt", F.floor(F.rand(seed=42) * 8).cast("int"))
    n_salts = (
        f.where(F.col("k") == "hot").select("__salt").distinct().count()
    )
    assert n_salts == 8  # the hot key really lands in 8 join buckets

    extra = fact.union(spark.createDataFrame([("orphan", -1)], "k string, v long"))
    left = salted_join(extra, dim, on="k", how="left", salt=4)
    orphan = [r for r in left.collect() if r.k == "orphan"]
    assert len(orphan) == 1 and orphan[0].label is None


