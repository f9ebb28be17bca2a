"""Fact-table storage layout (sinks/fact_sink.py::parquet_writer): the
reference's B-tree indexes (ts, lemma, article_source —
collector/001-…up.sql:10-12) map to partition pruning + parquet min/max
stats. These tests pin that the written layout actually delivers both
access paths, and that the batch ledger (fact_sink.idempotent) skips a
replayed micro-batch."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.sinks.fact_sink import idempotent, parquet_writer


def _sink_rows(spark, n=2000):
    return spark.range(n).select(
        (
            F.lit(dt.datetime(2024, 12, 1)).cast("timestamp")
            + F.make_interval(hours=(F.col("id") % 72))
        ).alias("ts"),
        F.concat(F.lit("lemma"), F.format_string("%05d", F.col("id") % 500)).alias(
            "lemma"
        ),
        F.lit("Vollartikel").alias("article_type"),
        F.lit("WDG").alias("article_source"),
        F.lit(dt.date(1974, 1, 1)).alias("article_date"),
    )


def test_partition_pruning_and_lemma_pushdown(spark, tmp_path):
    path = str(tmp_path / "fact")
    parquet_writer(path)(_sink_rows(spark), 0)

    back = spark.read.parquet(path)
    q = back.where(
        (F.col("date") == "2024-12-02") & (F.col("lemma") == "lemma00123")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # ts-index analog: the date predicate prunes directories, never
    # touching other days' files
    assert "PartitionFilters" in plan and "date" in plan.split("PartitionFilters")[1].splitlines()[0]
    # lemma-index analog: the equality predicate reaches the scan as a
    # pushed filter, evaluated against file/rowgroup min-max stats
    assert "PushedFilters" in plan
    assert "EqualTo(lemma,lemma00123)" in plan.split("PushedFilters")[1].splitlines()[0]
    # and the data actually lands where pruning expects it
    assert q.count() > 0
    days = {r["date"] for r in q.select("date").distinct().collect()}
    assert days == {dt.date(2024, 12, 2)}


def test_append_batches_accumulate(spark, tmp_path):
    path = str(tmp_path / "fact")
    w = parquet_writer(path)
    w(_sink_rows(spark, 100), 0)
    w(_sink_rows(spark, 100), 1)
    assert spark.read.parquet(path).count() == 200


def _batch(spark, rows):
    return spark.createDataFrame(
        [Row(ts=ts, lemma=lemma, article_source="s") for ts, lemma in rows]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_maintenance_scan_is_partition_pruned(spark, tmp_path):
    fact = str(tmp_path / "factp")
    write = parquet_writer(fact)
    write(_batch(spark, [("2024-12-01 10:00:00", "a"), ("2024-12-02 10:00:00", "b")]), 0)
    scan = spark.read.parquet(fact).where(F.col("date").isin(["2024-12-02"]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date" in plan.split("PartitionFilters")[1][:120]


def test_idempotent_writer_skips_replayed_batch(spark, tmp_path):
    fact = str(tmp_path / "fact_i")
    write = idempotent(parquet_writer(fact), str(tmp_path / "ledger"))
    b = _batch(spark, [("2024-12-01 10:00:00", "a")])
    write(b, 7)
    write(b, 7)  # replay after a crash between write and checkpoint
    assert spark.read.parquet(fact).count() == 1
    write(b, 8)  # a genuinely new batch still appends
    assert spark.read.parquet(fact).count() == 2
