"""plans/io.load_table infers a table's parquet schema once per process:
a second read of the unchanged file plans no Spark job, while a
rewritten file or a changed inference conf is inferred again."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from dwds_livestream_spark.plans.io import load_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_by_group(spark, groups):
    """{group: job ids} once the listener bus has caught up: a sentinel
    job run after the probes is seen only after their job events."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sentinel = f"sentinel-{time.monotonic_ns()}"
    sc.setJobGroup(sentinel, "listener-bus sync")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return {g: list(tracker.getJobIdsForGroup(g)) for g in groups}


def _load_in_group(spark, group, sf_dir, name):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_second_read_of_unchanged_table_starts_no_job(spark, tmp_path, layout):
    if layout == "file":
        pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                       tmp_path / "t.parquet")
    else:
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string") \
            .repartition(2).write.parquet(str(tmp_path / "t.parquet"))
    tag = f"memo-{layout}-{time.monotonic_ns()}"
    first = _load_in_group(spark, f"{tag}-1", str(tmp_path), "t")
    second = _load_in_group(spark, f"{tag}-2", str(tmp_path), "t")
    jobs = _jobs_by_group(spark, [f"{tag}-1", f"{tag}-2"])
    assert len(jobs[f"{tag}-1"]) >= 1  # the probe sees inference's job
    assert jobs[f"{tag}-2"] == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "extra": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_inference_conf_change_is_not_hidden(spark, tmp_path):
    """``events.ts`` as TIMESTAMP(NANOS): read as epoch-nanos and
    converted with nanosAsLong, an error without it — also after the
    memo holds the nanosAsLong schema."""
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "x": [1]}), tmp_path / "events.parquet",
                   version="2.6")
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert load_table(spark, str(tmp_path), "events").schema == df.schema
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "events")
        spark.conf.set(NANOS, "true")
        again = load_table(spark, str(tmp_path), "events")
        assert again.collect() == df.collect()
    finally:
        spark.conf.set(NANOS, before)
