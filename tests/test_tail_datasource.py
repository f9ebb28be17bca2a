"""Python Data Source tail stream (sources/tail_datasource.py):
append pickup, complete-line holdback, rotation reopen, fromEnd,
restart offsets and strict newline framing."""

from __future__ import annotations

import os
import time

import pytest

from dwds_livestream_spark.sources.tail_datasource import (
    TailDataSource,
    TailStreamReader,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(TailDataSource)
    return spark


def _drain(spark, q, name, want, timeout=60):
    t0 = time.time()
    while time.time() - t0 < timeout:
        q.processAllAvailable()
        got = spark.table(name).count()
        if got >= want:
            return
        time.sleep(0.3)
    raise AssertionError(f"timed out at {spark.table(name).count()}/{want}")


def test_stream_picks_up_appends_and_rotation(registered, tmp_path):
    spark = registered
    log = tmp_path / "access.log"
    log.write_text("old line should be skipped\n")
    q = (
        spark.readStream.format("tail")
        .option("path", str(log))
        .option("fromEnd", "true")
        .load()
        .writeStream.format("memory")
        .queryName("tail_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # wait for the reader to attach (fromEnd snapshots the size at
        # reader construction — appends before that are "pre-existing")
        t0 = time.time()
        while q.lastProgress is None and time.time() - t0 < 60:
            time.sleep(0.2)
        assert q.lastProgress is not None
        with open(log, "a") as fh:
            fh.write("line one\nline two\npartial")
        _drain(spark, q, "tail_out", 2)
        vals = {r["value"] for r in spark.table("tail_out").collect()}
        # fromEnd skipped the pre-existing line; partial held back
        assert vals == {"line one", "line two"}
        with open(log, "a") as fh:
            fh.write(" completed\n")
        _drain(spark, q, "tail_out", 3)
        assert "partial completed" in {
            r["value"] for r in spark.table("tail_out").collect()
        }
        # logrotate: replace the file (new inode), write fresh lines
        os.remove(log)
        log.write_text("after rotation\n")
        _drain(spark, q, "tail_out", 4)
        assert "after rotation" in {
            r["value"] for r in spark.table("tail_out").collect()
        }
    finally:
        q.stop()


def test_stream_from_start_replays_existing_lines(registered, tmp_path):
    log = tmp_path / "access.log"
    log.write_text("one\ntwo\nthree\n")
    q = (
        registered.readStream.format("tail")
        .option("path", str(log))
        .option("fromEnd", "false")
        .load()
        .writeStream.format("memory")
        .queryName("tail_from_start")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    vals = sorted(r["value"] for r in registered.table("tail_from_start").collect())
    assert vals == ["one", "three", "two"]


def test_reader_offsets_hold_back_partial_lines(tmp_path):
    log = tmp_path / "f.log"
    log.write_text("a\nb\nc")  # no trailing newline on 'c'
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    assert r.initialOffset() == {"epoch": 0, "offset": 0}
    off = r.latestOffset()
    assert off == {"epoch": 0, "offset": 4}  # just past 'b\n'
    [p] = r.partitions({"epoch": 0, "offset": 0}, off)
    assert [t[0] for t in r.read(p)] == ["a", "b"]


def test_reader_epoch_bumps_on_truncation(tmp_path):
    log = tmp_path / "f.log"
    log.write_text("long line content here\n")
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    first = r.latestOffset()
    assert first["epoch"] == 0
    log.write_text("x\n")  # shrink == copytruncate rotation
    second = r.latestOffset()
    assert second["epoch"] == 1 and second["offset"] == 2
    [p] = r.partitions(first, second)
    assert [t[0] for t in r.read(p)] == ["x"]


def test_restart_with_checkpointed_epoch_does_not_replay(tmp_path):
    """Review fix: after a query restart a FRESH reader starts at
    epoch 0 while the checkpoint carries epoch>=1; the same-file case
    must continue from the checkpointed byte (also covering bytes
    appended while down), not replay the whole file."""
    log = tmp_path / "restart.log"
    log.write_bytes(b"old-1\nold-2\n")
    ckpt_offset = log.stat().st_size  # committed under epoch 1
    log.write_bytes(log.read_bytes() + b"while-down\n")

    fresh = TailStreamReader({"path": str(log), "fromEnd": "true"})
    end = fresh.latestOffset()  # fresh counter: epoch 0
    [p] = fresh.partitions({"epoch": 1, "offset": ckpt_offset}, end)
    rows = [r[0] for r in fresh.read(p)]
    assert rows == ["while-down"]
    # the reader adopts the checkpoint epoch so later polls continue it
    assert fresh.latestOffset()["epoch"] == 1


def test_restart_after_rotation_while_down_replays_new_file(tmp_path):
    log = tmp_path / "rotated.log"
    log.write_bytes(b"fresh-1\n")  # shorter than the checkpointed 100
    fresh = TailStreamReader({"path": str(log), "fromEnd": "true"})
    end = fresh.latestOffset()
    [p] = fresh.partitions({"epoch": 2, "offset": 100}, end)
    rows = [r[0] for r in fresh.read(p)]
    assert rows == ["fresh-1"]
    assert fresh.latestOffset()["epoch"] == 3


def test_control_bytes_inside_line_do_not_split_it(tmp_path):
    """Review fix: framing is strictly on \\n — a \\v / \\f / \\x1c
    inside a log line must not fragment it (splitlines would)."""
    log = tmp_path / "ctl.log"
    log.write_bytes(b"GET /a\x0bb HTTP\nplain\x1cline\n")
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    [p] = r.partitions({"epoch": 0, "offset": 0}, r.latestOffset())
    rows = [x[0] for x in r.read(p)]
    assert rows == ["GET /a\x0bb HTTP", "plain\x1cline"]
