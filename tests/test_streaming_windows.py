"""The cross-batch stateful rate limiter (streaming/stateful.py)."""

from __future__ import annotations

import json
import os
import time

from dwds_livestream_spark.streaming.stateful import rate_limit_stream

SCHEMA = "timestamp timestamp, lemma string"


def _jsonl(ts: str, lemma: str) -> str:
    return json.dumps({"timestamp": ts, "lemma": lemma})


def _order_files(srcdir):
    """The file source orders micro-batches by modification time; give
    the fixture files strictly increasing mtimes so bN = batch N."""
    now = time.time()
    for i, f in enumerate(sorted(srcdir.iterdir())):
        os.utime(f, (now + i, now + i))


def _read_stream(spark, srcdir):
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .load(str(srcdir))
        .selectExpr(
            "from_json(value, 'timestamp timestamp, lemma string') AS e"
        )
        .select("e.timestamp", "e.lemma")
    )


def test_rate_limit_state_spans_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # 4 events in minute 10:00 split across two micro-batches, epm=3:
    # batch1 admits 2, batch2 admits only 1 more (bucket state carried),
    # then the 10:01 event refills the bucket.
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:01Z", "e1"),
                _jsonl("2024-01-01T10:00:02Z", "e2"),
            ]
        )
    )
    (src / "b2.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:03Z", "e3"),
                _jsonl("2024-01-01T10:00:04Z", "e4"),
                _jsonl("2024-01-01T10:01:00Z", "e5"),
            ]
        )
    )
    _order_files(src)
    out = rate_limit_stream(_read_stream(spark, src), epm=3)
    collected: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: collected.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_rl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.lemma for r in collected)
    assert kept == ["e1", "e2", "e3", "e5"]  # e4 dropped: bucket empty


def test_rate_limit_batch_order_is_event_time(spark):
    import pytest

    with pytest.raises(ValueError):
        rate_limit_stream(
            spark.createDataFrame([], SCHEMA), epm=0
        )


def test_rate_limit_late_event_does_not_refill_bucket(spark, tmp_path):
    """Review fix: a single out-of-order event from an EARLIER minute
    must not reset the bucket — before the fix the minute flip-flop
    refilled twice and admitted up to 2x epm in one minute."""
    src = tmp_path / "src_late_rl"
    src.mkdir()
    # minute 10:01 exhausts epm=2 in batch 1; batch 2 opens with a
    # LATE 10:00 straggler, then two more 10:01 events — which must
    # stay blocked (the straggler must not have refilled the window)
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:01:01Z", "m1"),
                _jsonl("2024-01-01T10:01:02Z", "m2"),
            ]
        )
    )
    (src / "b2.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:30Z", "late"),
                _jsonl("2024-01-01T10:01:03Z", "m3"),
                _jsonl("2024-01-01T10:01:04Z", "m4"),
                _jsonl("2024-01-01T10:02:00Z", "next"),
            ]
        )
    )
    _order_files(src)
    out = rate_limit_stream(_read_stream(spark, src), epm=2)
    collected: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: collected.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_rl_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.lemma for r in collected)
    # m1, m2 fill minute 10:01; the late straggler and m3/m4 find the
    # bucket empty (charged to the current window, no refill); the
    # genuinely-new minute 10:02 refills
    assert kept == ["m1", "m2", "next"]


def test_rate_limit_stream_multi_chunk_key(spark, tmp_path):
    """ADVICE r6: with tiny Arrow chunks a key's micro-batch arrives as
    several out-of-order chunks; admission must still follow GLOBAL
    event-time order. 40 events in one minute, epm=5, shuffled file
    order, 8-row chunks: the admitted set must be the 5 earliest
    timestamps — per-chunk sorting would admit the earliest of the
    first chunk instead."""
    order = [(i * 17) % 40 for i in range(40)]
    assert sorted(order) == list(range(40))
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            _jsonl(f"2024-01-01T10:00:{i:02d}Z", f"e{i:02d}")
            for i in order
        )
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        out = rate_limit_stream(_read_stream(spark, src), epm=5)
        collected: list = []
        q = (
            out.writeStream.outputMode("append")
            .foreachBatch(lambda b, i: collected.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt_rl_chunk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    kept = sorted(r.lemma for r in collected)
    assert kept == ["e00", "e01", "e02", "e03", "e04"]


def test_rate_limit_stream_per_key_buckets(spark, tmp_path):
    """key_all=False: each key gets its OWN leaky bucket — one hot key
    exhausting its tokens must not starve the other key's events."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _jsonl("2024-01-01T10:00:01Z", "hot"),
                _jsonl("2024-01-01T10:00:02Z", "hot"),
                _jsonl("2024-01-01T10:00:03Z", "hot"),  # hot exhausted
                _jsonl("2024-01-01T10:00:04Z", "cold"),
                _jsonl("2024-01-01T10:00:05Z", "cold"),
            ]
        )
    )
    out = rate_limit_stream(
        _read_stream(spark, src), epm=2, key_col="lemma", key_all=False
    )
    collected: list = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: collected.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_rl_key"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted((r.lemma, r.timestamp.second) for r in collected)
    # hot: first 2 of 3 admitted; cold: both admitted (own bucket)
    assert kept == [("cold", 4), ("cold", 5), ("hot", 1), ("hot", 2)]
