"""HTTP long-poll transport end to end (sources/http_poll_datasource.py):
the puller spools every line, in arrival order, across a mid-stream
disconnect, and ``collector_stream(http_url=...)`` turns the replayed
JSONL endpoint (reference dev/user.clj:28-33 shape) into fact rows."""

from __future__ import annotations

import json
import time

from dwds_livestream_spark.sources.http_poll_datasource import (
    HttpPollSimpleReader,
)


def _event(lemma, hidx=None):
    e = {
        "timestamp": "2024-12-08T23:00:18Z",
        "lemma": lemma,
        "lemma_type": "AR_G",
        "form_type": "Hauptform",
        "article_type": "Vollartikel",
        "source": "WDG",
        "date": "1974-01-01",
    }
    if hidx is not None:
        e["hidx"] = hidx
    return json.dumps(e)


FIRST_HALF = [_event(f"wort{i}") for i in range(10)]
SECOND_HALF = [_event(f"wort{i}") for i in range(10, 20)] + [_event("Band", 1)]


def _wait_spooled(spool, want, timeout=60):
    """The spool file's lines once it holds ``want`` of them."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if spool.exists() and spool.read_bytes().count(b"\n") >= want:
            break
        time.sleep(0.05)
    return spool.read_text().splitlines()


def test_poller_survives_disconnect_and_spools_all(tmp_path, replay_http):
    r = HttpPollSimpleReader(
        {
            "url": replay_http(FIRST_HALF, SECOND_HALF),
            "spoolDir": str(tmp_path / "spool"),
            "baseBackoffS": "0.05",  # fast test backoff; default 3 s
            "maxBackoffS": "0.2",
        }
    )
    try:
        r.read({"offset": 0})  # the first read elects this reader puller
        got = _wait_spooled(tmp_path / "spool" / "spool.ndjson", 21)
    finally:
        r.stop()
    assert got == FIRST_HALF + SECOND_HALF  # arrival order preserved
    assert r.reconnects >= 1  # it did die and come back


def test_shim_feeds_collector_stream_e2e(spark, tmp_path, replay_http):
    from dwds_livestream_spark.sinks.fact_sink import (
        parquet_writer,
        start_fact_sink,
    )
    from dwds_livestream_spark.streaming.pipeline import collector_stream

    spool = tmp_path / "spool"
    out = str(tmp_path / "fact")
    q = start_fact_sink(
        collector_stream(
            spark, str(spool), http_url=replay_http(FIRST_HALF, SECOND_HALF)
        ),
        parquet_writer(out),
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"processingTime": "200 milliseconds"},
    )
    try:
        # the reconnect after the disconnect waits the 3 s default backoff
        _wait_spooled(spool / "spool.ndjson", 21)
        q.processAllAvailable()
    finally:
        q.stop()
    lemmas = sorted(r.lemma for r in spark.read.parquet(out).collect())
    assert lemmas == sorted([f"wort{i}" for i in range(20)] + ["Band#1"])
