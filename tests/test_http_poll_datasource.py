"""HTTP long-poll Python Data Source (sources/http_poll_datasource.py):
lines arrive through a mid-stream disconnect; offsets are durable
spool byte offsets; only one instance pulls; the reconnect backoff
doubles, caps and resets after a productive connection."""

from __future__ import annotations

import contextlib
import http.client
import time
import urllib.request

import pytest

from dwds_livestream_spark.sources.http_poll_datasource import (
    HttpPollDataSource,
    HttpPollSimpleReader,
)

FIRST = [f"alpha-{i}" for i in range(5)]
SECOND = [f"beta-{i}" for i in range(5)]


@pytest.fixture()
def replay_server(replay_http):
    return replay_http(FIRST, SECOND)


def test_stream_survives_disconnect(spark, replay_server, tmp_path):
    spark.dataSource.register(HttpPollDataSource)
    q = (
        spark.readStream.format("http_poll")
        .option("url", replay_server)
        .option("spoolDir", str(tmp_path / "spool"))
        .option("baseBackoffS", "0.2")
        .load()
        .writeStream.format("memory")
        .queryName("http_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        t0 = time.time()
        while time.time() - t0 < 90:
            q.processAllAvailable()
            if spark.table("http_out").count() >= 10:
                break
            time.sleep(0.3)
        vals = [r["value"] for r in spark.table("http_out").collect()]
        # both halves arrived, across the abrupt disconnect, in order
        assert vals == FIRST + SECOND
        # camelCase options set on the stream reach the reader
        spool = tmp_path / "spool" / "spool.ndjson"
        assert spool.read_text().splitlines() == FIRST + SECOND
    finally:
        q.stop()


def test_reader_offsets_replay_and_holdback(replay_server, tmp_path):
    r = HttpPollSimpleReader(
        {"url": replay_server, "spoolDir": str(tmp_path / "sp"),
         "baseBackoffS": "0.1"}
    )
    try:
        total = sum(len(x) + 1 for x in FIRST + SECOND)
        end = {"offset": 0}
        t0 = time.time()
        while time.time() - t0 < 30 and end["offset"] < total:
            _, end = r.read({"offset": 0})
            time.sleep(0.2)
        assert end["offset"] == total
        rows = list(r.readBetweenOffsets({"offset": 0}, end))
        assert [t[0] for t in rows] == FIRST + SECOND
        # replay of an arbitrary committed sub-range works from ANY
        # instance (fresh object, no puller) — the restart path
        r2 = HttpPollSimpleReader(
            {"url": replay_server, "spoolDir": str(tmp_path / "sp")}
        )
        part = list(r2.readBetweenOffsets({"offset": 8}, end))
        assert [t[0] for t in part] == (FIRST + SECOND)[1:]
        assert r.reconnects >= 1
    finally:
        r.stop()


def test_second_instance_does_not_pull(replay_server, tmp_path):
    opts = {"url": replay_server, "spoolDir": str(tmp_path / "sp"),
            "baseBackoffS": "0.1"}
    a = HttpPollSimpleReader(opts)
    b = HttpPollSimpleReader(opts)
    try:
        a.read({"offset": 0})  # a becomes the puller
        b.read({"offset": 0})  # b must NOT start a second connection
        assert a._thread is not None
        assert b._thread is None
    finally:
        a.stop()
        b.stop()


class _StopAfter:
    """Stands in for the puller's stop event: records each backoff wait
    and reports stopped after ``n`` of them."""

    def __init__(self, n):
        self.n, self.waits = n, []

    def is_set(self):
        return len(self.waits) >= self.n

    def wait(self, seconds):
        self.waits.append(seconds)


def _backoff_waits(tmp_path, monkeypatch, connections):
    """Run the puller loop over scripted connections — an exception
    raised on connect, or lines delivered before the connection dies
    with IncompleteRead — and return its backoff waits (default 3 s
    base, 60 s cap)."""
    script = iter(connections)

    def urlopen(url, timeout):
        conn = next(script)
        if isinstance(conn, Exception):
            raise conn

        def body():
            yield from conn
            raise http.client.IncompleteRead(b"")

        return contextlib.nullcontext(body())

    monkeypatch.setattr(urllib.request, "urlopen", urlopen)
    r = HttpPollSimpleReader({"url": "http://unused", "spoolDir": str(tmp_path)})
    r._stop = _StopAfter(len(connections))
    r._run()
    return r._stop.waits


def test_puller_backoff_doubles_and_caps(tmp_path, monkeypatch):
    refused = [ConnectionRefusedError()] * 7
    # reference collector.clj:48-53: 3 s base, doubling, 60 s cap
    assert _backoff_waits(tmp_path, monkeypatch, refused) == [
        3.0, 6.0, 12.0, 24.0, 48.0, 60.0, 60.0,
    ]


def test_puller_backoff_resets_after_productive_dying_connection(
    tmp_path, monkeypatch
):
    conns = [OSError(), OSError(), [b"x\n"], OSError(), OSError(), OSError()]
    # two failures escalate, the connection that delivered a line and
    # then died resets to the base, fresh failures escalate again
    assert _backoff_waits(tmp_path, monkeypatch, conns) == [
        3.0, 6.0, 3.0, 6.0, 12.0, 24.0,
    ]
    assert (tmp_path / "spool.ndjson").read_bytes() == b"x\n"


def test_puller_survives_http_framing_errors(tmp_path, monkeypatch):
    """IncompleteRead is an HTTPException, not an OSError: it ends the
    attempt and the puller backs off instead of dying."""
    torn = [http.client.IncompleteRead(b"partial")] * 3
    assert _backoff_waits(tmp_path, monkeypatch, torn) == [3.0, 6.0, 12.0]
