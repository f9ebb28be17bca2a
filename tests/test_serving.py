"""K2/K3 serving shim: SSE/JSONL endpoints over the BroadcastHub —
framing, headers, epm validation, per-client tap lifecycle. Pure
stdlib (no Spark session needed)."""

from __future__ import annotations

import http.client
import threading
import time

import pytest

from dwds_livestream_spark.sinks.serving import LivestreamHTTPServer
from dwds_livestream_spark.streaming.hub import BroadcastHub


@pytest.fixture()
def served():
    hub = BroadcastHub()
    server = LivestreamHTTPServer(hub).start()
    yield hub, server.port
    server.stop()


def _feed(hub, lines, period=0.1):
    def run():
        for i, line in enumerate(lines):
            hub.publish([line], batch_id=i)
            time.sleep(period)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t


def _get(port, path, timeout=5.0):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    conn.request("GET", path)
    return conn, conn.getresponse()


def test_jsonl_stream_frames_and_headers(served):
    hub, port = served
    conn, resp = _get(port, "/api/jsonl")
    assert resp.status == 200
    assert resp.getheader("Content-Type") == "text/jsonl"
    assert resp.getheader("Cache-Control") == "no-cache"
    assert resp.getheader("X-Accel-Buffering") == "no"
    _feed(hub, ['{"lemma": "a"}', '{"lemma": "b"}'])
    lines = [resp.fp.readline().decode() for _ in range(2)]
    assert lines == ['{"lemma": "a"}\n', '{"lemma": "b"}\n']
    conn.close()


def test_sse_stream_framing(served):
    hub, port = served
    conn, resp = _get(port, "/api/events")
    assert resp.getheader("Content-Type") == "text/event-stream"
    _feed(hub, ['{"lemma": "x"}'])
    chunk = resp.fp.readline() + resp.fp.readline()
    assert chunk.decode() == 'data: {"lemma": "x"}\n\n'
    conn.close()


def test_epm_validation(served):
    _, port = served
    for bad in ("epm=0", "epm=-5", "epm=abc"):
        conn, resp = _get(port, f"/api/jsonl?{bad}")
        assert resp.status == 400, bad
        conn.close()


def test_unknown_path_404(served):
    _, port = served
    conn, resp = _get(port, "/api/nope")
    assert resp.status == 404
    conn.close()


def test_client_tap_removed_on_disconnect(served):
    hub, port = served
    conn, resp = _get(port, "/api/jsonl")
    _feed(hub, ['{"a": 1}'])
    resp.fp.readline()  # stream is live -> exactly one subscriber
    assert len(hub._subs) == 1
    resp.close()  # the response holds its own dup of the socket fd
    conn.close()
    deadline = time.monotonic() + 5
    while hub._subs and time.monotonic() < deadline:
        hub.publish(['{"tick": 1}'], batch_id=99)  # drive the write loop
        time.sleep(0.05)
    assert not hub._subs  # untap on disconnect (http.clj finally-block)


UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"


def test_full_live_topology_pipeline_to_http_client(spark, tmp_path):
    """§3.1 end to end: access-log dir -> streaming parse/enrich ->
    hub -> HTTP JSONL client — the complete reference topology
    (tailer to socket) in one test."""
    import json

    from pyspark.sql import Row

    from dwds_livestream_spark.schemas import DIMENSION
    from dwds_livestream_spark.sources.dimension import dimension_lookup
    from dwds_livestream_spark.streaming.pipeline import start_live_server

    logdir = tmp_path / "logs"
    logdir.mkdir()
    lines = [
        f'10.0.0.1 - - [08/Dec/2024:23:00:{s:02d} +0000] '
        f'"GET /wb/w{s} HTTP/1.1" 200 100 "-" "{UA}"'
        for s in range(5)
    ]
    (logdir / "a.log").write_text("\n".join(lines))
    dim = spark.createDataFrame(
        [Row(lemma="w1", hidx=None, lemma_type="AR_G", form_type="Hauptform",
             article_type="Vollartikel", status="x", source="WDG", date=None)],
        DIMENSION,
    ).drop("status")
    lookup = dimension_lookup(dim)

    hub = BroadcastHub()
    server = LivestreamHTTPServer(hub).start()
    conn, resp = _get(server.port, "/api/jsonl", timeout=60.0)
    # big-buffer tap via a second client is not needed: the streaming
    # batch publishes all 5 lines at once; client buffer=1 conflates to
    # the newest — assert on that single enriched event.
    q = start_live_server(
        spark,
        str(logdir),
        lambda: lookup,
        checkpoint=str(tmp_path / "ckpt"),
        publish=hub.publish,
        trigger={"availableNow": True},
    )
    try:
        got = json.loads(resp.fp.readline())
        assert got["lemma"].startswith("w")
        if got["lemma"] == "w1":  # enriched via the lemma lookup
            assert got["source"] == "WDG"
    finally:
        q.awaitTermination(60)
        resp.close()
        conn.close()
        server.stop()


def test_idle_heartbeat_reaches_quiet_client(monkeypatch):
    """Review fix: on a quiet stream the handler emits a periodic SSE
    comment / JSONL blank line so a dead socket fails a write instead
    of leaking the handler thread and hub tap forever."""
    from dwds_livestream_spark.sinks import serving as srv

    monkeypatch.setattr(srv, "_HEARTBEAT_SECONDS", 0.2)
    hub = BroadcastHub()
    server = LivestreamHTTPServer(hub).start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", server.port)
        conn.request("GET", "/api/events")
        resp = conn.getresponse()
        # publish NOTHING; within ~1s a keepalive comment must arrive
        chunk = resp.fp.read(len(b":keepalive\n\n"))
        assert chunk == b":keepalive\n\n"
        conn.close()
    finally:
        server.stop()
