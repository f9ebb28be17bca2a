"""Live-JDBC smoke (VERDICT r1 'What's missing' #4): round-trip the
collector's JDBC writer + idempotent ledger and the S3 dimension scan
through embedded Apache Derby — the JDBC engine already on Spark's
classpath — so the quoting/dialect/batching edges actually execute
instead of being shape-only.

Derby stands in for the reference's MySQL/Postgres: same java.sql
surface, same Spark JDBC write/read path (DerbyDialect), running
in-process so no external service is needed.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    home = tmp_path_factory.mktemp("derby")
    jvm = spark._jvm
    jvm.java.lang.System.setProperty("derby.system.home", str(home))
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(home / "derby.log")
    )
    return f"jdbc:derby:{home}/db;create=true"


def _execute(spark, url: str, *statements: str) -> None:
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def _query_one(spark, url: str, sql: str):
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        rs.next()
        return rs.getLong(1)
    finally:
        conn.close()


def test_jdbc_writer_batches_and_idempotent_ledger(spark, derby_url, tmp_path):
    """128-row batched appends land; a replayed batch id is skipped by
    the ledger instead of double-inserting (SURVEY §1.4 upgrade)."""
    from dwds_livestream_spark.sinks.fact_sink import (
        idempotent,
        jdbc_writer,
        start_fact_sink,
    )
    from dwds_livestream_spark.streaming.pipeline import collector_stream

    src = tmp_path / "jsonl"
    src.mkdir()

    def event(lemma, hidx=None):
        e = {"timestamp": "2024-12-08T23:00:18Z", "lemma": lemma,
             "lemma_type": "AR_G", "form_type": "Hauptform",
             "article_type": "Vollartikel", "source": "WDG",
             "date": "1974-01-01"}
        if hidx is not None:
            e["hidx"] = hidx
        return json.dumps(e)

    n = 300  # > 2 full 128-row JDBC batches
    (src / "b1.jsonl").write_text(
        "\n".join(event(f"wort{i}") for i in range(n - 1))
        + "\n" + event("Band", 1)
    )

    ledger = str(tmp_path / "ledger")
    writer = idempotent(jdbc_writer(derby_url, "wb_page_request"), ledger)
    q = start_fact_sink(
        collector_stream(spark, str(src)),
        writer,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    assert _query_one(
        spark, derby_url, 'SELECT COUNT(*) FROM wb_page_request'
    ) == n

    # replay batch 0 through the same writer: ledger must skip it
    replay = spark.read.jdbc(derby_url, "wb_page_request").limit(5)
    writer(replay, 0)
    assert _query_one(
        spark, derby_url, 'SELECT COUNT(*) FROM wb_page_request'
    ) == n

    # and without the ledger the same call WOULD double-insert —
    # proving the test can actually detect the failure mode
    jdbc_writer(derby_url, "wb_page_request")(replay, 0)
    assert _query_one(
        spark, derby_url, 'SELECT COUNT(*) FROM wb_page_request'
    ) == n + 5

    # the encode path survived the dialect round-trip
    got = spark.read.jdbc(derby_url, "wb_page_request")
    row = got.where("lemma = 'Band#1'").first()
    assert row is not None
    assert row.ts == dt.datetime(2024, 12, 8, 23, 0, 18)
    assert row.article_date == dt.date(1974, 1, 1)


def test_load_dimension_jdbc_pushed_join_and_dedup(spark, derby_url):
    """S3: the lemma ⋈ article join runs inside the database (the scan
    Spark sees is the joined subquery); the loader returns its raw rows
    under the engine's uppercase-canonicalized result columns, lowered,
    and the live lookup folds them to the argmin."""
    from dwds_livestream_spark.sources.dimension import (
        dimension_lookup,
        load_dimension_jdbc,
    )

    _execute(
        spark,
        derby_url,
        "CREATE TABLE lemma (lemma VARCHAR(128), hidx INT, "
        "type VARCHAR(16), form_type VARCHAR(32), article_id INT)",
        "CREATE TABLE article (id INT, type VARCHAR(32), "
        "status VARCHAR(16), source VARCHAR(16), date DATE)",
        "INSERT INTO article VALUES "
        "(1, 'Vollartikel', 'Red-f', 'WDG', '1974-01-01'), "
        "(2, 'Vollartikel', 'Red-f', 'DWDS', '2020-05-05')",
        "INSERT INTO lemma VALUES "
        "('Band', 2, 'AR_G', 'Hauptform', 1), "
        "('Band', 1, 'AR_G', 'Hauptform', 2), "
        "('obskur', NULL, 'AR_G', 'Hauptform', 1)",
    )
    dim = load_dimension_jdbc(spark, derby_url)
    rows = sorted(dim.collect(), key=lambda r: (r.lemma, r.hidx or 0))
    assert [(r.lemma, r.hidx, r.source) for r in rows] == [
        ("Band", 1, "DWDS"),  # joined article payload
        ("Band", 2, "WDG"),
        ("obskur", None, "WDG"),
    ]
    lookup = {k: json.loads(v) for k, v in dimension_lookup(dim).items()}
    assert set(lookup) == {"Band", "obskur"}
    assert (lookup["Band"]["hidx"], lookup["Band"]["source"]) == (1, "DWDS")
    assert "hidx" not in lookup["obskur"]  # nil kept, ranked as 0
    assert dim.columns == [
        "lemma", "hidx", "lemma_type", "form_type",
        "article_type", "status", "source", "date",
    ]


def test_jdbc_writer_retries_transient_failures(monkeypatch):
    """The in-batch retry wrapper (collector.clj:100-105 parity): a
    transiently failing write is retried with doubling backoff (1 s
    base, 20 s cap — config defaults) and succeeds without raising."""
    from dwds_livestream_spark.sinks import fact_sink as fs

    sleeps: list[float] = []
    monkeypatch.setattr(fs.time, "sleep", sleeps.append)

    attempts = {"n": 0}

    class FakeMode:
        def jdbc(self, url, table, properties):
            attempts["n"] += 1
            if attempts["n"] <= 2:
                raise RuntimeError("transient")

    class FakeWrite:
        def mode(self, _):
            return FakeMode()

    class FakeBatch:
        write = FakeWrite()

    fs.jdbc_writer("jdbc:derby:unused", "t")(FakeBatch(), 0)
    assert attempts["n"] == 3  # failed twice, succeeded third
    assert sleeps == [1.0, 2.0]


def test_jdbc_writer_raises_after_backoff_cap(monkeypatch):
    """A permanently failing sink escalates to the 20 s cap and then
    raises instead of retrying forever."""
    import pytest as _pytest

    from dwds_livestream_spark.sinks import fact_sink as fs

    sleeps: list[float] = []
    monkeypatch.setattr(fs.time, "sleep", sleeps.append)

    class FakeMode:
        def jdbc(self, url, table, properties):
            raise RuntimeError("permanent")

    class FakeWrite:
        def mode(self, _):
            return FakeMode()

    class FakeBatch:
        write = FakeWrite()

    with _pytest.raises(RuntimeError, match="permanent"):
        fs.jdbc_writer("jdbc:derby:unused", "t")(FakeBatch(), 0)
    assert sleeps[-1] == 20.0  # reached the cap, then raised
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 16.0, 20.0]


def test_reference_collector_integration_shape(spark, derby_url, tmp_path):
    """The reference's ONE integration test (collector_test.clj:19-45:
    live JSONL endpoint -> collector :limit 25 -> Postgres ->
    COUNT(*) >= 25), re-expressed with this engine's parts: replay
    HTTP server -> collector_stream over the http_poll source ->
    jdbc_writer into embedded Derby -> count assertion. Same contract,
    stronger check (exact count, not just >=)."""
    import threading
    import time as _time
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from dwds_livestream_spark.sinks.fact_sink import (
        jdbc_writer,
        start_fact_sink,
    )
    from dwds_livestream_spark.streaming.pipeline import collector_stream

    limit = 25
    lines = [
        json.dumps(
            {"timestamp": "2024-12-08T23:00:18Z", "lemma": f"wort{i}",
             "lemma_type": "AR_G", "form_type": "Hauptform",
             "article_type": "Vollartikel", "source": "WDG",
             "date": "1974-01-01"}
        )
        for i in range(limit)
    ]
    stopping = threading.Event()

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):  # noqa: N802
            self.send_response(200)
            self.send_header("Connection", "close")
            self.end_headers()
            for ln in lines:
                self.wfile.write(ln.encode() + b"\n")
            self.wfile.flush()
            while not stopping.wait(0.05):  # then long-poll idle
                pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), H)
    httpd.daemon_threads = True
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{httpd.server_address[1]}/api/jsonl"
        spool = tmp_path / "spool"
        # the puller connects on the first micro-batch, so this runs on a
        # processing-time trigger (availableNow would see an empty spool)
        q = start_fact_sink(
            collector_stream(spark, str(spool), http_url=url),
            jdbc_writer(derby_url, "collector_it"),
            checkpoint=str(tmp_path / "ckpt"),
            trigger={"processingTime": "200 milliseconds"},
        )
        ndjson = spool / "spool.ndjson"
        try:
            deadline = _time.monotonic() + 60
            while _time.monotonic() < deadline and (
                not ndjson.exists() or ndjson.read_bytes().count(b"\n") < limit
            ):
                _time.sleep(0.1)
            q.processAllAvailable()
        finally:
            q.stop()
        got = _query_one(spark, derby_url, "SELECT COUNT(*) FROM collector_it")
        assert got == limit  # reference asserts >=; exact is stronger
    finally:
        stopping.set()
        httpd.shutdown()
