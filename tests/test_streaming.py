"""Structured Streaming parity tests (SURVEY.md §3): live pipeline,
collector persistence with exactly-once restart, epm sampling, metrics
listener."""

from __future__ import annotations

import datetime as dt
import json
import time

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.functions.access_log import access_log_to_events
from dwds_livestream_spark.operators.enrich import enrich
from dwds_livestream_spark.functions.encode import to_json_events
from dwds_livestream_spark.operators.dedup_dim import dedup_dimension
from dwds_livestream_spark.schemas import DIMENSION, ENRICHED_EVENT
from dwds_livestream_spark.sinks.fact_sink import parquet_writer, start_fact_sink
from dwds_livestream_spark.sinks.sampling import sample_epm
from dwds_livestream_spark.sources.dimension import dimension_lookup
from dwds_livestream_spark.streaming.metrics import ThroughputListener
from dwds_livestream_spark.streaming.pipeline import collector_stream, start_live_server

UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"


def log_line(lemma: str, sec: int) -> str:
    return (
        f'10.0.0.1 - - [08/Dec/2024:23:00:{sec:02d} +0000] '
        f'"GET /wb/{lemma} HTTP/1.1" 200 100 "-" "{UA}"'
    )


@pytest.fixture()
def raw_dim(spark):
    """Raw dimension rows covering every shape of the wire: a date, a
    homograph with ``hidx`` (two rows, argmin keeps hidx 1), all-null
    metadata, lemmas and values that need JSON escaping, umlauts."""
    return spark.createDataFrame(
        [
            Row(lemma="obskur", hidx=None, lemma_type="AR_G", form_type="Hauptform",
                article_type="Vollartikel", status="Red-f", source="WDG",
                date=dt.date(1974, 1, 1)),
            Row(lemma="Band", hidx=2, lemma_type="AR_G", form_type="Hauptform",
                article_type="Vollartikel", status="Red-f", source="DWDS",
                date=dt.date(2001, 5, 3)),
            Row(lemma="Band", hidx=1, lemma_type="AR_G", form_type="Hauptform",
                article_type="Basisartikel", status="Red-f", source="WDG",
                date=None),
            Row(lemma="leer", hidx=None, lemma_type=None, form_type=None,
                article_type=None, status=None, source=None, date=None),
            Row(lemma='Zitat"x', hidx=None, lemma_type="AR_B", form_type=None,
                article_type='Voll"artikel', status=None, source="WDG", date=None),
            Row(lemma="back\\slash", hidx=None, lemma_type="AR_B", form_type=None,
                article_type=None, status=None, source="a\\b", date=None),
            Row(lemma="zwei\nZeilen", hidx=None, lemma_type="AR_B", form_type=None,
                article_type=None, status=None, source="x\ny", date=None),
            Row(lemma="Müßiggänger", hidx=None, lemma_type="AR_G",
                form_type="Hauptform", article_type="Minimalartikel",
                status=None, source="DWDS", date=dt.date(2020, 2, 29)),
        ],
        DIMENSION,
    ).drop("status")


@pytest.fixture()
def dim(raw_dim):
    """The deduped dimension: what the batch path joins."""
    return dedup_dimension(raw_dim)


# URL path -> decoded lemma: a miss, a date, a homograph, all-null
# metadata, and the lemmas that need JSON escaping (", \, newline, umlauts)
PARITY_PATHS = ["obskur", "unknown", "Band", "leer", "Zitat%22x", "back%5Cslash",
                "zwei%0AZeilen", "M%C3%BC%C3%9Figg%C3%A4nger"]


def _run_live(spark, logdir, ckpt, lookup, epm=None) -> list[str]:
    published: list[str] = []
    q = start_live_server(
        spark,
        str(logdir),
        dimension_loader=lambda: lookup,
        checkpoint=str(ckpt),
        publish=lambda lines, bid: published.extend(lines),
        trigger={"availableNow": True},
        epm=epm,
    )
    q.awaitTermination(60)
    return published


def test_live_pipeline_end_to_end(spark, tmp_path, raw_dim, dim):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text(
        "\n".join(log_line(p, i) for i, p in enumerate(PARITY_PATHS))
    )
    lookup = dimension_lookup(dim)
    published = _run_live(spark, logdir, tmp_path / "ckpt", lookup)
    events = sorted(json.loads(x)["lemma"] for x in published)
    assert events == sorted(["obskur", "unknown", "Band", "leer", 'Zitat"x',
                             "back\\slash", "zwei\nZeilen", "Müßiggänger"])
    enriched = {json.loads(x)["lemma"]: json.loads(x) for x in published}
    assert enriched["obskur"]["source"] == "WDG"
    assert enriched["obskur"]["date"] == "1974-01-01"
    assert enriched["Band"]["hidx"] == 1
    assert "source" not in enriched["unknown"]  # merge semantics
    assert set(enriched["leer"]) == {"timestamp", "lemma"}

    # batch/stream parity (reference log->edn, server.clj:37-48): the
    # batch path's broadcast join over read.text produces the same wire
    # lines, byte for byte, as the live path's lookup splice
    events_df = access_log_to_events(spark.read.text(str(logdir)))
    batch = to_json_events(enrich(events_df, dim))
    assert sorted(r.value for r in batch.collect()) == sorted(published)

    # the lookup folded from the raw rows (the live loaders' output)
    # publishes the same lines as the batch path over the deduped rows
    from_raw = _run_live(spark, logdir, tmp_path / "ckpt_raw",
                         dimension_lookup(raw_dim))
    assert sorted(r.value for r in batch.collect()) == sorted(from_raw)

    # the same with engine-side epm sampling: 3 newest of the minute
    sampled = _run_live(spark, logdir, tmp_path / "ckpt_epm", lookup, epm=3)
    batch = to_json_events(sample_epm(enrich(events_df, dim), 3))
    assert len(sampled) == 3
    assert sorted(r.value for r in batch.collect()) == sorted(sampled)


def test_dimension_refresh_mid_stream(spark, tmp_path, monkeypatch):
    """W2 on a running query (wbdb.clj:39-49): batches before a refresh
    carry the old metadata and batches after it the new; a failed
    refresh keeps the old snapshot serving and the query running; the
    loader and the lookup build run once per refresh, not per batch."""
    from dwds_livestream_spark.sources import dimension as dimension_mod
    from dwds_livestream_spark.sources.dimension import DimensionSnapshot

    calls = {"loader": 0, "lookup": 0}
    serving = {"source": "WDG"}

    def loader():
        calls["loader"] += 1
        if serving["source"] is None:
            raise RuntimeError("dimension store unreachable")
        return spark.createDataFrame(
            [("obskur", serving["source"])], "lemma string, source string"
        )

    def counting_lookup(df):
        calls["lookup"] += 1
        return dimension_lookup(df)

    monkeypatch.setattr(dimension_mod, "dimension_lookup", counting_lookup)
    snap = DimensionSnapshot(loader)
    logdir = tmp_path / "logs"
    staging = tmp_path / "staging"
    logdir.mkdir()
    staging.mkdir()
    published: list[tuple[int, str]] = []

    def feed(sec: int) -> dict:
        """Adds one file with one event; returns that event once published."""
        (staging / f"{sec}.log").write_text(log_line("obskur", sec))
        (staging / f"{sec}.log").rename(logdir / f"{sec}.log")
        deadline = time.time() + 60
        while time.time() < deadline:
            for _, line in list(published):
                ev = json.loads(line)
                if ev["timestamp"].endswith(f":{sec:02d}Z"):
                    return ev
            time.sleep(0.1)
        raise AssertionError(f"event of second {sec} not published")

    q = start_live_server(
        spark,
        str(logdir),
        snap.current,
        checkpoint=str(tmp_path / "ckpt"),
        publish=lambda lines, bid: published.extend((bid, x) for x in lines),
        trigger={"processingTime": "200 milliseconds"},
    )
    try:
        assert feed(1)["source"] == "WDG"
        serving["source"] = None
        with pytest.raises(RuntimeError):
            snap.refresh()
        assert feed(2)["source"] == "WDG"
        assert q.isActive and q.exception() is None
        serving["source"] = "DWDS"
        snap.refresh()
        assert feed(3)["source"] == "DWDS"
        assert len({bid for bid, _ in published}) == 3
        # initial build + failed refresh + good refresh; two lookups built
        assert calls == {"loader": 3, "lookup": 2}
    finally:
        q.stop()
        snap.stop()


def test_collector_exactly_once_restart(spark, tmp_path):
    src = tmp_path / "jsonl"
    src.mkdir()
    out = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")

    def event(lemma, hidx=None):
        e = {"timestamp": "2024-12-08T23:00:18Z", "lemma": lemma,
             "lemma_type": "AR_G", "form_type": "Hauptform",
             "article_type": "Vollartikel", "source": "WDG",
             "date": "1974-01-01"}
        if hidx is not None:
            e["hidx"] = hidx
        return json.dumps(e)

    (src / "b1.jsonl").write_text("\n".join([event("obskur"), event("Band", 1)]))

    def run_once():
        q = start_fact_sink(
            collector_stream(spark, str(src)),
            parquet_writer(out),
            checkpoint=ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)

    run_once()
    first = {r.lemma for r in spark.read.parquet(out).collect()}
    assert first == {"obskur", "Band#1"}  # P8 encoding applied

    # restart with the same checkpoint + one new file: old rows not
    # re-written (exactly-once upgrade over the reference, SURVEY §1.4)
    (src / "b2.jsonl").write_text(event("neu"))
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.lemma for r in rows) == ["Band#1", "neu", "obskur"]
    r = {x.lemma: x for x in rows}["Band#1"]
    assert r.ts == dt.datetime(2024, 12, 8, 23, 0, 18)
    assert r.article_date == dt.date(1974, 1, 1)


def test_sample_epm_newest_wins(spark):
    base = dt.datetime(2024, 12, 8, 23, 0, 0)
    rows = [
        Row(timestamp=base + dt.timedelta(seconds=i), lemma=f"l{i}", hidx=None,
            lemma_type=None, form_type=None, article_type=None, source=None,
            date=None)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, ENRICHED_EVENT)
    out = sample_epm(df, epm=10, ts_col="timestamp")
    kept = sorted(r.lemma for r in out.collect())
    # all 50 in one minute -> keep the 10 newest (drop-oldest conflation)
    assert kept == sorted(f"l{i}" for i in range(40, 50))

    with pytest.raises(ValueError):
        sample_epm(df, epm=0)

    # the transformation-shaped streaming variant is an intentional
    # capability gate (VERDICT r7 nit): the real forms are foreachBatch
    # sample_epm, rate_limit_stateful, and the per-subscriber hub limit
    from dwds_livestream_spark.sinks.sampling import sample_epm_streaming

    with pytest.raises(NotImplementedError, match="foreachBatch"):
        sample_epm_streaming(df, epm=10)


def test_throughput_listener(spark, tmp_path, dim):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text("\n".join(log_line("obskur", s) for s in range(30)))
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        lookup = dimension_lookup(dim)
        q = start_live_server(
            spark,
            str(logdir),
            dimension_loader=lambda: lookup,
            checkpoint=str(tmp_path / "ckpt"),
            publish=lambda lines, bid: None,
            trigger={"availableNow": True},
        )
        q.awaitTermination(60)
        deadline = time.time() + 10
        while time.time() < deadline and not listener.totals:
            time.sleep(0.2)
        assert sum(listener.totals.values()) >= 30  # meter counted the lines
    finally:
        spark.streams.removeListener(listener)


def test_malformed_lines_observed_and_dropped(spark, tmp_path):
    """The collector path counts malformed lines in observedMetrics
    (never silently) while dropping them from the typed stream."""
    import json as _json
    import time as _time

    from dwds_livestream_spark.streaming.metrics import ThroughputListener
    from dwds_livestream_spark.streaming.pipeline import collector_stream

    src = tmp_path / "jsonl"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            [
                _json.dumps({"timestamp": "2024-12-08T23:00:18Z", "lemma": "obskur"}),
                "garbage {",
                _json.dumps({"lemma": "no-ts"}),
            ]
        )
    )
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        rows = []
        q = (
            collector_stream(spark, str(src))
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, i: rows.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is asynchronous
        for _ in range(50):
            if listener.totals.get("malformed"):
                break
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert [r.lemma for r in rows] == ["obskur"]
    assert listener.totals.get("malformed") == 2


def test_curation_operators_are_stream_generic(spark, tmp_path):
    """Design-stance proof (SURVEY.md §7): the quality batteries are
    pure DataFrame->DataFrame transforms, so the SAME function runs on
    a readStream frame — batch/stream parity without code changes."""
    import json

    from dwds_livestream_spark.operators.curation import (
        c4_clean,
        gopher_quality,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "A good sentence with five words here."},
        {"doc_id": 2, "text": "no"},
    ]
    (src / "b0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    q = (
        c4_clean(gopher_quality(stream).join(
            stream.select("doc_id", "text"), "doc_id"
        ).select("doc_id", "text"))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ck))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(str(out)).collect()
    }
    batch = {
        r["doc_id"]: r
        for r in c4_clean(
            spark.read.schema("doc_id long, text string").json(str(src))
        ).collect()
    }
    assert set(got) == {1, 2}
    for k in got:
        assert got[k]["n_lines_kept"] == batch[k]["n_lines_kept"]
        assert got[k]["keep"] == batch[k]["keep"]
