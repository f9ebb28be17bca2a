"""J1 broadcast left-join enrichment + A1 argmin dimension dedup +
P8/F6 sink encoding — homograph semantics per SURVEY.md §7 risk list."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import Row

from dwds_livestream_spark.functions.encode import (
    events_to_sink_rows,
    from_json_events,
    to_json_events,
)
from dwds_livestream_spark.operators.dedup_dim import dedup_dimension
from dwds_livestream_spark.operators.enrich import enrich
from dwds_livestream_spark.schemas import DIMENSION, ENRICHED_EVENT

TS = dt.datetime(2024, 12, 8, 23, 0, 18)


def dim_rows():
    # "Band" has homographs 1..3 plus a nil-hidx record; nil->0 wins
    # (wbdb.clj:20-28). "obskur" is plain.
    return [
        Row(lemma="Band", hidx=2, lemma_type="AR_G", form_type="Hauptform",
            article_type="Vollartikel", status="Red-f", source="ZDL",
            date=dt.date(2020, 1, 1)),
        Row(lemma="Band", hidx=None, lemma_type="AR_G", form_type="Hauptform",
            article_type="Minimalartikel", status="Red-f", source="WDG",
            date=dt.date(1974, 1, 1)),
        Row(lemma="Band", hidx=1, lemma_type="AR_G", form_type="Hauptform",
            article_type="Basisartikel-D", status="Red-f", source="DWDS",
            date=dt.date(2011, 5, 2)),
        Row(lemma="obskur", hidx=None, lemma_type="AR_G", form_type="Hauptform",
            article_type="Vollartikel", status="Red-f", source="WDG",
            date=dt.date(1974, 1, 1)),
    ]


def test_argmin_dedup_nil_is_zero(spark):
    dim = dedup_dimension(spark.createDataFrame(dim_rows(), DIMENSION))
    got = {r.lemma: (r.hidx, r.article_type) for r in dim.collect()}
    assert got["Band"] == (None, "Minimalartikel")  # nil hidx ≙ 0 → wins
    assert got["obskur"] == (None, "Vollartikel")
    assert dim.count() == 2


def test_enrich_left_join_semantics(spark):
    dim = dedup_dimension(spark.createDataFrame(dim_rows(), DIMENSION))
    events = spark.createDataFrame(
        [Row(timestamp=TS, lemma="obskur"), Row(timestamp=TS, lemma="zzz-unknown")]
    )
    out = {r.lemma: r for r in enrich(events, dim).collect()}
    assert out["obskur"].source == "WDG"
    # left-join: unknown lemma survives with null metadata (server.clj:12-14)
    assert out["zzz-unknown"].source is None
    assert out["zzz-unknown"].timestamp == TS


def test_enrich_uses_broadcast(spark):
    dim = dedup_dimension(spark.createDataFrame(dim_rows(), DIMENSION))
    events = spark.createDataFrame([Row(timestamp=TS, lemma="obskur")])
    plan = enrich(events, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_sink_encoding_homograph_and_length_cap(spark):
    events = spark.createDataFrame(
        [
            Row(timestamp=TS, lemma="Band", hidx=1, lemma_type="AR_G",
                form_type="Hauptform", article_type="Vollartikel",
                source="DWDS", date=dt.date(2011, 5, 2)),
            Row(timestamp=TS, lemma="obskur", hidx=None, lemma_type=None,
                form_type=None, article_type=None, source=None, date=None),
            Row(timestamp=TS, lemma="x" * 130, hidx=None, lemma_type=None,
                form_type=None, article_type=None, source=None, date=None),
        ]
    )
    rows = {r.lemma: r for r in events_to_sink_rows(events).collect()}
    assert set(rows) == {"Band#1", "obskur"}  # P8 encode + F6 cap
    assert rows["Band#1"].article_source == "DWDS"
    assert rows["Band#1"].ts == TS


def test_json_roundtrip(spark):
    events = spark.createDataFrame(
        [
            Row(timestamp=TS, lemma="obskur", hidx=None, lemma_type="AR_G",
                form_type="Hauptform", article_type="Vollartikel",
                source="WDG", date=dt.date(1974, 1, 1)),
            Row(timestamp=TS, lemma="bare", hidx=None, lemma_type=None,
                form_type=None, article_type=None, source=None, date=None),
        ],
        ENRICHED_EVENT,
    )
    wire = to_json_events(events)
    texts = {r.value for r in wire.collect()}
    # unenriched events serialize without metadata keys (merge semantics)
    assert any('"lemma":"bare"' in t and "article_type" not in t for t in texts)
    back = from_json_events(wire)
    got = {r.lemma: r for r in back.collect()}
    assert got["obskur"].date == dt.date(1974, 1, 1)
    assert got["obskur"].timestamp == TS
    assert got["bare"].article_type is None


def test_dimension_snapshot_swap(spark):
    """W2 — refresh swaps atomically; consumers see old until refresh
    completes, new after (wbdb.clj:39-49 atom-swap semantics)."""
    from dwds_livestream_spark.sources.dimension import DimensionSnapshot

    versions = [
        spark.createDataFrame([("obskur", "WDG")], "lemma string, source string"),
        spark.createDataFrame([("obskur", "DWDS")], "lemma string, source string"),
        # not deduped: fails validation, so the swap never happens
        spark.createDataFrame([("obskur", "A"), ("obskur", "B")],
                              "lemma string, source string"),
    ]
    calls = {"n": 0}

    def loader():
        df = versions[min(calls["n"], 2)]
        calls["n"] += 1
        return df

    snap = DimensionSnapshot(loader)
    assert json.loads(snap.current()["obskur"])["source"] == "WDG"
    snap.refresh()
    assert json.loads(snap.current()["obskur"])["source"] == "DWDS"
    with pytest.raises(ValueError, match="duplicate"):
        snap.refresh()
    assert json.loads(snap.current()["obskur"])["source"] == "DWDS"
    snap.stop()


def test_from_json_drops_malformed_lines(spark):
    """F7 guard on the JSONL path: garbage lines and records missing
    required fields are dropped, valid lines survive."""
    raw = spark.createDataFrame(
        [
            ('{"timestamp":"2024-12-08T23:00:18Z","lemma":"obskur"}',),
            ("not json at all {",),
            ('{"lemma":"missing-ts"}',),
            ('{"timestamp":"2024-12-08T23:00:19Z"}',),
            ("",),
        ],
        ["value"],
    )
    out = from_json_events(raw).collect()
    assert [r.lemma for r in out] == ["obskur"]
    kept_all = from_json_events(raw, drop_malformed=False).count()
    assert kept_all == 5
