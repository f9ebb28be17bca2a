"""J1 broadcast left-join enrichment + A1 argmin dimension dedup +
P8/F6 sink encoding — homograph semantics per SURVEY.md §7 risk list."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

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
    completes, new after (wbdb.clj:39-49 atom-swap semantics). The
    loader hands over raw rows: the lookup folds duplicates to the
    argmin, and a failed load keeps the old snapshot serving."""
    from dwds_livestream_spark.sources.dimension import DimensionSnapshot

    versions = [
        spark.createDataFrame([("obskur", None, "WDG")],
                              "lemma string, hidx int, source string"),
        # not deduped: the fold keeps the least hidx
        spark.createDataFrame([("obskur", 2, "A"), ("obskur", 1, "DWDS")],
                              "lemma string, hidx int, source string"),
    ]
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        if calls["n"] > len(versions):
            raise RuntimeError("dimension store unreachable")
        return versions[calls["n"] - 1]

    snap = DimensionSnapshot(loader)
    assert json.loads(snap.current()["obskur"])["source"] == "WDG"
    snap.refresh()
    assert json.loads(snap.current()["obskur"]) == {"hidx": 1, "source": "DWDS"}
    with pytest.raises(RuntimeError, match="unreachable"):
        snap.refresh()
    assert json.loads(snap.current()["obskur"]) == {"hidx": 1, "source": "DWDS"}
    snap.stop()


def fold_edge_rows():
    """Raw dimension rows where the argmin's every rule decides a lemma."""
    base = dict(hidx=None, lemma_type="AR_G", form_type=None,
                article_type=None, status=None, source=None, date=None)

    def row(lemma, **kw):
        return Row(**{"lemma": lemma, **base, **kw})

    return [
        # null hidx ranks as 0, below hidx 1 and 2
        row("Band", hidx=2, source="ZDL"),
        row("Band", hidx=1, source="DWDS"),
        row("Band", source="WDG", date=dt.date(1974, 1, 1)),
        # equal rank: the tie-break columns decide, nulls first
        row("Tie", hidx=1, form_type="Hauptform", article_type="A"),
        row("Tie", hidx=1, article_type="Voll"),
        row("Tie", hidx=1, article_type="Basis"),
        row("Null0", hidx=0, source="WDG"),
        row("Null0", source=None, status="Red-f"),
        row("Null0", hidx=0, source=None, status="Red-1"),
        row("Datum", hidx=3, date=dt.date(2001, 1, 1)),
        row("Datum", hidx=3),
        row("Datum", hidx=3, date=dt.date(1999, 1, 1)),
        # strings order byte-wise: "Z" < "Ä", and U+FF21 < U+1F600
        # (UTF-16 code units would order them the other way round)
        row("Umlaut", lemma_type="Ä"),
        row("Umlaut", lemma_type="Z"),
        row("Astral", form_type="\U0001F600"),
        row("Astral", form_type="\uFF21"),
        # lemmas and values that need JSON escaping
        row('Zitat"x', hidx=2, article_type='Voll"artikel'),
        row('Zitat"x', hidx=1, source="a\\b"),
        row("back\\slash", source="x\ny"),
        row("zwei\nZeilen", hidx=1, source="</script>"),
        row("zwei\nZeilen", hidx=2),
        # all-null metadata wins over a homograph
        row("leer", lemma_type=None),
        row("leer", hidx=3, source="DWDS"),
        row("solo", source="WDG"),
    ]


def test_dimension_lookup_folds_like_dedup_dimension(spark):
    """The live lookup's driver-side fold picks the row
    ``dedup_dimension`` keeps, byte for byte."""
    from dwds_livestream_spark.sources.dimension import dimension_lookup

    raw = spark.createDataFrame(fold_edge_rows(), DIMENSION)
    lookup = dimension_lookup(raw)
    assert lookup == dimension_lookup(dedup_dimension(raw))
    got = {k: json.loads(v) for k, v in lookup.items()}
    assert got["Band"] == {"lemma_type": "AR_G", "source": "WDG",
                           "date": "1974-01-01"}
    assert got["Tie"]["article_type"] == "Basis"
    assert got["Null0"] == {"hidx": 0, "lemma_type": "AR_G", "source": "WDG"}
    assert got["Datum"] == {"hidx": 3, "lemma_type": "AR_G"}
    assert got["Umlaut"]["lemma_type"] == "Z"
    assert got["Astral"]["form_type"] == "\uFF21"
    assert got['Zitat"x']["source"] == "a\\b"
    assert got["zwei\nZeilen"]["source"] == "</script>"
    assert lookup["leer"] == "{}"  # all-null metadata

    # without a hidx column every row ranks 0, as if every hidx were
    # null (which the wire omits), and the columns decide; null lemmas
    # fold to one entry
    no_hidx = spark.createDataFrame(
        [("obskur", "B"), ("obskur", "A"), ("obskur", None), ("x", "Z"),
         ("x", "Ä"), (None, "B"), (None, "A")],
        "lemma string, source string",
    )
    lookup = dimension_lookup(no_hidx)
    null_hidx = no_hidx.withColumn("hidx", F.lit(None).cast("int"))
    assert lookup == dimension_lookup(dedup_dimension(null_hidx))
    assert lookup == {"obskur": "{}", "x": '{"source":"Z"}',
                      None: '{"source":"A"}'}


def test_dimension_lookup_build_is_one_narrow_stage(spark, tmp_path):
    """The snapshot build is one Spark job of one stage — a projection
    shipped through Arrow — with no Exchange, Sort or Aggregate in its
    plan; the argmin runs on the driver."""
    from dwds_livestream_spark.sources.dimension import (
        dimension_lookup,
        load_dimension_parquet,
    )

    path = str(tmp_path / "dim.parquet")
    spark.createDataFrame(fold_edge_rows(), DIMENSION).repartition(3) \
        .write.parquet(path)
    raw = load_dimension_parquet(spark, path)
    assert raw.count() == len(fold_edge_rows())  # the loader does not dedup

    sc = spark.sparkContext
    sc.setJobGroup("dimension-lookup-build", "structure probe")
    try:
        lookup = dimension_lookup(raw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(lookup) == 11

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("dimension-lookup-build")
    assert len(jobs) == 1
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1

    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    build = next(
        e for e in (executions.apply(i) for i in reversed(range(executions.size())))
        if e.jobs().contains(jobs[0])
    )
    plan = build.physicalPlanDescription()
    assert "Scan parquet" in plan
    for node in ("Exchange", "Sort", "Aggregate"):
        assert node not in plan


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
