"""SCD2 dimension history (operators/scd2.py): change/delete/add
classification, idempotent re-merge."""

from __future__ import annotations

from pyspark.sql import Row

from dwds_livestream_spark.operators.scd2 import scd2_init, scd2_merge

KEYS = ["lemma"]
ATTRS = ["article_type", "source"]


def _snap(spark, rows):
    return spark.createDataFrame(
        [Row(lemma=lemma, article_type=at, source=src) for lemma, at, src in rows]
    )


def _versions(history):
    return {
        (r.lemma, str(r.valid_from), str(r.valid_to)): (r.article_type, r.source)
        for r in history.collect()
    }


def test_merge_classifies_and_keeps_history(spark):
    s1 = _snap(spark, [("Haus", "Vollartikel", "WDG"), ("Hund", "Minimalartikel", "WDG")])
    h1 = scd2_init(s1, "2024-01-01 00:00:00")

    s2 = _snap(
        spark,
        [
            ("Haus", "Vollartikel", "DWDS"),  # changed source
            ("Katze", "Vollartikel", "WDG"),  # added; Hund deleted
        ],
    )
    h2 = scd2_merge(h1, s2, KEYS, ATTRS, "2024-02-01 00:00:00")
    v = _versions(h2)
    assert v[("Haus", "2024-01-01 00:00:00", "2024-02-01 00:00:00")] == (
        "Vollartikel", "WDG",
    )
    assert v[("Haus", "2024-02-01 00:00:00", "None")] == ("Vollartikel", "DWDS")
    assert v[("Hund", "2024-01-01 00:00:00", "2024-02-01 00:00:00")] == (
        "Minimalartikel", "WDG",
    )
    assert v[("Katze", "2024-02-01 00:00:00", "None")] == ("Vollartikel", "WDG")
    assert len(v) == 4


def test_remerge_identical_snapshot_is_noop(spark):
    s1 = _snap(spark, [("Haus", "Vollartikel", "WDG")])
    h1 = scd2_init(s1, "2024-01-01 00:00:00")
    h2 = scd2_merge(h1, s1, KEYS, ATTRS, "2024-03-01 00:00:00")
    assert _versions(h2) == _versions(h1)


def test_null_attributes_compare_null_safe(spark):
    """A null attribute equal on both sides must NOT register as a
    change (the reference's hidx is optional, wbdb.clj:26)."""
    s1 = spark.createDataFrame(
        [("Haus", None, "WDG")], "lemma string, article_type string, source string"
    )
    h1 = scd2_init(s1, "2024-01-01 00:00:00")
    h2 = scd2_merge(h1, s1, KEYS, ATTRS, "2024-02-01 00:00:00")
    assert _versions(h2) == _versions(h1)
