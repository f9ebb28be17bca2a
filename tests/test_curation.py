"""Corpus-curation operators: decontamination, stratified split, PII
redaction, repetition stats, word top-k (operators/curation.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.operators.curation import (
    contamination_matrix,
    decontaminate,
    pii_redact,
    repetition_stats,
    stratified_split,
    word_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d e x y z"),
            Row(doc_id=3, text="p q r s t u v w"),
            Row(doc_id=4, text="spam spam spam spam ham"),
        ]
    )


def test_decontaminate_flags_overlap(docs):
    bench = docs.where(F.col("doc_id") == 1)
    out = decontaminate(docs, bench, n=5).orderBy("doc_id").collect()
    ids = [r.doc_id for r in out]
    # doc 1 is the benchmark itself (full overlap); doc 2 shares the
    # leading 5-gram "a b c d e"; docs 3-4 share nothing.
    assert ids == [1, 2]
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].contamination == 1.0
    assert by_id[2].n_overlap == 1
    assert 0 < by_id[2].contamination < 1


def test_contamination_matrix_counts(spark):
    """Matrix cells are (contaminated-doc count, total per-doc distinct
    shingle hits) per (corpus source, bench source) — hand-checkable on
    a corpus where every overlap is planted."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="web", text="a b c d e f g h"),
            Row(doc_id=2, source="web", text="a b c d e x y z"),
            Row(doc_id=3, source="book", text="a b c d e p q r"),
            Row(doc_id=4, source="book", text="m n o p q r s t"),
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=9, source="eval", text="a b c d e")]
    )
    out = {
        (r.source, r.bench_source): (r.n_docs, r.n_overlap)
        for r in contamination_matrix(docs, bench, n=5).collect()
    }
    # docs 1-3 each share exactly the one bench 5-gram; doc 4 is clean
    assert out == {("web", "eval"): (2, 2), ("book", "eval"): (1, 1)}


def test_contamination_matrix_sums_match_decontaminate(spark):
    """With a single-source benchmark, the matrix marginals must equal
    decontaminate's per-doc output aggregated by corpus source — the
    matrix is telemetry over the same join, not a new definition."""
    from dwds_livestream_spark.plans.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).withColumn(
        "source", F.lit("eval")
    )
    per_doc = decontaminate(docs, bench, n=5)
    want = {
        (r.source, "eval"): (r.n_docs, r.n_overlap)
        for r in per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"), F.sum("n_overlap").alias("n_overlap")
        )
        .collect()
    }
    got = {
        (r.source, r.bench_source): (r.n_docs, r.n_overlap)
        for r in contamination_matrix(docs, bench, n=5).collect()
    }
    assert got == want and got


def test_stratified_split_deterministic_and_total(docs, spark):
    out1 = {r.doc_id: r.split for r in stratified_split(docs).collect()}
    out2 = {r.doc_id: r.split for r in stratified_split(docs).collect()}
    assert out1 == out2
    assert set(out1.values()) <= {"train", "val", "test"}
    # content-addressed: a fresh frame with the same ids gets the same split
    other = spark.range(1, 5).withColumnRenamed("id", "doc_id")
    out3 = {r.doc_id: r.split for r in stratified_split(other).collect()}
    assert out1 == out3


def test_stratified_split_proportions(spark):
    big = spark.range(10_000).withColumnRenamed("id", "doc_id")
    frac = {
        r.split: r.n
        for r in stratified_split(big).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert 0.75 < frac["train"] / 10_000 < 0.85
    assert 0.07 < frac["val"] / 10_000 < 0.13
    assert 0.07 < frac["test"] / 10_000 < 0.13


def test_pii_redact(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jo.doe+x@example.org or 10.0.0.1"),
            Row(doc_id=2, text="account 1234567890 and short 123"),
            Row(doc_id=3, text="clean text only"),
        ]
    )
    out = {r.doc_id: r for r in pii_redact(df).collect()}
    assert out[1].redacted == "mail me at <EMAIL> or <IP>"
    assert out[1].n_redactions == 2
    assert out[2].redacted == "account <NUM> and short 123"
    assert out[2].n_redactions == 1
    assert out[3].redacted == "clean text only"
    assert out[3].n_redactions == 0


def test_repetition_stats_no_shuffle(docs):
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    spammy = out[4]
    assert spammy.top_word_count == 4 and spammy.n_tokens == 5
    assert spammy.top_word_frac == 0.8 and not spammy.keep
    assert out[1].top_word_frac == 0.125 and out[1].keep
    # scale contract: map-only — no exchange in the physical plan
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_word_topk_total_order(docs):
    rows = word_topk(docs, k=3).collect()
    assert [r.word for r in rows][0] == "spam"  # 4 occurrences
    assert rows[0].cnt == 4
    # ties broken lexicographically: a,b,c,d all have cnt=2
    assert [r.word for r in rows][1:] == ["a", "b"]


def test_mixture_sample_rates_and_nesting(spark):
    from dwds_livestream_spark.operators.curation import mixture_sample

    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    half = mixture_sample(docs, {"a": 1.0, "b": 0.5})
    counts = {
        r.source: r.n
        for r in half.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["a"] == 10_000  # rate 1.0 keeps everything
    assert 0.45 < counts["b"] / 10_000 < 0.55
    # nesting: raising b's rate keeps every previously sampled row
    fuller = mixture_sample(docs, {"a": 1.0, "b": 0.8})
    prev = {r.doc_id for r in half.collect()}
    now = {r.doc_id for r in fuller.collect()}
    assert prev <= now
    # determinism across replans
    again = {r.doc_id for r in mixture_sample(docs, {"a": 1.0, "b": 0.5}).collect()}
    assert again == prev


def test_gopher_quality_signals(spark):
    from dwds_livestream_spark.operators.curation import gopher_quality

    good = " ".join(
        ["the quick brown fox jumps over lazy dogs and that"] * 6
    )  # 60 words, mean len ~4, stopwords: the/and/that/over
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = "### " * 30 + "w " * 30
    rows = [
        Row(doc_id=1, text=good),
        Row(doc_id=2, text="too short"),
        Row(doc_id=3, text=bullets),
        Row(doc_id=4, text=symbols),
        Row(doc_id=5, text="\n".join(["trailing off..."] * 60)),
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality(
            spark.createDataFrame(rows), min_words=20, min_stop_hits=2
        ).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 2
    assert out[3]["bullet_line_frac"] == 1.0 and out[3]["keep"] is False
    assert out[4]["symbol_word_ratio"] > 0.1 and out[4]["keep"] is False
    assert out[5]["ellipsis_line_frac"] == 1.0 and out[5]["keep"] is False


def test_gopher_quality_is_map_only(docs):
    from dwds_livestream_spark.operators.curation import gopher_quality

    plan = gopher_quality(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_paragraph_dedup_cuts_later_occurrences(spark):
    from dwds_livestream_spark.operators.dedup import paragraph_dedup

    rows = [
        Row(doc_id=1, text="alpha beta\nshared boilerplate\ngamma"),
        Row(doc_id=2, text="shared boilerplate\ndelta epsilon"),
        Row(doc_id=3, text="shared boilerplate"),
        Row(doc_id=4, text="  \n\n"),  # all-blank: drops out entirely
    ]
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(spark.createDataFrame(rows)).collect()
    }
    # doc 1 is the first holder: keeps all three paragraphs in order
    assert out[1]["text"] == "alpha beta\nshared boilerplate\ngamma"
    assert out[1]["n_kept"] == 3
    # doc 2 loses the shared paragraph but keeps its own, order intact
    assert out[2]["text"] == "delta epsilon" and out[2]["n_kept"] == 1
    # doc 3 was only the duplicate: gone; doc 4 all-blank: gone
    assert 3 not in out and 4 not in out


def test_paragraph_dedup_first_occurrence_within_doc(spark):
    from dwds_livestream_spark.operators.dedup import paragraph_dedup

    rows = [Row(doc_id=7, text="x y\nx y\nz")]
    out = paragraph_dedup(spark.createDataFrame(rows)).collect()[0]
    assert out["text"] == "x y\nz" and out["n_kept"] == 2


def test_c4_clean_line_rules_and_doc_verdict(spark):
    from dwds_livestream_spark.operators.curation import c4_clean

    good = "\n".join(
        [
            "This is a perfectly fine sentence with enough words.",
            "Another proper sentence that also ends with punctuation!",
            'Does this one have five words or more?',
        ]
    )
    rows = [
        Row(doc_id=1, text=good),
        Row(doc_id=2, text="short line.\nno punct here at all\nAnother good long sentence right here."),
        Row(doc_id=3, text=good + "\nvar x = {a: 1};"),
        Row(doc_id=4, text="Lorem ipsum dolor sit amet consectetur adipiscing."),
    ]
    out = {r["doc_id"]: r for r in c4_clean(spark.createDataFrame(rows)).collect()}
    assert out[1]["keep"] is True and out[1]["n_lines_kept"] == 3
    assert out[1]["text"] == good
    # doc 2: 'short line.' has <5 words, middle line lacks punct -> 1 kept
    assert out[2]["n_lines_kept"] == 1 and out[2]["keep"] is False
    assert out[2]["text"] == "Another good long sentence right here."
    # doc 3: curly brace anywhere kills the doc even with enough lines
    assert out[3]["keep"] is False
    # doc 4: lorem ipsum kills it
    assert out[4]["keep"] is False


def test_c4_clean_is_map_only(spark):
    from dwds_livestream_spark.operators.curation import c4_clean

    df = spark.createDataFrame([Row(doc_id=1, text="Hello world today is fine.")])
    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_weighted_sample_props(spark):
    from dwds_livestream_spark.operators.curation import (
        weighted_sample_per_key,
    )

    rows = [
        Row(k="a", i=i, w=1000.0 if i == 0 else 0.001) for i in range(50)
    ] + [Row(k="b", i=100 + i, w=1.0) for i in range(2)]
    df = spark.createDataFrame(rows)
    out = weighted_sample_per_key(
        df, key_col="k", weight_col="w", id_col="i", k=3
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    # per-key cap respected; short keys keep everything
    assert len(by_key["a"]) == 3 and len(by_key["b"]) == 2
    # the overwhelming-weight row must be sampled
    assert 0 in {r["id"] for r in by_key["a"]}
    # deterministic: same input, same sample
    again = weighted_sample_per_key(
        df, key_col="k", weight_col="w", id_col="i", k=3
    ).collect()
    assert sorted((r["key"], r["id"]) for r in again) == sorted(
        (r["key"], r["id"]) for r in out
    )
    # WindowGroupLimit pushdown on the rank filter
    plan = (
        weighted_sample_per_key(df, "k", "w", "i", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


