"""N-gram language-model scoring: train an add-k-smoothed bigram model
on the corpus in one pass, then score every document's perplexity under
it — the KenLM-style quality signal used to filter pre-training data
(CCNet / Gopher pipelines keep low-perplexity documents).

Beyond-reference operator (project brief: text analysis / quality
scoring). The reference computes no content statistics at all; this is
the corpus-level complement of functions/text.py::quality_score's
in-row heuristics.

Model: P(w2 | w1) = (c(w1 w2) + a) / (c(w1) + a·V), V = |vocab|,
a = ``add_k``. Document score: mean negative log-likelihood over its
bigrams; perplexity = exp(mean NLL). Docs with < 2 tokens have no
bigrams and are excluded (no defined score).

Scale design (100 TB):
- ONE tokenize pass feeds both the unigram and bigram counts (the
  exploded frame is reused); both aggregate with map-side partial
  combine — two keyed shuffles whose width is the n-gram vocabulary,
  not the corpus.
- Scoring joins each doc bigram against the model. The unigram table,
  V and the bigram table are broadcast (an n-gram vocabulary, not the
  corpus). Per-doc reduce is the same keyed aggregate the bigram
  explode already partitioned by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _bigrams(toks):
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )

def _tokenized(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, __toks) — the single tokenization every LM path uses."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )


def _count_tables(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(unigrams(w1, c1), bigrams(w1, w2, c2)) — SHARED by
    lm_perplexity and lm_train_write, so the persisted artifact's
    exact-parity gate against the retrain-per-call operator cannot
    drift."""
    uni = (
        base.select(F.explode("__toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    bi = (
        base.select(F.explode(_bigrams(F.col("__toks"))).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count("*").alias("c2"))
    )
    return uni, bi


def _doc_bigrams(base: DataFrame) -> DataFrame:
    return base.select(
        "doc_id", F.explode(_bigrams(F.col("__toks"))).alias("g")
    ).select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))


def _nll(add_k: float):
    """-ln P(w2|w1) under add-k smoothing — the one formula both
    scorers share (expects c2, c1, v columns in scope)."""
    return -F.log((F.col("c2") + add_k) / (F.col("c1") + add_k * F.col("v")))


def _per_doc_stats(scored: DataFrame, add_k: float) -> DataFrame:
    nll = _nll(add_k)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(nll), 6).alias("avg_nll"),
        F.round(F.exp(F.avg(nll)), 6).alias("ppl"),
    )


def lm_perplexity(
    documents: DataFrame,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram-LM stats: doc_id, n_bigrams, avg_nll, ppl
    (both rounded 1e-6)."""
    # materialize the tokenized frame once — it fans out to the
    # unigram counts, bigram counts, AND per-doc bigrams; without this
    # the corpus is scanned and re-tokenized three times (the module
    # docstring's 'one tokenize pass' claim)
    base = _tokenized(documents, text_col, id_col).localCheckpoint(
        eager=False
    )
    uni, bi = _count_tables(base)
    vocab = uni.agg(F.count("*").alias("v"))
    doc_bi = _doc_bigrams(base)

    model = F.broadcast(bi.join(uni, "w1"))
    scored = doc_bi.join(model, ["w1", "w2"]).crossJoin(F.broadcast(vocab))
    return _per_doc_stats(scored, add_k)


def lm_train_write(
    documents: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the bigram LM as a queryable artifact — the
    train-once/score-anywhere shape quality filtering needs at 100 TB
    (CCNet trains its KenLM on Wikipedia ONCE, then scores every crawl
    shard with it; retraining per scoring job, as ``lm_perplexity``
    does, is only right for self-scoring).

    Writes ``path/bigrams`` (w1, w2, c2), ``path/unigrams`` (w1, c1)
    and ``path/meta`` (1 row: v = |vocab|). One tokenize pass, two
    map-side-combined count shuffles — same training plan as
    lm_perplexity; the artifact is n-gram-vocabulary-sized, never
    corpus-sized."""
    base = _tokenized(documents, text_col, id_col).localCheckpoint(
        eager=False
    )  # shared by the unigram and bigram count jobs: tokenize once
    uni, bi = _count_tables(base)
    uni.write.mode("overwrite").parquet(f"{path}/unigrams")
    spark = documents.sparkSession
    uni_t = spark.read.parquet(f"{path}/unigrams")  # count from files:
    # one job, and bigram counting below re-reads the corpus anyway
    (
        uni_t.agg(F.count("*").alias("v"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/meta")
    )
    bi.write.mode("overwrite").parquet(f"{path}/bigrams")


def lm_score(
    spark,
    path: str,
    documents: DataFrame,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score ``documents`` under the PERSISTED model at ``path`` —
    same output shape as ``lm_perplexity`` (doc_id, n_bigrams,
    avg_nll, ppl) and identical values when scoring the training
    corpus itself (asserted in tests/test_lm_artifact.py).

    Held-out semantics the retrain-per-call operator cannot offer:
    bigrams (or even unigram contexts) UNSEEN in training back off to
    the add-k floor — c2 = 0 / c1 = 0 via left joins — instead of
    being dropped, so out-of-domain text gets the high perplexity it
    deserves rather than a hole in the score."""
    bi = F.broadcast(spark.read.parquet(f"{path}/bigrams"))
    uni = F.broadcast(spark.read.parquet(f"{path}/unigrams"))
    meta = spark.read.parquet(f"{path}/meta")

    doc_bi = _doc_bigrams(_tokenized(documents, text_col, id_col))
    # join the two count tables SEPARATELY: a pre-joined model table
    # would lose w1's unigram count for seen-context/unseen-bigram
    # pairs (left-join miss drops the whole row's c1)
    scored = (
        doc_bi.join(bi, ["w1", "w2"], "left")
        .withColumn("c2", F.coalesce("c2", F.lit(0)))
        .join(uni, ["w1"], "left")
        # unseen CONTEXT w1: unigram count 0 -> pure add-k floor
        .withColumn("c1", F.coalesce("c1", F.lit(0)))
        .crossJoin(F.broadcast(meta))
    )
    return _per_doc_stats(scored, add_k)
