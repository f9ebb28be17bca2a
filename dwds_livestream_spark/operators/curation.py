"""Corpus-curation operators for training-data pipelines (project brief;
beyond the reference surface — SURVEY.md §7 Phase 5).

Scale design notes (100 TB corpus, 1000 executors):

- ``decontaminate``: the benchmark side (eval-set shingles) is tiny and
  DISTINCT'd before the join, so it broadcasts — the corpus-side scan
  stays shuffle-free; the only shuffle is the per-doc overlap count,
  keyed by doc_id (uniform, no skew).
- ``stratified_split``: pure projection (md5 bucketing) — zero shuffle,
  deterministic across engines and re-runs (no rand()), so the split is
  reproducible from the data alone.
- ``repetition_stats``: per-row higher-order array functions only — the
  per-document word histogram never leaves the row, so there is NO
  explode/groupBy shuffle; a 100 TB scan stays map-only.
- ``pii_redact``: pure regexp projection, codegen'd, map-only.
- ``word_topk``: the classic two-level aggregate — partial (map-side)
  combine collapses each partition to its local vocabulary before the
  single shuffle on word; final top-k is a driver-sized sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

# PII patterns: email, long digit runs (phone/account-ish), IPv4.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS = r"\d{6,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"



def _guarded_gram_transform(n_pos, fn, elem_array_type: str):
    """transform over positions 1..n_pos, or a typed empty array when
    n_pos <= 0 — sequence(1, 0) is DESCENDING in Spark, so a document
    with fewer than n tokens would otherwise crash slice(.., 0, ..)."""
    return F.when(
        n_pos > 0, F.transform(F.sequence(F.lit(1), n_pos), fn)
    ).otherwise(F.array().cast(elem_array_type))


def _with_shingles(
    df: DataFrame, text_col: str, n: int, out: str = "__sh"
) -> DataFrame:
    """Adds a distinct word-n-gram array column.

    The token array is materialized as its own projection before the
    n-gram transform references it — inlining ``tokens(text)`` into the
    lambda makes Spark re-evaluate the regex split once per shingle
    position (O(n²) per document; measured 80x slower at sf0.1 — same
    trap documented on ``winnowing_fingerprints``)."""
    return df.withColumn("__toks", tokens(F.lower(F.col(text_col)))).withColumn(
        out,
        F.array_distinct(
            _guarded_gram_transform(
                F.greatest(F.size("__toks") - (n - 1), F.lit(0)),
                lambda i: F.array_join(F.slice("__toks", i, n), " "),
                "array<string>",
            )
        ),
    )


def _with_shingle_hashes(
    df: DataFrame, text_col: str, n: int, out: str = "__shh"
) -> DataFrame:
    """Adds a distinct word-n-gram *hash* array column
    (``xxhash64`` over the token slice — no per-gram string build).

    For set operations that never expose shingle text (membership,
    overlap counting), hashing the slice directly skips the
    ``array_join`` concatenation entirely — measured ~2x on the
    decontamination scan. 64-bit collisions across even billions of
    distinct shingles are vanishingly rare and only perturb a count by
    1; anything exposing shingle strings must use ``_with_shingles``."""
    return df.withColumn("__toks", tokens(F.lower(F.col(text_col)))).withColumn(
        out,
        F.array_distinct(
            _guarded_gram_transform(
                F.greatest(F.size("__toks") - (n - 1), F.lit(0)),
                lambda i: F.xxhash64(F.slice("__toks", i, n)),
                "array<bigint>",
            )
        ),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with a benchmark/eval set (the standard guard against test-set
    leakage into training data).

    Returns (doc_id, n_overlap, n_shingles, contamination) for every
    contaminated document. The benchmark shingle set is DISTINCT'd and
    broadcast: eval sets are MBs against a 100 TB corpus, so the corpus
    scan is never shuffled — each task probes a broadcast hash set.
    """
    bench_shingles = (
        _with_shingle_hashes(benchmark, text_col, n)
        .select(F.explode("__shh").alias("s"))
        .distinct()
    )
    doc_shingles = _with_shingle_hashes(docs, text_col, n).select(
        F.col(id_col),
        F.explode("__shh").alias("s"),
        F.size("__shh").alias("n_shingles"),
    )
    return (
        doc_shingles.join(F.broadcast(bench_shingles), "s")
        .groupBy(id_col, "n_shingles")
        .agg(F.count("*").alias("n_overlap"))
        .select(
            id_col,
            "n_overlap",
            "n_shingles",
            F.round(
                F.col("n_overlap") / F.greatest("n_shingles", F.lit(1)), 6
            ).alias("contamination"),
        )
    )


def contamination_matrix(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    bench_group_col: str = "source",
) -> DataFrame:
    """``decontaminate`` generalized to curation telemetry: for every
    (corpus source, benchmark source) pair, how many corpus documents
    share at least one word n-gram with that benchmark slice, and how
    many (doc, distinct-shingle) overlap hits there are in total.
    Output: source, bench_source, n_docs, n_overlap.

    Same scale shape as decontaminate: the benchmark (shingle,
    bench_source) pairs are DISTINCT'd and broadcast (eval sets are
    MBs against a 100 TB corpus), the corpus scan stays shuffle-free,
    and the probe-join output folds map-side twice — first to
    (doc, bench_source) rows, then to the |sources x bench_sources|
    matrix — so no countDistinct Expand ever touches fact-scale rows.
    """
    bench_shingles = (
        _with_shingle_hashes(benchmark, text_col, n)
        .select(
            F.explode("__shh").alias("s"),
            F.col(bench_group_col).alias("bench_source"),
        )
        .distinct()
    )
    doc_shingles = _with_shingle_hashes(docs, text_col, n).select(
        F.col(id_col),
        F.col(group_col).alias("source"),
        F.explode("__shh").alias("s"),
    )
    per_doc = (
        doc_shingles.join(F.broadcast(bench_shingles), "s")
        .groupBy(id_col, "source", "bench_source")
        .agg(F.count("*").alias("hits"))
    )
    return per_doc.groupBy("source", "bench_source").agg(
        F.count("*").alias("n_docs"),
        F.sum("hits").alias("n_overlap"),
    )


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_hi: str = "cc",
    val_hi: str = "e6",
) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket of the id:
    the first two hex chars of md5(id) partition [00, ff] into
    train [00, cc) ≈ 80 %, val [cc, e6) ≈ 10 %, test [e6, ff] ≈ 10 %.

    Content-addressed (no rand(), no zipWithIndex): the same row lands in
    the same split on any engine, any partitioning, any rerun — the
    property a 100 TB pipeline needs so splits survive recomputation.
    """
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(bucket < train_hi, "train")
        .when(bucket < val_hi, "val")
        .otherwise("test"),
    )


def split_report(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-(split, stratum) counts and mean size — the balance check run
    after ``stratified_split``. One partial-aggregated shuffle on a tiny
    key space."""
    return (
        stratified_split(df, id_col=id_col)
        .groupBy("split", strata_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(size_col), 6).alias("avg_size"),
        )
    )


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact email / long-digit-run / IPv4 patterns, keeping a per-row
    redaction count for audit. Pure regexp projection (map-only;
    regexp_count + regexp_replace are codegen'd JVM ops)."""
    text = F.col(text_col)
    n_red = (
        F.regexp_count(text, F.lit(PII_EMAIL))
        + F.regexp_count(text, F.lit(PII_IPV4))
        # count digit runs on the email/ip-free text so an IP's octets
        # aren't double-counted as digit runs
        + F.regexp_count(
            F.regexp_replace(
                F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
            ),
            F.lit(PII_DIGITS),
        )
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_DIGITS,
        "<NUM>",
    )
    return df.select(
        id_col,
        redacted.alias("redacted"),
        n_red.alias("n_redactions"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals, computed WITHOUT exploding: the
    per-document word histogram is built inside the row with higher-order
    array functions (distinct words × filter-count), so the whole
    operator is a map-only projection — no shuffle at any scale.

    top_word_frac: share of tokens taken by the most frequent word;
    dup_word_frac: share of tokens that are repeats of an earlier word.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n_tok = F.size(toks)
    top_cnt = F.coalesce(
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda w: F.size(F.filter(toks, lambda t: t == w)),
            )
        ),
        F.lit(0),
    )
    n_distinct = F.size(F.array_distinct(toks))
    top_frac = F.round(top_cnt / F.greatest(n_tok, F.lit(1)), 6)
    dup_frac = F.round((n_tok - n_distinct) / F.greatest(n_tok, F.lit(1)), 6)
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        top_cnt.alias("top_word_count"),
        top_frac.alias("top_word_frac"),
        dup_frac.alias("dup_word_frac"),
        (top_frac <= 0.2).alias("keep"),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixing sampler: keep each source's rows at its target rate,
    deterministically. The keep decision is a content-addressed md5
    bucket of the row id compared against a per-source hex threshold —
    a pure projection + filter (no shuffle, no rand()), so the mixture
    is reproducible row-for-row on any engine, any partitioning, any
    rerun, and UPSAMPLING a source later (raising its rate) keeps every
    previously sampled row (thresholds are nested).

    The per-source rate table is a CASE expression, not a join —
    mixture specs are tiny and this keeps the operator map-only.
    """
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    expr = None
    for src, rate in sorted(rates.items()):
        thr = F.lit(_hex_threshold(rate))
        cond = F.col(source_col) == src
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    thr_col = (
        expr.otherwise(F.lit(_hex_threshold(default_rate)))
        if expr is not None
        else F.lit(_hex_threshold(default_rate))
    )
    return df.where(bucket < thr_col)


def _hex_threshold(rate: float) -> str:
    """4-hex-digit threshold: bucket strings below it ≈ ``rate`` of the
    uniform md5 space ('g' sorts after every hex digit, admitting
    everything at rate 1.0)."""
    n = max(0, min(65536, round(rate * 65536)))
    return "g" if n == 65536 else format(n, "04x")


def word_topk(
    df: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Global top-k vocabulary: explode → two-phase count (map-side
    partial combine collapses each partition to its local vocab before
    the one shuffle on word) → total-order top-k (count desc, word asc —
    deterministic under ties)."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(k)
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, "Scaling Language
    Models", App. A.1.1) as one map-only projection.

    Eight signals, each computed inside the row with higher-order array
    functions — no explode, no shuffle, the 100 TB scan stays a single
    codegen'd map stage:

    - n_words in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio ('#' and '...'/'…') <= max_symbol_word_ratio
    - fraction of bullet-started lines <= max_bullet_line_frac
    - fraction of ellipsis-ended lines <= max_ellipsis_line_frac
    - fraction of words with an alphabetic char >= min_alpha_word_frac
    - at least min_stop_hits distinct required stopwords present

    ``keep`` is the conjunction. Ratios are rounded to 1e-6 so the
    DuckDB oracle hash-matches across float formatting.
    """
    text = F.col(text_col)
    toks = tokens(text)
    low = tokens(F.lower(text))
    n_words = F.size(toks)
    n_words_safe = F.greatest(n_words, F.lit(1))
    mean_wlen = F.round(
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        )
        / n_words_safe,
        6,
    )
    n_symbols = (
        F.coalesce(F.regexp_count(text, F.lit(r"#")), F.lit(0))
        + F.coalesce(F.regexp_count(text, F.lit(r"\.\.\.")), F.lit(0))
        + F.coalesce(F.regexp_count(text, F.lit("…")), F.lit(0))
    )
    symbol_ratio = F.round(n_symbols / n_words_safe, 6)
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )
    n_lines_safe = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(
                    "-", "*", "•", "·"
                ),
            )
        )
        / n_lines_safe,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: F.rtrim(ln).endswith("...")
                | F.rtrim(ln).endswith("…"),
            )
        )
        / n_lines_safe,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-zÀ-ÿ]")))
        / n_words_safe,
        6,
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(low, s))
    )
    out = df.select(
        id_col,
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("keep", keep)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) as one map-only
    projection — the line filter, reassembly, and document verdict all
    happen inside the row with higher-order array functions; a 100 TB
    scan never shuffles.

    Line rules (a line survives if ALL hold):
    - ends in terminal punctuation (. ! ? ") after rtrim
    - has at least ``min_line_words`` words
    Document rules:
    - keep = at least ``min_lines`` surviving lines, no '{' anywhere
      (code/markup tell), no 'lorem ipsum'
    Output: doc_id, text (surviving lines re-joined), n_lines_kept,
    keep.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.split(text, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )

    def _line_ok(ln):
        t = F.rtrim(ln)
        punct = (
            t.endswith(".") | t.endswith("!") | t.endswith("?")
            | t.endswith('"')
        )
        words = F.size(
            F.filter(F.split(ln, r"\s+"), lambda w: F.length(w) > 0)
        )
        return punct & (words >= min_line_words)

    kept = F.filter(lines, _line_ok)
    n_kept = F.size(kept)
    keep = (
        (n_kept >= min_lines)
        & ~text.contains("{")
        & ~F.lower(text).contains("lorem ipsum")
    )
    return df.select(
        id_col,
        F.array_join(kept, "\n").alias("text"),
        n_kept.cast("int").alias("n_lines_kept"),
        keep.alias("keep"),
    )


def weighted_sample_per_key(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Weighted top-k sample per key (Efraimidis-Spirakis A-ES, 2006):
    each row draws u ~ U(0,1) and survives if its key u^(1/w) ranks in
    the key's top k — inclusion probability proportional to weight,
    exactly one pass.

    u is CONTENT-ADDRESSED (md5 of the row id → 48-bit fraction), not
    rand(): the sample is reproducible row-for-row on any engine, any
    partitioning, any rerun — same design as ``mixture_sample`` /
    ``stratified_split``. Ranking uses ln(u)/w (monotone transform of
    u^(1/w)), one per-key window; the rank<=k filter triggers Spark's
    WindowGroupLimit pushdown, so each task heaps k rows per key
    before the shuffle.

    Output: key, id, weight, es_score (round 1e-6), rank.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
        ).cast("double")
        / F.lit(float(1 << 48))
    )
    # + 0.0 folds IEEE -0.0 to +0.0 (a near-zero score rounds to -0.0
    # here but to 0.0 in engines that normalize; keep both sides equal)
    score = F.round(
        F.log(u) / F.col(weight_col).cast("double"), 6
    ) + F.lit(0.0)
    from pyspark.sql import Window as _W

    w = _W.partitionBy("key").orderBy(F.desc("es_score"), F.asc("id"))
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("double").alias("weight"),
            score.alias("es_score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def curriculum_shards(
    df: DataFrame, order_col: str, n_shards: int = 8
) -> DataFrame:
    """Globally ordered shards WITHOUT a global sort: repartitionByRange
    samples range bounds (one small sampling job), every task then sorts
    only its own slice — shard i's max ``order_col`` ≤ shard i+1's min.
    The curriculum-training write path (easy→hard by quality/ppl
    score): `.write.partitionBy('shard')` after this and shard files
    ARE the curriculum order. No SinglePartition anywhere in the plan.
    """
    return (
        df.repartitionByRange(n_shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("shard", F.spark_partition_id())
    )


def ngram_novelty(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty of ``eval_docs`` against a ``train``
    corpus: for each eval document, how many of its DISTINCT word
    n-grams already occur anywhere in train (``n_seen``) and the
    novelty rate ``1 - n_seen / n_shingles``. The corpus-vs-corpus
    memorization / contamination-rate measure (Lee et al. 2022 "Dedup
    makes LMs better" §5; the n-gram-overlap eval in the Pile /
    FineWeb ablations) — ``decontaminate`` above answers "does doc X
    touch the tiny benchmark?", this answers "how much of corpus B is
    already in corpus A?" where BOTH sides are corpus-sized.

    Scale: train folds to its DISTINCT shingle-hash set (one shuffle,
    map-side combine) — it CANNOT broadcast, so membership is a hash
    equi-join on 8-byte shingle hashes (never shingle strings; same
    ``_with_shingle_hashes`` contract as decontaminate: counts only,
    64-bit collisions perturb a count by ~1 in 2^64). Shuffles: train
    distinct + eval explode join + per-doc count — all keyed, no
    nested loop. Docs with fewer than ``n`` tokens report
    n_shingles=0 and novelty NULL (nothing to judge).
    """
    train_set = (
        _with_shingle_hashes(train, text_col, n)
        .select(F.explode("__shh").alias("__h"))
        .distinct()
    )
    ev = _with_shingle_hashes(eval_docs, text_col, n).select(
        id_col, F.size("__shh").alias("n_shingles"), F.col("__shh")
    )
    hits = (
        ev.select(id_col, F.explode("__shh").alias("__h"))
        .join(train_set, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_seen"))
    )
    return (
        ev.drop("__shh")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_seen", F.lit(0)).alias("n_seen"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    1.0 - F.coalesce("n_seen", F.lit(0)) / F.col("n_shingles"), 6
                ) + F.lit(0.0),
            ).alias("novelty"),
        )
    )


def length_band_filter(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    lo_p: float = 0.1,
    hi_p: float = 0.9,
    accuracy: int = 10_000_000,
) -> DataFrame:
    """Per-group percentile band filter: keep rows whose ``value_col``
    lies within the group's [``lo_p``, ``hi_p``] percentile band — the
    standard length-outlier curation cut (too-short fragments and
    too-long concatenation junk), computed per language/source so one
    verbose group doesn't set another's bounds.

    Percentile convention: the value at 1-based rank ``ceil(p * n)``
    of the group's sorted column — ``percentile_approx`` with accuracy
    >= group size is EXACT under this convention, so the bounds are
    engine-reproducible (the DuckDB oracle replicates with
    row_number + ceil, NOT quantile_disc). The exactness guarantee
    therefore holds only for groups up to ``accuracy`` rows (default
    1e7): beyond it the bound's rank error is up to n/accuracy rows —
    raise ``accuracy`` (sketch buffer grows with it) or switch to the
    ``distributed_rank`` exact path when a group outgrows it. Plan:
    one groupBy(group) aggregate (mergeable sketch, group-count-sized
    result), broadcast join back, map-only filter — the corpus scan
    never sorts.
    """
    if not (0.0 < lo_p <= hi_p < 1.0):
        raise ValueError(f"need 0 < lo_p <= hi_p < 1: {lo_p}, {hi_p}")
    if accuracy < 1:
        raise ValueError(f"accuracy must be >= 1: {accuracy}")
    v = F.col(value_col)
    bounds = df.groupBy(group_col).agg(
        F.percentile_approx(
            value_col, F.array(F.lit(lo_p), F.lit(hi_p)), F.lit(int(accuracy))
        ).alias("__b")
    ).select(
        group_col,
        F.col("__b")[0].alias("band_lo"),
        F.col("__b")[1].alias("band_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .where((v >= F.col("band_lo")) & (v <= F.col("band_hi")))
    )


def zipf_fit(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """Zipf power-law fit of the per-group word-frequency distribution:
    OLS of ln(freq) on ln(rank) over each group's top-``k`` words
    (rank 1 = most frequent; ties broken by word asc so the ordering
    is total). Returns one row per group: ``n_types`` (full vocabulary
    size), ``zipf_slope`` (~ -1 for natural language — the classic
    corpus health check; synthetic/templated text shows up as a flat
    or cliff-shaped slope), ``zipf_intercept``, ``r2``.

    Scale: explode → two-phase (group, word) count — one shuffle with
    map-side combine, vocabulary-sized result. The top-k window sorts
    each group's VOCABULARY (sublinear in corpus size; one task per
    group), and the OLS is a built-in regr_* aggregate over g·k rows.
    The fit deliberately uses top-k ranks only — the textbook Zipf
    regression regime, and it bounds the window input.
    """
    counts = (
        df.select(
            group_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
        )
        .groupBy(group_col, "word")
        .agg(F.count("*").alias("cnt"))
    )
    n_types = counts.groupBy(group_col).agg(F.count("*").alias("n_types"))
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("word"))
    top = counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    lr = F.log(F.col("rank").cast("double"))
    lf = F.log(F.col("cnt").cast("double"))
    fit = top.groupBy(group_col).agg(
        (F.round(F.regr_slope(lf, lr), 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_intercept(lf, lr), 6) + F.lit(0.0)).alias("zipf_intercept"),
        (F.round(F.regr_r2(lf, lr), 6) + F.lit(0.0)).alias("r2"),
    )
    return n_types.join(fit, group_col)


def dup_rate_by_group(
    df: DataFrame,
    group_col: "str | list[str]" = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group exact-duplicate mass — the curation dashboard rollup
    of ``exact_dedup`` (which crawl shard / source is feeding us
    copies?): n_docs, n_unique (distinct md5 digests), n_dup_docs
    (docs beyond the first per digest) and dup_rate per group.
    ``group_col`` may be a list for composite keys — e.g.
    ``["source", "snapshot"]``, the :func:`dup_rate_drift` fold.

    One groupBy(group) with a two-phase distinct over 16-byte digests
    — text never shuffles; per-group skew is safe because only
    (group, digest) pairs cross the exchange. Groups with one doc
    report dup_rate 0.0 exactly (integer-derived division, round 6).
    ``keeper_id`` is the group's min ``id_col`` — the same canonical-
    survivor convention as ``exact_dedup`` / ``domain_dedup``.
    """
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    digest = F.md5(F.col(text_col))
    return (
        df.select(*[F.col(g) for g in groups], digest.alias("__d"), F.col(id_col))
        .groupBy(*groups)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("__d").alias("n_unique"),
            (F.count("*") - F.countDistinct("__d")).alias("n_dup_docs"),
            (
                F.round(
                    (F.count("*") - F.countDistinct("__d"))
                    / F.count("*").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
            F.min(id_col).alias("keeper_id"),
        )
    )



def _ks_quantize(
    sample: DataFrame,
    reference: "DataFrame | None",
    value_col: str,
    bins: int,
    keep_cols: tuple[str, ...] = (),
) -> "tuple[DataFrame, DataFrame | None]":
    """Shared binned-KS quantizer (the ``bins=`` path of
    :func:`ks_distance` / :func:`ks_panel`): replace ``value_col`` on
    BOTH inputs with a common equal-width bucket index over the
    combined [min, max] range, so the downstream histogram fold is
    ``bins``-bounded regardless of the value domain — the standard
    binned-KS audit for continuous high-cardinality columns, as a
    one-arg path instead of caller-side width_bucket homework.

    The range comes from one 1-row min/max aggregate over the union
    of both sides (a second corpus pass, the price of a common grid)
    and moves by broadcast. Bucketing is plain double arithmetic
    (subtract / divide / multiply / floor — bit-identical across
    engines, so the oracle replicates exactly); v == max lands in the
    top bucket, and a degenerate range (hi == lo) collapses to one
    bucket (ks 0 against any same-range reference). Binned D is a
    lower bound on exact D with grid error <= 1/bins.

    Columns other than ``value_col`` and the sample's ``keep_cols``
    (e.g. the panel's group key) are dropped — callers only read
    those. ``reference=None`` (the single-frame callers, e.g.
    :func:`ks_drift`) derives the grid from the sample alone and
    returns ``None`` for the reference slot.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1: {bins}")
    sv = sample.select(
        *[F.col(c) for c in keep_cols], F.col(value_col).alias("__x")
    )
    rv = (
        reference.select(F.col(value_col).alias("__x"))
        if reference is not None
        else None
    )
    both = sv.select("__x") if rv is None else sv.select("__x").unionAll(rv)
    stats = (
        both
        .where(F.col("__x").isNotNull())
        .agg(
            F.min(F.col("__x").cast("double")).alias("__lo"),
            F.max(F.col("__x").cast("double")).alias("__hi"),
        )
        # the 1-row grid is consumed by TWO bucketed() crossJoins on
        # the two-sided paths; pin it so the union scan + aggregate
        # run once, not per consumer (the module's multi-consumer
        # localCheckpoint convention — ADVICE r9)
        .localCheckpoint(eager=False)
    )

    def bucketed(df: DataFrame, keep: tuple[str, ...]) -> DataFrame:
        x = F.col("__x").cast("double")
        width_pos = (
            F.floor((x - F.col("__lo")) / (F.col("__hi") - F.col("__lo"))
                    * F.lit(float(bins)))
            + F.lit(1)
        )
        b = (
            F.when(F.col("__x").isNull(), F.lit(None).cast("int"))
            .when(F.col("__hi") == F.col("__lo"), F.lit(1))
            .when(x >= F.col("__hi"), F.lit(bins))
            # clamp BOTH ends: (x-lo)/(hi-lo) can round to exactly 1.0
            # for x strictly below hi (wide ranges), so without the
            # least() a near-max value lands in bucket bins+1 —
            # breaking the documented [1, bins] bound (review r9 #1)
            .otherwise(
                F.least(
                    F.lit(bins), F.greatest(F.lit(1), width_pos)
                ).cast("int")
            )
        )
        return df.crossJoin(F.broadcast(stats)).select(
            *[F.col(c) for c in keep], b.cast("int").alias(value_col)
        )

    return (
        bucketed(sv, keep_cols),
        bucketed(rv, ()) if rv is not None else None,
    )


def ks_distance(
    sample: DataFrame,
    reference: DataFrame,
    value_col: str = "n_chars",
    bins: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between a sample's
    and a reference corpus's empirical distributions of ``value_col``
    — the curation bias audit: after a quota cap / mixture draw /
    dedup pass, did the kept set's length (or score) distribution
    drift from the corpus it came from? D = max_x |F_sample(x) −
    F_ref(x)|, evaluated exactly at every distinct observed value
    (the supremum over the reals is attained there).

    Distributed shape: each side folds to (value, count) with one
    map-side-combined aggregate — DISTINCT-VALUE-sized, the same
    histogram-fold contract as ``weighted_median`` / the skyline
    frontier; the full-outer merge, the cumulative window and the max
    all run on that histogram, never on corpus rows. The cumulative
    ECDF window is a single ordered pass over the histogram — bounded
    by the value domain (lengths, scores), not the corpus; for
    continuous high-cardinality domains, quantize ``value_col`` first
    (the standard binned-KS audit). NULL values are excluded (no
    place on the ECDF).

    Degenerate inputs (ADVICE r8): if either side is empty or
    all-NULL in ``value_col`` there is no ECDF to compare, so ``ks``
    is NULL (``try_divide`` keeps ANSI mode from raising
    DIVIDE_BY_ZERO) while ``n_sample`` / ``n_ref`` still report the
    true counts (0 for the empty side) — a quota/filter chain that
    empties the sample gets a well-defined audit row, not a crash.

    Output: one row — n_sample, n_ref, ks (6dp; NULL when either
    side is empty).

    ``bins=`` is the documented quantize-first caveat as a one-arg
    path: both sides are bucketed onto a common ``bins``-wide grid
    (:func:`_ks_quantize`) before the fold, so a continuous
    high-cardinality ``value_col`` still yields a ``bins``-bounded
    histogram and ordered pass (binned D, grid error <= 1/bins).
    """
    if bins is not None:
        sample, reference = _ks_quantize(sample, reference, value_col, bins)
    va = (
        sample.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count("*").alias("__ca"))
    )
    vb = (
        reference.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(F.count("*").alias("__cb"))
    )
    merged = (
        va.join(vb, "__v", "full_outer")
        .select(
            "__v",
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
        # feeds both the ECDF window and the totals aggregate; lazy
        # checkpoint so the two corpus scans + histogram folds run
        # once, not twice (same multi-consumer pin as the module's
        # other shared frames)
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        F.sum("__ca").over(w).alias("__cca"),
        F.sum("__cb").over(w).alias("__ccb"),
    )
    totals = merged.agg(
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("long").alias("n_sample"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("long").alias("n_ref"),
    )
    # global agg -> exactly one row even over an empty histogram, so
    # the degenerate case yields (counts, NULL ks) instead of raising
    # DIVIDE_BY_ZERO (ANSI) or dropping the row
    ks_row = cum.crossJoin(F.broadcast(totals)).agg(
        (
            F.round(
                F.max(
                    F.abs(
                        F.try_divide("__cca", F.col("n_sample"))
                        - F.try_divide("__ccb", F.col("n_ref"))
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("ks"),
    )
    return totals.crossJoin(F.broadcast(ks_row))


def ks_panel(
    sample: DataFrame,
    reference: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    bins: int | None = None,
) -> DataFrame:
    """Per-group two-sample KS panel: for EVERY group in ``sample``,
    the exact Kolmogorov–Smirnov distance between that group's
    ``value_col`` distribution and the whole ``reference`` corpus's —
    the grouped composition of :func:`ks_distance` (which shard /
    source / language drifted from the corpus yardstick?), the
    curation-dashboard twin of ``operators/retrieval.rbo_panel``.

    Distributed shape — and the reason the panel form SCALES BETTER
    than G separate ``ks_distance`` calls: the sample folds once to a
    (group, value, count) histogram and the reference once to a
    (value, count) histogram (both map-side-combined, distinct-value
    sized); the reference histogram and its 1-row total move by
    BROADCAST (value-domain-bounded — the same quantize-first caveat
    as ``ks_distance`` applies to continuous high-cardinality
    columns); and the ECDF cumulative windows are PARTITIONED BY
    GROUP — G parallel histogram-sized passes, no single-partition
    stage anywhere. Each group's evaluation grid is the union of its
    own values and the reference's (the supremum over the reals is
    attained there).

    NULL values and NULL groups are excluded. A group appears iff it
    has >= 1 non-NULL value, so n_sample >= 1 per row; an empty /
    all-NULL reference yields NULL ks with truthful counts
    (``try_divide`` — the :func:`ks_distance` degenerate contract).

    Output: one row per group — <group_col>, n_sample, n_ref,
    ks (6dp).

    ``bins=`` buckets BOTH sides onto one common grid spanning the
    union of every group's values and the reference
    (:func:`_ks_quantize` keeps only (group, bucket)), so the grid —
    and with it each group's ECDF pass — is ``bins``-bounded on any
    value domain; all groups stay comparable because they share the
    grid.
    """
    if bins is not None:
        sample, reference = _ks_quantize(
            sample, reference, value_col, bins, keep_cols=(group_col,)
        )
    g = F.col(group_col)
    v = F.col(value_col)
    hg = (
        sample.where(v.isNotNull() & g.isNotNull())
        .groupBy(g.alias("__g"), v.alias("__v"))
        .agg(F.count("*").alias("__ca"))
        # feeds the per-group totals, the value grid and the count
        # join; pin so the sample scan + fold run once
        .localCheckpoint(eager=False)
    )
    hr = (
        reference.where(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count("*").alias("__cb"))
        .localCheckpoint(eager=False)
    )
    groups = hg.groupBy("__g").agg(F.sum("__ca").alias("n_sample"))
    ref_total = hr.agg(
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("long").alias("n_ref")
    )
    # evaluation grid per group: own values ∪ reference values
    grid = (
        hg.select("__g", "__v")
        .union(groups.select("__g").crossJoin(F.broadcast(hr.select("__v"))))
        .distinct()
    )
    merged = (
        grid.join(hg, ["__g", "__v"], "left")
        .join(F.broadcast(hr), "__v", "left")
        .select(
            "__g",
            "__v",
            F.coalesce("__ca", F.lit(0)).alias("__ca"),
            F.coalesce("__cb", F.lit(0)).alias("__cb"),
        )
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = merged.select(
        "__g",
        F.sum("__ca").over(w).alias("__cca"),
        F.sum("__cb").over(w).alias("__ccb"),
    )
    ks = (
        cum.join(F.broadcast(groups), "__g")
        .crossJoin(F.broadcast(ref_total))
        .groupBy("__g", "n_sample", "n_ref")
        .agg(
            (
                F.round(
                    F.max(
                        F.abs(
                            F.try_divide("__cca", F.col("n_sample"))
                            - F.try_divide("__ccb", F.col("n_ref"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("ks"),
        )
    )
    return ks.select(
        F.col("__g").alias(group_col),
        F.col("n_sample").cast("long").alias("n_sample"),
        "n_ref",
        "ks",
    )


def content_drift(
    df: DataFrame,
    text_col: str = "text",
    period_col: str = "snapshot",
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Per-group CONTENT drift between consecutive snapshots: Jaccard
    between the DISTINCT word-n-gram sets a group (source / crawl
    shard / domain) contributes in snapshot t and in the NEXT one —
    the content twin of ``operators/urls.path_drift`` (ROADMAP r10
    candidate): path drift sees URL-space churn, this sees what the
    TEXT under those URLs did ("did the site actually republish, or
    just reshuffle its routes?"). One row per (group, consecutive
    snapshot pair); births/deaths emit jaccard-0 rows; NULL
    group/period rows are excluded.

    Distributed shape: the corpus folds ONCE to DISTINCT
    (group, period, md5(gram)) tuples — gram text reduces to a
    fixed-width digest BEFORE the exchange (md5, engine-independent,
    so the oracle re-derives identical keys; the module's
    text-never-shuffles contract), then the shared
    ``operators/drift.set_drift`` assembly runs: calendar-bounded
    broadcast pair frame, ONE equi intersection join, key-sized outer
    assembly. Documents shorter than ``n`` tokens contribute no grams
    and cannot pair — same exclusion as ``ngram_novelty``.

    Output: <group_col>, <period_col>, next_<period_col>, n_prev,
    n_next, n_common, jaccard (6dp).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    from .drift import set_drift

    g = F.col(group_col)
    p = F.col(period_col)
    keyed = (
        _with_shingles(
            df.where(g.isNotNull() & p.isNotNull()), text_col, n
        )
        .select(
            g.alias("__k"),
            p.alias("__p"),
            F.explode("__sh").alias("__gram"),
        )
        .select("__k", "__p", F.md5("__gram").alias("__i"))
        .distinct()
        # feeds the pair frame, sizes and both join sides (the
        # multi-consumer pin set_drift's contract expects)
        .localCheckpoint(eager=False)
    )
    return set_drift(keyed, key_out=group_col, period_out=period_col)


def dup_rate_drift(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    period_col: str = "snapshot",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group exact-duplicate-mass drift between consecutive
    snapshots: each group's ``dup_rate`` in snapshot t next to its
    rate in t+1 and the delta — the exact-dup leg of the temporal
    audit family (``path_drift`` watches URL churn, ``content_drift``
    watches n-gram churn, this watches whether a shard STARTED
    feeding copies — the classic crawler-loop / mirror-onboarding
    regression signal). NULL group/period rows are excluded.

    Distributed shape: one :func:`dup_rate_by_group` fold on the
    composite (group, period) key — two-phase distinct over md5
    digests, text never shuffles — then the ``rbo_drift``-style
    consecutive-pair frame (lead() over DISTINCT periods, calendar-
    bounded, broadcast) and ONE group-period-keyed join between the
    two sides. Unlike the set-drift family a group absent from one
    side has NO defined rate (not 0), so pairs emit only where the
    group has docs in BOTH snapshots — births/deaths belong to
    ``path_drift``/``content_drift``'s jaccard-0 rows, rate deltas
    don't fabricate them.

    Output: <group_col>, <period_col>, next_<period_col>, n_docs,
    next_n_docs, dup_rate, next_dup_rate, delta (6dp,
    next_dup_rate - dup_rate; both rates are already 6dp so the
    difference is exact).
    """
    from pyspark.sql import Window

    next_col = f"next_{period_col}"
    g = F.col(group_col)
    p = F.col(period_col)
    stats = dup_rate_by_group(
        df.where(g.isNotNull() & p.isNotNull()),
        group_col=[group_col, period_col],
        text_col=text_col,
        id_col=id_col,
    ).select(
        group_col, period_col, "n_docs", "dup_rate"
    ).localCheckpoint(eager=False)
    periods = stats.select(period_col).distinct()
    pairs = periods.select(
        period_col,
        F.lead(period_col).over(Window.orderBy(period_col)).alias(next_col),
    ).where(F.col(next_col).isNotNull())
    cur = stats.join(F.broadcast(pairs), period_col)
    nxt = stats.select(
        g,
        p.alias(next_col),
        F.col("n_docs").alias("next_n_docs"),
        F.col("dup_rate").alias("next_dup_rate"),
    )
    return (
        cur.join(nxt, [group_col, next_col])
        .select(
            group_col,
            period_col,
            next_col,
            "n_docs",
            "next_n_docs",
            "dup_rate",
            "next_dup_rate",
            (
                F.round(F.col("next_dup_rate") - F.col("dup_rate"), 6)
                + F.lit(0.0)
            ).alias("delta"),
        )
    )


def _paired_value_counts(
    df: DataFrame,
    value_col: str,
    group_col: str,
    period_col: str,
    pin: bool = True,
) -> DataFrame:
    """Shared temporal-histogram assembly (the ks_drift fold, extracted
    for its psi/js siblings — the round-9 shared-assembly rule): ONE
    (group, period, value) count fold (map-side combined, pinned for
    its multiple consumers), the calendar pair frame (lead over
    DISTINCT periods, broadcast), and the per-(group, pair) union
    value grid with both sides' counts zero-filled. NULL
    value/group/period rows excluded.

    Returns the merged frame with columns __g, __p, __np, __v, __ca,
    __cb — every downstream drift score (KS ECDF, PSI fold, JS fold)
    is a (group, pair)-keyed reduction over it.
    """
    g = F.col(group_col)
    p = F.col(period_col)
    v = F.col(value_col)
    hg = (
        df.where(g.isNotNull() & p.isNotNull() & v.isNotNull())
        .groupBy(g.alias("__g"), p.alias("__p"), v.alias("__v"))
        .agg(F.count("*").alias("__c"))
    )
    if pin:
        # lazy localCheckpoint, NOT an eager cache: measured r13 —
        # pinned(hg) (cache + count) re-reads the tiny histogram as a
        # 32-partition cached relation per consumer, and the stage
        # bloat cost MORE than it saved (psi_drift 1.25 -> 2.36 s,
        # drift_panel_join 4.17 -> 5.05 s lean minima); the lazy
        # checkpoint materializes inside the first consumer's job at
        # the fold's own (AQE-coalesced) partitioning.
        hg = hg.localCheckpoint(eager=False)
    periods = hg.select("__p").distinct()
    pairs = periods.select(
        "__p",
        F.lead("__p").over(Window.orderBy("__p")).alias("__np"),
    ).where(F.col("__np").isNotNull())
    # zero-filled union grid as ONE map-side-combined aggregate
    # (guide §2.4): each side contributes its count with the other
    # side's count as 0, and the (g, pair, v)-keyed sum rebuilds the
    # merged row. hg is unique per (__g, __p, __v), so each key sums
    # at most one nonzero per side — value-identical to the r12
    # union + distinct + two left joins, for 3 fewer exchanges and
    # 2 fewer joins.
    a = hg.join(F.broadcast(pairs), "__p").select(
        "__g", "__p", "__np", "__v",
        F.col("__c").alias("__ca"), F.lit(0).cast("long").alias("__cb"),
    )
    b = (
        hg.withColumnRenamed("__p", "__np")
        .join(F.broadcast(pairs), "__np")
        .select(
            "__g", "__p", "__np", "__v",
            F.lit(0).cast("long").alias("__ca"),
            F.col("__c").alias("__cb"),
        )
    )
    return (
        a.unionByName(b)
        .groupBy("__g", "__p", "__np", "__v")
        .agg(
            F.sum("__ca").alias("__ca"),
            F.sum("__cb").alias("__cb"),
        )
    )


def ks_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    period_col: str = "snapshot",
    bins: "int | None" = None,
    pin: bool = True,
) -> DataFrame:
    """Per-group DISTRIBUTIONAL drift between consecutive snapshots:
    the exact two-sample KS distance between each group's
    ``value_col`` distribution in snapshot t and in t+1 — the fourth
    leg of the temporal audit family (``path_drift`` = URL churn,
    ``content_drift`` = n-gram churn, ``dup_rate_drift`` = copy mass,
    this = shape of the length/score distribution: "did src3's docs
    suddenly get shorter between crawls?"). Like ``dup_rate_drift``,
    pairs emit only where the group has values in BOTH snapshots — a
    distribution is undefined for an absent side. NULL
    value/group/period rows are excluded.

    Distributed shape: ONE (group, period, value) histogram fold
    (map-side-combined, distinct-value sized — quantize first for
    continuous domains, or feed pre-bucketed values; the
    ``ks_distance`` caveat applies per cell), pinned for its four
    consumers; the ``rbo_drift`` calendar pair frame (lead over
    DISTINCT periods, broadcast); a per-(group, pair) union value
    grid; and ECDF cumulative windows PARTITIONED BY
    (group, period-pair) — parallel histogram-sized passes, no
    single-partition stage (the ``ks_panel`` property).

    Output: <group_col>, <period_col>, next_<period_col>, n_prev,
    n_next, ks (6dp).

    ``bins=`` buckets ``value_col`` onto one common equal-width grid
    derived from the WHOLE frame (one 1-row min/max broadcast,
    :func:`_ks_quantize` with no reference side) before the fold, so
    a continuous high-cardinality column still yields bins-bounded
    per-cell histograms — and every (group, pair) cell shares the
    grid, keeping scores comparable across the panel.

    ``pin=False`` skips the two lazy localCheckpoints (which truncate
    the visible plan lineage to a LogicalRDD) so plan-shape tests can
    assert on the full window/join structure; production callers keep
    the default (each pinned frame has multiple consumers).
    """
    if bins is not None:
        df, _ = _ks_quantize(
            df, None, value_col, bins, keep_cols=(group_col, period_col)
        )
    merged = _paired_value_counts(
        df, value_col, group_col, period_col, pin=pin
    )
    return _ks_from_paired(merged, group_col, period_col, pin=pin)


def _ks_from_paired(
    merged: DataFrame,
    group_col: str,
    period_col: str,
    pin: bool = True,
) -> DataFrame:
    """The KS reduction over a :func:`_paired_value_counts` frame —
    split out so compositions that read several drift scores off ONE
    shared histogram assembly (plans/llm.q_drift_panel_join) can feed
    a common pinned ``merged`` frame to this and
    :func:`_psi_from_paired` instead of re-running the corpus fold per
    leg."""
    next_col = f"next_{period_col}"
    w = (
        Window.partitionBy("__g", "__p", "__np")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # per-side totals ride the SAME window pass as the running ECDF
    # sums, as whole-partition frames (sum over the full (g, pair)
    # partition == the final cumulative value — exact integer
    # arithmetic, value-identical to the r12 max-of-cumsum): same
    # partition key, so zero extra exchanges, and the r12 totals
    # aggregate + totals join + the lazy cum checkpoint (whose two
    # consumers raced under AQE) all disappear (guide §2.4; the
    # ``pin`` parameter is retained for signature compatibility but
    # no longer needed — the reduction is single-pass).
    # no orderBy: an unordered spec's default frame is the whole
    # partition, which is exactly the total
    wt = Window.partitionBy("__g", "__p", "__np")
    cum = merged.select(
        "__g", "__p", "__np",
        F.sum("__ca").over(w).alias("__cca"),
        F.sum("__cb").over(w).alias("__ccb"),
        F.sum("__ca").over(wt).cast("long").alias("n_prev"),
        F.sum("__cb").over(wt).cast("long").alias("n_next"),
    )
    out = (
        cum.groupBy("__g", "__p", "__np", "n_prev", "n_next")
        .agg(
            (
                F.round(
                    F.max(
                        F.abs(
                            F.try_divide("__cca", F.col("n_prev"))
                            - F.try_divide("__ccb", F.col("n_next"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("ks"),
        )
        # both-sides-present contract (the dup_rate_drift convention)
        .where((F.col("n_prev") > 0) & (F.col("n_next") > 0))
    )
    return out.select(
        F.col("__g").alias(group_col),
        F.col("__p").alias(period_col),
        F.col("__np").alias(next_col),
        "n_prev", "n_next", "ks",
    )


def token_js_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Jensen–Shannon divergence between the group's unigram
    token distribution and the whole corpus's — the information-
    theoretic lexical-bias audit: a source whose word mix diverges
    from the corpus (template spam, wrong-language contamination, a
    scraper stuck on one page type) surfaces with a high JS score
    even when its length/quality stats look normal. JS rather than KL
    because it is symmetric, bounded ([0, ln 2] in nats), and defined
    when the group misses corpus words — exactly the comparison shape
    mixture reweighting needs (cf. the DoReMi/DSIR domain-weighting
    setups; operators/selection.py holds the importance-weighting
    twin).

    Exact-support algebra (the reason this never materializes
    group x vocab): JS(p, q) = 0.5·Σ p·ln(p/m) + 0.5·Σ q·ln(q/m) with
    m = (p+q)/2. Every token ABSENT from the group has p = 0 and
    contributes exactly 0.5·q·ln 2, so the full second sum collapses
    to 0.5·[Σ_{t∈G} q_t·ln(q_t/m_t) + ln 2·(1 − Σ_{t∈G} q_t)] — only
    GROUP-support rows are ever evaluated; the absent-mass correction
    is one subtraction from the group's corpus-coverage. The Σ of ln
    terms is an IEEE sum — ~ulp order-variation absorbed by the 6dp
    round (the embedding_covariance determinism class, swept
    per-round).

    Distributed shape: one corpus scan folds to (group, token) counts
    (map-side combined, pinned — it feeds the term rows, the global
    token histogram AND the group totals); the global histogram is a
    vocab-sized re-fold of that frame, NOT a second scan, and joins
    back BY TOKEN KEY; group totals join by group; the single 1-row
    corpus total moves by broadcast crossJoin. Nothing group x vocab,
    nothing corpus-sized after the first fold.

    Output: one row per non-NULL group with >= 1 token —
    <group_col>, n_tokens, vocab, coverage (6dp — the corpus
    probability mass the group's vocabulary covers), js (6dp, nats).

    No reference parity: serves the brief's LLM-pipeline layer; the
    distributional twin of ks_panel on the lexical axis.
    """
    tok = (
        df.where(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
        )
    )
    gt = (
        tok.groupBy("__g", "__t")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=False)
    )
    glob = gt.groupBy("__t").agg(F.sum("__c").alias("__ct"))
    gtot = gt.groupBy("__g").agg(
        F.sum("__c").alias("__ng"),
        F.count("*").alias("__vocab"),
    )
    tot = glob.agg(F.sum("__ct").alias("__nt"))
    p = F.col("__c") / F.col("__ng")
    q = F.col("__ct") / F.col("__nt")
    m = (p + q) / F.lit(2.0)
    term = p * F.log(p / m) + q * F.log(q / m)
    per_group = (
        gt.join(glob, "__t")
        .join(gtot, "__g")
        .crossJoin(F.broadcast(tot))
        .groupBy("__g")
        .agg(
            F.sum(term).alias("__s"),
            F.sum(q).alias("__qcov"),
            F.first("__ng").alias("__ngf"),
            F.first("__vocab").alias("__vf"),
        )
    )
    js = 0.5 * (
        F.col("__s")
        + F.log(F.lit(2.0)) * (F.lit(1.0) - F.col("__qcov"))
    )
    return per_group.select(
        F.col("__g").alias(group_col),
        F.col("__ngf").cast("long").alias("n_tokens"),
        F.col("__vf").cast("long").alias("vocab"),
        (F.round(F.col("__qcov"), 6) + F.lit(0.0)).alias("coverage"),
        (F.round(js, 6) + F.lit(0.0)).alias("js"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    period_col: str = "snapshot",
    bins: int = 32,
    pin: bool = True,
) -> DataFrame:
    """Per-group Population Stability Index between consecutive
    snapshots — the industry-standard drift score next to
    :func:`ks_drift`: PSI = Σ_bins (p_i − q_i)·ln(p_i / q_i) over a
    SHARED equal-width grid, weighting tail mass KS's supremum
    ignores (the conventional read: < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted). Same temporal contract as its siblings: pairs
    emit only where the group has values on BOTH sides, NULLs
    excluded.

    Definedness: raw PSI is infinite when a bin is empty on exactly
    one side, so every bin probability is additively smoothed —
    p_i = (c_i + 0.5) / (n + bins/2) (Laplace 1/2; the standard PSI
    epsilon-floor, made oracle-replicable: each TERM is plain double
    arithmetic from exact integer counts, bit-identical on any
    engine; the final Σ over bins is an IEEE sum whose ~ulp
    order-variation the 6dp round absorbs — the embedding_covariance
    determinism class, guarded per-round by the shuffle-order
    determinism sweep, NOT the lossless-integer-sum class
    drift_anomaly achieves on its already-6dp inputs). Bins empty on
    BOTH sides contribute exactly 0 under
    smoothing (p_i = q_i happens only at equal counts and equal
    totals — in general they contribute a totals-dependent constant,
    so the fold runs over the FULL 1..bins range per pair, not just
    observed bins; bins-bounded either way).

    Distributed shape: the :func:`_ks_quantize` whole-frame grid
    (1-row min/max broadcast) bounds the value domain; then the
    shared :func:`_paired_value_counts` assembly (one histogram
    fold, broadcast calendar pair frame, union grid) keeps only the
    observed bins; PSI is one (group, pair)-keyed fold over them
    plus the closed-form empty-bin mass ``(bins − n_present) ×
    term₀``, so nothing is densified to the full bin range. Output: <group_col>, <period_col>,
    next_<period_col>, n_prev, n_next, psi (6dp).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1: {bins}")
    q, _ = _ks_quantize(
        df, None, value_col, bins, keep_cols=(group_col, period_col)
    )
    merged = _paired_value_counts(
        q, value_col, group_col, period_col, pin=pin
    )
    return _psi_from_paired(merged, bins, group_col, period_col)


def _psi_from_paired(
    merged: DataFrame,
    bins: int,
    group_col: str,
    period_col: str,
) -> DataFrame:
    """The PSI reduction over a :func:`_paired_value_counts` frame of
    ALREADY-BUCKETED values (see :func:`_ks_from_paired` for why this
    is split out).

    Empty-bin mass in closed form (r13): a bin absent from ``merged``
    has counts (0, 0), so its smoothed term is the SAME
    totals-dependent constant for every such bin — instead of
    densifying to the full 1..bins grid (an explode + a grid join,
    r12's shape), the fold sums the present bins and adds
    ``(bins − n_present) × term₀`` once. The term values are
    bit-identical to the densified form; one multiplication replaces
    the repeated additions, which keeps the sum within the same ~ulp
    class as a summation reorder — the class the 6dp round already
    absorbs (the module's documented
    embedding_covariance determinism class, swept per-round and
    hash-certified against the unchanged densifying oracle at
    sf0.01/sf0.1). Totals ride a whole-partition window on the
    (g, pair) key, so the reduction is one exchange end to end."""
    wt = Window.partitionBy("__g", "__p", "__np")
    base = merged.select(
        "__g", "__p", "__np", "__ca", "__cb",
        F.sum("__ca").over(wt).cast("long").alias("n_prev"),
        F.sum("__cb").over(wt).cast("long").alias("n_next"),
    ).where((F.col("n_prev") > 0) & (F.col("n_next") > 0))
    half_bins = F.lit(bins / 2.0)
    pa = (F.col("__ca") + F.lit(0.5)) / (F.col("n_prev") + half_bins)
    pb = (F.col("__cb") + F.lit(0.5)) / (F.col("n_next") + half_bins)
    term = (pa - pb) * F.log(pa / pb)
    # the (0, 0)-count term, as a function of the grouped totals
    pa0 = F.lit(0.5) / (F.col("n_prev") + half_bins)
    pb0 = F.lit(0.5) / (F.col("n_next") + half_bins)
    term0 = (pa0 - pb0) * F.log(pa0 / pb0)
    next_col = f"next_{period_col}"
    return (
        base.groupBy("__g", "__p", "__np", "n_prev", "n_next")
        .agg(
            F.sum(term).alias("__s"),
            F.count("*").alias("__n_present"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__p").alias(period_col),
            F.col("__np").alias(next_col),
            "n_prev", "n_next",
            (
                F.round(
                    F.col("__s")
                    + (F.lit(int(bins)) - F.col("__n_present")) * term0,
                    6,
                )
                + F.lit(0.0)
            ).alias("psi"),
        )
    )


def js_drift(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    period_col: str = "snapshot",
    pin: bool = True,
) -> DataFrame:
    """Per-group lexical distribution drift between consecutive
    snapshots: Jensen–Shannon divergence between the group's unigram
    token distribution in snapshot t and in t+1 — the temporal leg of
    :func:`token_js_divergence` (which compares each source to the
    corpus; this compares each source to ITSELF a crawl later). JS
    over KL for the same reasons there: symmetric, bounded [0, ln 2],
    defined on non-overlapping vocabularies (a token absent from one
    side contributes exactly 0.5·q·ln 2 through the m = q/2 midpoint
    — no smoothing needed, unlike PSI). Pairs emit only where the
    group has tokens on BOTH sides; NULLs excluded.

    Distributed shape: tokens reduce to xxhash64 digests BEFORE the
    fold (the content_drift convention — grouping by digest yields
    the same count multiset as grouping by string, 64-bit collisions
    only perturb a term at ~1e-13 odds, and the oracle folds raw
    strings so the driver gate continuously certifies it); then the
    shared :func:`_paired_value_counts` assembly — the union support
    IS the evaluation grid, nothing group × global-vocab
    materializes; JS is one (group, pair)-keyed fold whose Σ of ln
    terms is an IEEE sum — ~ulp order-variation absorbed by the 6dp
    round (the embedding_covariance determinism class, swept
    per-round). Output:
    <group_col>, <period_col>, next_<period_col>, n_prev, n_next
    (token totals), js (6dp, nats).
    """
    tok = df.where(
        F.col(group_col).isNotNull() & F.col(period_col).isNotNull()
    ).select(
        F.col(group_col).alias("__jg"),
        F.col(period_col).alias("__jp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__jt"),
    ).select(
        F.col("__jg"), F.col("__jp"), F.xxhash64("__jt").alias("__jv")
    )
    merged = _paired_value_counts(tok, "__jv", "__jg", "__jp", pin=pin)
    # per-pair token totals ride a whole-partition window on the
    # (group, pair) key instead of a separate aggregate + join-back
    # (guide §2.4; exact integer sums, value-identical) — one
    # exchange for totals + attach + the JS fold's clustering
    wt = Window.partitionBy("__g", "__p", "__np")
    joined = merged.select(
        "__g", "__p", "__np", "__ca", "__cb",
        F.sum("__ca").over(wt).cast("long").alias("n_prev"),
        F.sum("__cb").over(wt).cast("long").alias("n_next"),
    ).where((F.col("n_prev") > 0) & (F.col("n_next") > 0))
    p = F.col("__ca") / F.col("n_prev")
    q = F.col("__cb") / F.col("n_next")
    m = (p + q) / F.lit(2.0)
    term = F.when(F.col("__ca") > 0, p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("__cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    next_col = f"next_{period_col}"
    return (
        joined.groupBy("__g", "__p", "__np", "n_prev", "n_next")
        .agg(
            (F.round(F.lit(0.5) * F.sum(term), 6) + F.lit(0.0)).alias(
                "js"
            )
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__p").alias(period_col),
            F.col("__np").alias(next_col),
            "n_prev", "n_next", "js",
        )
    )


def token_novelty(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    period_col: str = "snapshot",
) -> DataFrame:
    """Per-(group, snapshot) VOCABULARY novelty: the fraction of a
    source's distinct token set first seen in that snapshot — the
    lexical twin of ``operators/urls.path_novelty`` ("is this source
    still producing new vocabulary, or re-crawling the same
    language?"); novelty 1.0 on the group's first observed snapshot,
    decaying toward 0 as the vocabulary saturates.

    Distributed shape: the corpus folds ONCE to DISTINCT
    (group, period, token-digest) tuples — tokens reduce to xxhash64
    digests before the fold (the js_drift convention; the oracle
    folds raw strings) — then the shared
    ``operators/drift.set_novelty`` assembly: first-seen is a keyed
    min() (Window-free), per-snapshot counts join key-sized frames.
    Output: <group_col>, <period_col>, n_tokens, n_new, novelty (6dp).
    """
    from .drift import set_novelty

    keyed = (
        df.where(
            F.col(group_col).isNotNull() & F.col(period_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("__k"),
            F.col(period_col).alias("__p"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("__jt"),
        )
        .select("__k", "__p", F.xxhash64("__jt").alias("__i"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return set_novelty(
        keyed,
        key_out=group_col,
        period_out=period_col,
        count_cols=("n_tokens", "n_new"),
    )


def unigram_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram (Shannon) entropy — the compression-proxy
    quality signal: boilerplate, keyword-stuffed and template pages
    compress well (low entropy for their length) while natural prose
    sits near the language's ceiling; the classic cheap filter next to
    Gopher's repetition rules (:func:`repetition_stats`) when no LM is
    in reach (``operators/lm.py`` holds the heavier perplexity twin).

    Computed as H = ln(n) − (Σ_w c_w·ln c_w)/n (nats) over the IN-ROW
    word histogram, so the operator is a map-only projection with NO
    shuffle at any scale (the histogram never leaves the row). The
    Σ c·ln c fold runs over the SORTED token array with a run-length
    state (prev token, run, acc) — one O(n log n) array_sort + one
    linear aggregate per document — replacing the original
    array_distinct × filter form whose O(n_tokens × vocab) per-row
    cost was effectively quadratic on long low-redundancy documents
    (advisor r10; tests cover a 10⁵-token doc). norm_entropy =
    H / ln(vocab) rescales to [0, 1] against the doc's own uniform
    ceiling (NULL for single-word vocabularies, whose H is
    identically 0). Per-term double arithmetic is engine-exact; the
    per-doc Σ over c·ln c terms is an IEEE sum in sorted-run order vs
    the oracle's group order — ~ulp variation absorbed by the 6dp
    round (the embedding_covariance determinism class, swept
    per-round).

    Zero-token docs (empty/NULL text) drop out — entropy of an empty
    distribution is undefined — and so do NULL-id rows (a per-doc
    signal keyed by <id_col> is undefined without one; the oracle
    replicates both drops). Output: <id_col>, n_tokens, vocab,
    entropy (6dp), norm_entropy (6dp | NULL).
    """
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    run_term = lambda acc: F.when(  # noqa: E731 — Σ of the closing run
        acc["run"] > 0,
        acc["run"].cast("double") * F.log(acc["run"].cast("double")),
    ).otherwise(F.lit(0.0))
    s = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda acc, t: F.when(
            acc["prev"] == t,  # NULL prev (first token) falls through
            F.struct(
                t.alias("prev"),
                (acc["run"] + F.lit(1)).alias("run"),
                acc["acc"].alias("acc"),
            ),
        ).otherwise(
            F.struct(
                t.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                (acc["acc"] + run_term(acc)).alias("acc"),
            )
        ),
        lambda acc: acc["acc"] + run_term(acc),
    )
    h = F.log(n.cast("double")) - s / n.cast("double")
    vocab = F.size(F.array_distinct(toks))
    norm = F.when(
        vocab > 1,
        F.round(h / F.log(vocab.cast("double")), 6) + F.lit(0.0),
    )
    return (
        df.where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            n.alias("__n"),
            vocab.alias("__v"),
            (F.round(h, 6) + F.lit(0.0)).alias("entropy"),
            norm.alias("norm_entropy"),
        )
        .where(F.col("__n") > 0)
        .select(
            id_col,
            F.col("__n").cast("long").alias("n_tokens"),
            F.col("__v").cast("long").alias("vocab"),
            "entropy",
            "norm_entropy",
        )
    )


def conformal_outlier_bounds(
    df: DataFrame,
    score_col: str = "n_chars",
    group_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    calib_hi: str = "cc",
    pin: bool = True,
) -> DataFrame:
    """Group-wise SPLIT-CONFORMAL outlier gate (Vovk's conformal
    prediction in the Lei et al. 2018 split form — ROADMAP r11
    candidate): per group, a calibration sample sets an upper score
    bound with a finite-sample guarantee — a fresh exchangeable row
    exceeds it with probability <= ``alpha`` — and the held-out rows
    are gated against it. The distribution-free anomaly gate for
    curation scores (length, perplexity, quality): no normality
    assumption, exact rank arithmetic, so the whole surface is
    engine-replicable (unlike a z-score gate, bit-stable only via the
    drift_anomaly integer trick).

    Split: the :func:`stratified_split` convention — content-addressed
    md5 bucketing of the id, calibration = first-2-hex < ``calib_hi``
    (~80 %), test = the rest; same row lands the same side on any
    engine, partitioning, or rerun. Bound: the calibration score at
    1-based rank ceil((1 - alpha) * (n_cal + 1)) ascending — the
    split-conformal quantile with the +1 finite-sample correction;
    when that rank exceeds n_cal (tiny groups) the gate is infinite:
    bound NULL, nothing flagged. Flagged = test score STRICTLY above
    the bound. NULL score/group/id rows drop; groups emit if either
    side is non-empty (absent side reads n=0 / NULL).

    Scale (100 TB): the rank pass is ONE window row_number
    PARTITIONED BY group over calibration rows ordered by
    (score, id) — per-group parallel, never a single-partition sort;
    a group's calibration sample must fit a partition (the ks_panel
    per-cell caveat; domain-sized groups do). The bound frame is
    GROUP-sized and broadcasts into the test-side gate join, so
    corpus rows never shuffle for the gate; per-group counts are
    map-side-combined folds. The (group, n_cal, bound) frame feeds
    TWO consumers (the test-side gate and the final full-outer), so
    it is pinned lazily by default (the module's multi-consumer rule
    — unpinned, the calibration scan + rank window would run twice);
    ``pin=False`` keeps the full lineage visible for plan-shape
    tests. Output: <group_col>, n_cal, n_test, bound (double | NULL),
    n_flagged, flag_rate (6dp | NULL when n_test = 0).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__i"),
        F.col(score_col).cast("double").alias("__s"),
        (
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
            < calib_hi
        ).alias("__cal"),
    )
    cal = base.where("__cal")
    w = Window.partitionBy("__g").orderBy("__s", "__i")
    ranked = cal.select(
        "__g", "__s", F.row_number().over(w).alias("__r")
    )
    n_cal = cal.groupBy("__g").agg(F.count("*").alias("n_cal"))
    # rank of the conformal quantile; NULL bound when r > n_cal
    r = F.ceil(F.lit(1.0 - alpha) * (F.col("n_cal") + 1)).cast("int")
    bounds = (
        ranked.join(n_cal, "__g")
        .where(F.col("__r") == r)
        .select("__g", F.col("__s").alias("bound"))
    )
    cal_side = n_cal.join(bounds, "__g", "left")
    if pin:
        cal_side = cal_side.localCheckpoint(eager=False)
    test = base.where(~F.col("__cal"))
    test_side = test.join(F.broadcast(cal_side.select("__g", "bound")), "__g", "left").groupBy(
        "__g"
    ).agg(
        F.count("*").alias("n_test"),
        F.sum(
            F.coalesce(
                (F.col("__s") > F.col("bound")).cast("long"), F.lit(0)
            )
        ).alias("n_flagged"),
    )
    return (
        cal_side.join(test_side, "__g", "full_outer")
        .select(
            F.col("__g").alias(group_col),
            F.coalesce("n_cal", F.lit(0)).cast("long").alias("n_cal"),
            F.coalesce("n_test", F.lit(0)).cast("long").alias("n_test"),
            "bound",
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias(
                "n_flagged"
            ),
            (
                F.round(
                    F.try_divide("n_flagged", F.col("n_test")), 6
                )
                + F.lit(0.0)
            ).alias("flag_rate"),
        )
    )


def conformal_drift_gate(
    df: DataFrame,
    score_col: str = "n_chars",
    group_col: str = "source",
    period_col: str = "snapshot",
    alpha: float = 0.1,
) -> DataFrame:
    """Temporal CONFORMAL drift gate — the split-conformal fence of
    :func:`conformal_outlier_bounds` carried to the snapshot axis
    (ROADMAP r12 candidate, landed early): for each group and each
    consecutive snapshot pair (t, t+1), snapshot t's scores CALIBRATE
    an upper bound at exact rank ceil((1 − alpha)(n_cal + 1)) and
    snapshot t+1's rows are gated against it. Under exchangeability
    of the two crawls' scores, a t+1 row exceeds the bound with
    probability <= alpha — so a flag_rate far above alpha is a
    DISTRIBUTION-FREE drift alarm with finite-sample semantics, the
    fifth leg of the temporal audit family (KS reads the supremum,
    PSI the tail mass, JS the vocabulary; this reads exceedance of
    the previous crawl's envelope — and unlike those, its score is an
    exceedance PROBABILITY with a calibrated null level).

    Exact rank arithmetic end to end (the conformal_outlier_bounds
    contract): every column is engine-identical, no FP-rounding
    caveat. Pairs emit only where the group has scores on BOTH sides
    (the dup_rate_drift convention); tiny calibration sides where the
    rank exceeds n_cal read bound NULL / nothing flagged (infinite
    gate); NULL score/group/period rows drop.

    Distributed shape: calendar pair frame = lead() over DISTINCT
    periods, broadcast (the set_drift convention); the rank pass is
    ONE row_number window PARTITIONED BY (group, period) — per-cell
    parallel, never single-partition; the (group, pair, n_cal, bound)
    frame is key-sized and BROADCASTS into the test-side gate join,
    so corpus rows never shuffle for the gate; the flag fold is one
    map-side-combined keyed aggregate. Output: <group_col>,
    <period_col>, next_<period_col>, n_cal, n_test, bound
    (double | NULL), n_flagged, flag_rate (6dp).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(period_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(period_col).alias("__p"),
        F.col(score_col).cast("double").alias("__s"),
    )
    pairs = (
        base.select("__p")
        .distinct()
        .select(
            "__p", F.lead("__p").over(Window.orderBy("__p")).alias("__np")
        )
        .where(F.col("__np").isNotNull())
    )
    n_cal = base.groupBy("__g", "__p").agg(
        F.count("*").cast("long").alias("n_cal")
    )
    wr = Window.partitionBy("__g", "__p").orderBy("__s")
    ranked = base.select(
        "__g", "__p", "__s", F.row_number().over(wr).alias("__r")
    )
    r = F.ceil(F.lit(1.0 - alpha) * (F.col("n_cal") + 1)).cast("int")
    bounds = (
        ranked.join(n_cal, ["__g", "__p"])
        .where(F.col("__r") == r)
        .select("__g", "__p", F.col("__s").alias("bound"))
    )
    calp = (
        n_cal.join(bounds, ["__g", "__p"], "left")
        .join(F.broadcast(pairs), "__p")
    )
    t = base.select("__g", F.col("__p").alias("__np"), "__s")
    next_col = f"next_{period_col}"
    return (
        t.join(F.broadcast(calp), ["__g", "__np"])
        .groupBy("__g", "__p", "__np", "n_cal", "bound")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.coalesce(
                    (F.col("__s") > F.col("bound")).cast("long"),
                    F.lit(0),
                )
            ).alias("n_flagged"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__p").alias(period_col),
            F.col("__np").alias(next_col),
            "n_cal",
            "n_test",
            "bound",
            "n_flagged",
            (
                F.round(F.col("n_flagged") / F.col("n_test"), 6)
                + F.lit(0.0)
            ).alias("flag_rate"),
        )
    )
