"""Text-analysis functions for training-data pipelines (project brief;
beyond the reference surface — its only text ops are the scalar string
functions catalogued in SURVEY.md §2.8).

All pure columnar expressions (split / higher-order array functions /
regex) — zero Python on the hot path, fully codegen'd, scan-parallel at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small multilingual stopword lists for the n-gram/stopword language
# heuristic. Deliberately tiny: the heuristic's job is cheap bulk
# routing, not NLP-grade LID.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "du", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "de", "que"),
}

# BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
# a cheap standin for subword token counting.
BPE_ISH_PATTERN = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^\sA-Za-zÀ-ÿ0-9]"


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings removed.

    Formulated as whitespace-run normalization + literal-space split:
    identical output to ``filter(split(text, '\\s+'), len > 0)`` (runs
    collapse, leading/trailing whitespace trims, all-whitespace input
    gives []) but measured 8x faster — the literal split is a single
    scan and the higher-order filter (interpreted per element, outside
    codegen) disappears entirely."""
    # coalesce: NULL text must yield [] like empty text does —
    # size(null) is -1 under legacy semantics, which would surface as
    # n_tokens = -1 in every stats consumer
    norm = F.coalesce(
        F.trim(F.regexp_replace(text, r"\s+", " ")), F.lit("")
    )
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def token_stat_columns(text_col: str = "text") -> "dict[str, Column]":
    """Named column expressions behind :func:`token_stats` — exposed so
    multi-stage compositions (plans/llm.q_curation_pipeline) can fold
    several per-row stages into ONE projection over one corpus scan
    instead of re-scanning and re-joining per stage."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)))
    n_distinct = F.size(F.array_distinct(toks))
    total_len = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    return {
        "n_tokens": n_tok,
        "n_bpe_tokens": n_bpe,
        "n_distinct": n_distinct,
        "distinct_ratio": F.round(n_distinct / F.greatest(n_tok, F.lit(1)), 6),
        "mean_token_len": F.round(total_len / F.greatest(n_tok, F.lit(1)), 6),
    }


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens +
    distinct ratio + mean token length. All ratios are exact integer
    divisions rendered as rounded doubles (engine-independent)."""
    cols = token_stat_columns(text_col)
    return df.select(
        id_col, *[c.alias(name) for name, c in cols.items()]
    )


def quality_columns(text_col: str = "text") -> "dict[str, Column]":
    """Named column expressions behind :func:`quality_score` (see
    :func:`token_stat_columns` for why these are exposed)."""
    text = F.col(text_col)
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    distinct_ratio = F.round(
        F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 6
    )
    mean_len = F.round(
        F.length(F.regexp_replace(text, r"\s+", "")) / F.greatest(n_tok, F.lit(1)), 6
    )
    score = F.round(
        (
            F.when((n_tok >= 10) & (n_tok <= 100000), 0.25).otherwise(0.0)
            + F.when((mean_len >= 2) & (mean_len <= 12), 0.25).otherwise(0.0)
            + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
            + F.least(distinct_ratio, F.lit(0.25))
        ),
        6,
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": punct_ratio,
        "distinct_ratio": distinct_ratio,
        "mean_token_len": mean_len,
        "quality_score": score,
        # length bound is a hard gate (Gopher-style), score the rest
        "keep": (score >= 0.5) & (n_tok >= 10),
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality (Gopher-rule flavored): length bounds,
    punctuation/symbol density, repetition. Deterministic columnar
    arithmetic only. Output includes a 0-1 score and a keep flag."""
    cols = quality_columns(text_col)
    return df.select(
        id_col, *[c.alias(name) for name, c in cols.items()]
    )


def language_columns(text_col: str = "text") -> "dict[str, Column]":
    """Named column expressions behind :func:`language_id` (see
    :func:`token_stat_columns` for why these are exposed)."""
    toks = tokens(F.lower(F.col(text_col)))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    scores = {
        lang: F.round(
            F.size(
                F.filter(toks, lambda t: t.isin(*words))  # noqa: B023
            )
            / n_tok,
            6,
        )
        for lang, words in STOPWORDS.items()
    }
    # argmax with deterministic lexicographic tie-break on language code
    best = None
    for lang in sorted(STOPWORDS):
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        else:
            best = F.when(
                s > best.getField("score"),
                F.struct(s.alias("score"), F.lit(lang).alias("lang")),
            ).otherwise(best)
    pred = F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )
    out: dict[str, Column] = {
        f"score_{lang}": scores[lang] for lang in sorted(STOPWORDS)
    }
    out["pred_lang"] = pred
    return out


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language heuristic: per language, the fraction of
    tokens in that language's stopword list; argmax wins, 'und'
    (undetermined) when no list scores > 0."""
    cols = language_columns(text_col)
    return df.select(
        id_col, *[c.alias(name) for name, c in cols.items()]
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set — a cheap bag-of-words content identity usable
    as a clustering / dedup key."""
    toks = F.array_sort(F.array_distinct(tokens(F.col(text_col))))
    return df.select(
        id_col,
        F.md5(F.array_join(toks, " ")).alias("fingerprint"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every k-gram, then
    keep the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes (Schleimer et al., SIGMOD'03). Columnar:
    k-gram hashing and window minima via higher-order array functions;
    output exploded (id, fp) for inverted-index overlap joins.

    The k-gram hash is ``md5_32``: the first 8 hex chars of md5 as a
    string fp — engine-independent, so the result is reproducible
    outside Spark; lexicographic min over fixed-width lowercase hex
    equals numeric min, so the window minima are the winnowing ones.

    Each intermediate array is materialized as its own projection —
    inlining ``grams`` into the window-minimum lambda makes Spark
    re-evaluate the whole k-gram array per window element (O(n²·k) per
    document; measured 150x slower at sf0.1)."""
    out = (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn(
            "__grams",
            # guard both stages: sequence(1, 0) is DESCENDING in
            # Spark — docs shorter than k tokens (or with fewer than
            # `window` grams) must hit the empty branch, not crash
            # slice(.., 0, ..)
            F.when(
                F.size("__toks") - (k - 1) > 0,
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("__toks") - (k - 1)
                    ),
                    lambda i: F.substring(
                        F.md5(F.array_join(F.slice("__toks", i, k), " ")), 1, 8
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(
            "__wmins",
            F.when(
                F.size("__grams") - (window - 1) > 0,
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("__grams") - (window - 1)
                    ),
                    lambda i: F.array_min(F.slice("__grams", i, window)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return out.select(
        F.col(id_col), F.explode(F.array_distinct("__wmins")).alias("fp")
    )
