"""Distributed BPE tokenizer training (Sennrich et al. 2016): the full
iterative merge loop, not just the first pair count
(selection.bpe_pair_topk is the single-step preview).

Beyond-reference operator (project brief: training-data pipeline).
Scale design — the loop runs on the VOCABULARY, not the corpus:

1. ONE corpus scan builds the word-frequency table (groupBy word with
   map-side combine) — a 100 TB corpus collapses to a vocab of maybe
   10^6 rows, and the corpus text is never read again;
2. each of the N merge iterations is one pair-count aggregate over the
   vocab (pairs weighted by word frequency, vocab-sized shuffle) plus
   a map-only in-row merge (F.aggregate fold over the symbol array —
   codegen, no Python); only the 1-row argmax pair reaches the driver;
3. the symbol table is localCheckpoint'd each iteration, truncating
   the lineage that nested transforms would otherwise grow per merge.

Determinism: ties on pair count break lexicographically, so the merge
sequence is reproducible — asserted against a pure-Python reference
BPE in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

END = "</w>"  # end-of-word sentinel appended to the final symbol


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """word -> (symbols array<string>, n bigint): one corpus pass."""
    words = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("n"))
    chars = F.split(F.col("word"), "")
    sym = F.concat(
        F.slice(chars, 1, F.greatest(F.size(chars) - 1, F.lit(0))),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END))),
    )
    return vocab.select("word", sym.alias("syms"), "n")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = F.transform(
        F.slice(
            F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))
        ),
        lambda x, i: F.struct(
            x.alias("a"), F.element_at(F.col("syms"), i + 2).alias("b")
        ),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def _merge_pair(vocab: DataFrame, a: str, b: str) -> DataFrame:
    """In-row merge of every adjacent (a, b) into 'ab' — a left fold:
    if the accumulator ends with `a` and the element is `b`, replace
    the tail with the merged symbol, else append."""
    merged = F.lit(a + b)
    fold = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return vocab.select("word", fold.alias("syms"), "n")


def bpe_train(
    df: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules. Returns [(a, b, count),
    ...] in merge order (END sentinels stripped from display forms are
    NOT — callers see the raw symbols)."""
    vocab = _word_symbols(df, text_col).localCheckpoint()
    rules: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] <= 0:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        rules.append((a, b, cnt))
        vocab = _merge_pair(vocab, a, b).localCheckpoint()
    return rules
