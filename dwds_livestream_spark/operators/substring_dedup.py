"""Exact duplicate-span detection: find maximal runs of >= L
consecutive tokens that occur more than once in the corpus — the
distributed analog of the suffix-array substring dedup of
"Deduplicating Training Data Makes Language Models Better"
(Lee et al. 2022, arXiv:2107.06499).

Beyond-reference operator (project brief: dedup family). Unlike the
doc-level near-dup family (MinHash/SimHash/Jaccard in operators/
dedup.py) this finds the duplicated REGIONS inside otherwise-unique
documents, which is what you actually cut before training.

Algorithm (no suffix array — a corpus-wide suffix array is the one
structure that does NOT distribute):
1. posexplode every L-token window -> (doc_id, pos, gram);
2. grams occurring >= min_count times anywhere are "duplicated"
   (one keyed aggregate on the gram);
3. re-join positions to duplicated grams, then per document merge the
   token INTERVALS [pos, pos+L) the duplicated windows cover into
   maximal disjoint spans (one lag window + running sum; since all
   intervals have equal length, intervals merge iff consecutive
   starts differ by <= L).

Every >= L-token duplicated substring has all its L-windows
duplicated, so each such substring lies inside exactly one output
span; the spans are the union of corpus-duplicated coverage — the
region you cut before training.

Scale design (100 TB):
- the gram KEY is an 8-byte ``xxhash64``, never the gram text — the
  wide shuffle moves (hash, doc, pos) triples only;
- step-2 aggregate gets map-side partial combine; its output (the
  duplicated-gram set) is usually corpus-small, and the re-join
  broadcasts it;
- step-3 is one window + one aggregate, both keyed by doc_id — a
  single co-partitioned lineage.
False positives from 64-bit hash collisions: P ~ n^2/2^64 windows —
negligible; the driver-facing oracle formulation uses the gram text
itself, so a collision would surface as a hash-mismatch there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from .spread import pinned


def duplicate_spans(
    documents: DataFrame,
    length: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
    min_docs: int | None = None,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Output: doc_id, span_start (0-based token offset), span_end
    (exclusive), span_tokens = span_end - span_start (>= ``length``).
    ``hash_grams=False`` keys grams by their text (collision-free; the
    oracle formulation) instead of xxhash64.

    ``min_docs`` switches to CROSS-DOCUMENT mode: a gram qualifies only
    when it occurs in >= ``min_docs`` DISTINCT documents (``min_count``
    is ignored), so a phrase repeated many times inside one boilerplate
    document no longer marks that document — only corpus-level template
    text does. The distinct-doc count is pre-folded to distinct
    (gram, doc) pairs BEFORE the count (the q21 lesson: no
    countDistinct/Expand over the exploded window set — the second
    aggregate sees at most one row per gram per document).
    """
    toks = tokens(F.col(text_col))
    key = (
        (lambda g: F.xxhash64(g)) if hash_grams else (lambda g: F.array_join(g, " "))
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__toks") - (length - 1), F.lit(0))
    )
    grams = F.transform(idx, lambda i: key(F.slice("__toks", i, length)))
    # the exploded gram frame feeds TWO consumers (the qualifying-gram
    # fold and the hits probe side); pin it MATERIALIZED so the corpus
    # tokenize + slice + hash explode runs once, not once per consumer
    # (operators/spread.pinned — the module multi-consumer rule). The
    # pinned frame is (doc_id, pos, gram-hash) longs — ~24 B per token,
    # the standard inverted-index artifact of a span-dedup pass; it is
    # deliberately NOT key-partitioned: the gram fold needs its
    # map-side partial aggregation BEFORE any gram-keyed exchange
    # (a boilerplate gram repeated millions of times would hot-spot a
    # pre-partitioned reducer — guide §2.5).
    win = pinned(
        documents.withColumn("__toks", toks)
        .where(F.size("__toks") >= length)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(grams).alias("pos", "gram"),
        )
    )
    if min_docs is not None:
        dups = (
            win.select("gram", "doc_id")
            .distinct()
            .groupBy("gram")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= min_docs)
            .select("gram")
        )
    else:
        dups = (
            win.groupBy("gram")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= min_count)
            .select("gram")
        )
    hits = win.join(F.broadcast(dups), "gram").select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    new_span = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > length),
        1,
    ).otherwise(0)
    spans = hits.withColumn(
        "span_id",
        F.sum(new_span).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + length).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )
