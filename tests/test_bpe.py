"""Distributed BPE training (operators/bpe.py) vs a pure-Python
reference implementation (Sennrich et al. 2016 pseudocode)."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import Row

from dwds_livestream_spark.operators.bpe import bpe_train

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
]


def _ref_bpe(texts, n_merges):
    """Reference BPE on word frequencies; ties break lexicographically."""
    vocab = Counter()
    for t in texts:
        for w in t.lower().split():
            syms = list(w)
            syms[-1] = syms[-1] + "</w>"  # end-of-word sentinel
            vocab[tuple(syms)] += 1
    rules = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, n in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((a, b, cnt))
        new_vocab = Counter()
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += n
        vocab = new_vocab
    return rules


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(CORPUS)]
    )


def test_merge_sequence_matches_reference(docs):
    got = bpe_train(docs, n_merges=8)
    want = _ref_bpe(CORPUS, 8)
    assert got == want


def test_stops_when_no_pairs_left(spark):
    one = spark.createDataFrame([Row(doc_id=1, text="ab ab")])
    rules = bpe_train(one, n_merges=10)
    # 'a'+'b' is the only possible merge ('b' carries the END marker)
    assert len(rules) <= 2
