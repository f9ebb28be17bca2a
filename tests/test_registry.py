"""Inventory integrity: every query either carries a DuckDB oracle or
is on the documented rows-only list (hash-seeded / approximate /
iterative operators) — no silent third state. Guards the registry as
it grows."""

from __future__ import annotations

from dwds_livestream_spark.plans.registry import ORACLE_SQL, QUERIES

ROWS_ONLY = {
    # similarity_lsh_topk left this list in round 5: exact-integer LSH
    # bits made the banded output deterministic and fully oracled.
    "similarity_ivf_topk",
    "misra_gries_topk",
    "approx_distinct",  # error gate: tests/test_packing_sketches.py
    "kmeans_clusters",
    "embedding_pca",  # numpy parity: tests/test_embedding_ops.py
    "ann_index_topk",  # ivf_topk identity + pruning: tests/test_ann_index.py
    "hll_rolling_distinct",  # ±5%-vs-exact gate: tests/test_hll.py
    "bpe_train_merges",  # python-reference parity: tests/test_bpe.py
}


def test_every_query_is_oracled_or_documented_rows_only():
    missing = set(QUERIES) - set(ORACLE_SQL) - ROWS_ONLY
    assert not missing, f"queries with no oracle and undocumented: {missing}"


def test_rows_only_list_is_tight():
    # a rows-only entry that HAS an oracle (or no query) is stale
    assert not ROWS_ONLY & set(ORACLE_SQL)
    assert ROWS_ONLY <= set(QUERIES)


def test_no_orphan_oracles():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_oracles_are_nonempty_sql():
    for name, sql in ORACLE_SQL.items():
        assert "SELECT" in sql.upper(), name


