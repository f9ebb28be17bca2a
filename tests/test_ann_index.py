"""Persisted IVF index (operators/ann_index.py): build → query with
partition pruning; parity with the in-memory ivf_topk operator."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dwds_livestream_spark.operators.ann_index import (
    ivf_index_query,
    ivf_index_write,
)
from dwds_livestream_spark.operators.similarity import cosine_topk, ivf_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, emb, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ivf") / "idx")
    # default n_train/iters so the quantizer is IDENTICAL to the one
    # ivf_topk trains internally (parity test below relies on it)
    ivf_index_write(emb, p, n_centroids=8)
    return p


def test_index_layout(spark, index_path, emb):
    cent = spark.read.parquet(f"{index_path}/centroids")
    assert cent.count() == 8
    vecs = spark.read.parquet(f"{index_path}/vectors")
    assert vecs.count() == emb.count()
    assert set(vecs.columns) == {"vec_id", "embedding", "cell"}
    # every vector belongs to exactly one of the 8 cells
    cells = {r.cell for r in vecs.select("cell").distinct().collect()}
    assert cells <= set(range(8))


def test_query_matches_in_memory_ivf(spark, index_path, emb):
    """Same quantizer params + same scoring ⇒ the persisted index must
    answer identically to ivf_topk."""
    queries = emb.where(F.col("vec_id") < 5)
    got = ivf_index_query(spark, index_path, queries, k=5, nprobe=3)
    want = ivf_topk(
        emb, queries, k=5, n_centroids=8, nprobe=3
    )
    g = sorted(map(tuple, got.select(
        "query_id", "rank", "neighbor_id").collect()))
    w = sorted(map(tuple, want.select(
        "query_id", "rank", "neighbor_id").collect()))
    assert g == w


def test_query_prunes_partitions(spark, index_path, emb):
    queries = emb.where(F.col("vec_id") == 0)
    out = ivf_index_query(spark, index_path, queries, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scan must push the probed cells into PartitionFilters — the
    # unprobed cells' directories are never read
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    out.collect()


def test_query_recall_vs_exact(spark, index_path, emb):
    queries = emb.where(F.col("vec_id") < 10)
    approx = ivf_index_query(spark, index_path, queries, k=5, nprobe=4)
    exact = cosine_topk(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.5  # nprobe=4 of 8 cells
