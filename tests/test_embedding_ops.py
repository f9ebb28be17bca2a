"""Embedding matrix ops: distributed covariance/PCA vs numpy ground
truth, and quantization round-trip sanity (the oracle hash-match in
the registry covers exact quantize parity)."""

from __future__ import annotations

import numpy as np
import pytest

from dwds_livestream_spark.operators.embedding_ops import (
    embedding_covariance,
    embedding_pca,
    quantize_embeddings,
)
from dwds_livestream_spark.plans.io import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def matrix(embeddings):
    rows = embeddings.orderBy("vec_id").collect()
    return (
        np.array([r.vec_id for r in rows]),
        np.stack([np.array(r.embedding, dtype=np.float64) for r in rows]),
    )


def test_covariance_matches_numpy(embeddings, matrix):
    _, m = matrix
    expected = np.cov(m, rowvar=False, bias=True)
    got = np.zeros_like(expected)
    for r in embedding_covariance(embeddings).collect():
        got[r.i, r.j] = r.cov
    assert np.allclose(got, expected, atol=1e-9)
    assert np.allclose(got, got.T, atol=1e-12)  # symmetric by construction


def test_pca_matches_numpy_full_pca(embeddings, matrix):
    ids, m = matrix
    k = 8
    centered = m - m.mean(axis=0)
    vals, vecs = np.linalg.eigh(np.cov(m, rowvar=False, bias=True))
    comps = vecs[:, ::-1][:, :k]
    for c in range(k):
        if comps[np.abs(comps[:, c]).argmax(), c] < 0:
            comps[:, c] = -comps[:, c]
    expected = {i: p for i, p in zip(ids, centered @ comps)}

    out = embedding_pca(embeddings, k=k, payload=["label"]).collect()
    assert len(out) == len(ids)
    for r in out:
        assert np.allclose(np.array(r.pc), expected[r.vec_id], atol=1e-6)

    # projection variance is ordered (top component first)
    pcs = np.stack([np.array(r.pc) for r in out])
    var = pcs.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))


def test_quantize_bounds_and_shape(embeddings):
    out = quantize_embeddings(embeddings).collect()
    assert len(out) == embeddings.count()
    dim = len(embeddings.first().embedding)
    flat = [q for r in out for q in r.qvec]
    assert all(len(r.qvec) == dim for r in out)
    assert min(flat) == 0 and max(flat) == 255  # full range hit


def test_quantize_plan_is_map_only_no_python(spark, embeddings):
    df = quantize_embeddings(embeddings)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    # corpus side: no hashpartitioning exchange (bounds agg is the only
    # exchange, SinglePartition over d-row partials)
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]


def test_covariance_single_pass_d2_shuffle(spark, embeddings):
    """One MapInPandas over the corpus, one hash shuffle of d^2-sized
    partials — the corpus itself must never shuffle."""
    df = embedding_covariance(embeddings)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # groupBy(i,j)
    assert "FlatMapGroupsInPandas" not in plan


def test_quantize_dequantize_error_bound(spark, embeddings, matrix):
    """Round-trip reconstruction error is bounded by half a bucket per
    dimension: |x − x̂| ≤ (mx_d − mn_d) / (2·255)."""
    from dwds_livestream_spark.operators.embedding_ops import (
        dequantize_embeddings,
        dimension_bounds,
    )

    ids, m = matrix
    bounds = dimension_bounds(embeddings)
    brows = sorted(bounds.collect(), key=lambda r: r.dim)
    half_bucket = np.array([(r.mx - r.mn) / (2 * 255) for r in brows])

    q = quantize_embeddings(embeddings)
    back = dequantize_embeddings(q, bounds)
    got = {r.vec_id: np.array(r.vec) for r in back.collect()}
    expected = {i: v for i, v in zip(ids, m)}
    for vid, x in expected.items():
        err = np.abs(got[vid] - x)
        assert (err <= half_bucket + 1e-9).all(), (
            f"vec {vid}: max err {err.max()}"
        )
