"""Embedding-matrix operators: distributed covariance/PCA and int8
quantization — the linear-algebra prep steps of an embedding-heavy
training-data pipeline (whitening/dim-reduction before ANN, compressed
vector storage).

Scale shapes:

- Covariance/PCA: the d×d covariance is the classic one-pass
  partial-sum reduction — each partition folds its vectors into
  (count, Σx, ΣxxT) with one BLAS syrk-style accumulation inside an
  Arrow batch iterator, and only d²-sized partials cross the wire
  (mapInPandas + a d²-row aggregate; corpus size never shuffles). The
  eigendecomposition of the d×d result is driver-side numpy — d is
  model-embedding-sized (64..4096), not data-sized. Projection back
  onto the top-k components is a broadcast matmul, map-only.
- Quantization: per-dimension min/max is a posexplode + groupBy(dim)
  with map-side partial aggregation (d-row result), broadcast back as
  arrays; the quantize step is an in-row ``F.transform`` — whole-stage
  codegen, no Python, no shuffle.

No reference parity: the 956-line reference has no embedding surface;
these serve the project brief's LLM-pipeline layer (SURVEY.md §7
Phase 5) next to operators/similarity.py and clustering.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "embedding_covariance",
    "quantile_normalize",
    "centroid_drift",
    "embedding_pca",
    "dimension_bounds",
    "quantize_embeddings",
    "dequantize_embeddings",
]


def _as_matrix(pdf_iter, vec_col: str):
    for pdf in pdf_iter:
        if len(pdf):
            yield np.stack(pdf[vec_col].to_numpy()).astype(np.float64), pdf


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    sample: bool = False,
    include_moments: bool = False,
) -> DataFrame:
    """Population (or ``sample``) covariance of the embedding matrix as
    (i, j, cov) rows — one pass, d²-sized shuffle.

    Each partition folds its ENTIRE Arrow batch iterator into one
    (n, Σx, XᵀX) accumulator (BLAS syrk per batch) and emits exactly
    d² partial rows — shuffle volume is d²·#partitions, independent of
    row count or Arrow batch size. A single groupBy(i, j) sums the
    partials and finishes cov = Σxy/n − μ_i·μ_j. Numerically this is
    the textbook one-pass form — fine for unit-scale embeddings;
    mean-shift first if your vectors have huge offsets.

    ``include_moments=True`` keeps the raw (n, sx_i) columns so
    downstream consumers (PCA's centering mean) don't need another
    corpus pass.
    """

    def partials(it):
        import pandas as pd  # noqa: PLC0415

        n_rows, sx, xtx = 0, None, None
        for m, _ in _as_matrix(it, vec_col):
            n_rows += len(m)
            if sx is None:
                sx, xtx = m.sum(axis=0), m.T @ m
            else:
                sx += m.sum(axis=0)
                xtx += m.T @ m
        if sx is None:
            return  # empty partition: no partials
        d = len(sx)
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame(
            {
                "i": ii.ravel().astype(np.int32),
                "j": jj.ravel().astype(np.int32),
                "n": np.full(d * d, n_rows, dtype=np.int64),
                "sx_i": sx[ii.ravel()],
                "sx_j": sx[jj.ravel()],
                "sxy": xtx.ravel(),
            }
        )

    p = df.select(vec_col).mapInPandas(
        partials, "i int, j int, n long, sx_i double, sx_j double, sxy double"
    )
    agg = p.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sx_i").alias("sx_i"),
        F.sum("sx_j").alias("sx_j"),
        F.sum("sxy").alias("sxy"),
    )
    denom = F.col("n") - F.lit(1) if sample else F.col("n")
    mean_term = (F.col("sx_i") / F.col("n")) * (F.col("sx_j") / F.col("n"))
    cov = (F.col("sxy") - F.col("n") * mean_term) / denom
    cols = ["i", "j", cov.alias("cov")]
    if include_moments:
        cols += [F.col("n"), F.col("sx_i")]
    return agg.select(*cols)


def embedding_pca(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload: list[str] | None = None,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.

    Covariance via :func:`embedding_covariance` (one distributed
    pass, moments included — the centering mean falls out of the same
    pass instead of costing a second corpus scan), eigendecomposition
    driver-side on the d×d matrix (numpy ``eigh``; components
    sign-fixed so the largest-|loading| entry is positive —
    deterministic across BLAS builds), projection as a broadcast
    matmul in one Arrow batch pass. Output: id, payload columns,
    ``pc`` (array<double> length k, centered projection).
    """
    cov_rows = embedding_covariance(
        df, vec_col, include_moments=True
    ).collect()
    if not cov_rows:
        raise ValueError(
            "embedding_pca: input has no vectors (empty frame or all-null "
            f"'{vec_col}')"
        )
    d = max(r["i"] for r in cov_rows) + 1
    cov = np.zeros((d, d))
    mean = np.zeros(d)
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
        if r["j"] == 0:
            mean[r["i"]] = r["sx_i"] / r["n"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k]  # d×k, top-k by eigenvalue
    for c in range(comps.shape[1]):
        if comps[np.abs(comps[:, c]).argmax(), c] < 0:
            comps[:, c] = -comps[:, c]

    keep = [id_col, *(payload or [])]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keep).schema.fields
    )

    def project(it):
        for m, pdf in _as_matrix(it, vec_col):
            out = pdf[keep].copy()
            out["pc"] = list((m - mean) @ comps)
            yield out

    return df.select(*keep, vec_col).mapInPandas(
        project, f"{schema}, pc array<double>"
    )


def dimension_bounds(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (dim, mn, mx) over the corpus — posexplode +
    one map-side-combined groupBy; output is d rows."""
    ex = df.select(F.posexplode(vec_col).alias("dim", "x"))
    return ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Per-dimension affine int8-style quantization:
    q = floor((x − mn_d) / ((mx_d − mn_d) / (levels−1))), clamped to
    [0, levels−1]; constant dimensions quantize to 0.

    The d-row bounds fold into two broadcast arrays (sort_array over
    collect_list keeps dimension order deterministic) and the quantize
    itself is an in-row ``F.transform`` with index — whole-stage
    codegen, zero shuffle on the corpus side. Output: (id, qvec).
    """
    b = dimension_bounds(df, vec_col)
    bounds = b.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mn"))), lambda s: s.mn
        ).alias("__mns"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mx"))), lambda s: s.mx
        ).alias("__mxs"),
    )
    span = F.lit(levels - 1)

    def quant(x, i):
        mn = F.element_at(F.col("__mns"), i + 1).cast("double")
        mx = F.element_at(F.col("__mxs"), i + 1).cast("double")
        q = F.floor((x.cast("double") - mn) / ((mx - mn) / span))
        return (
            F.when(mx == mn, F.lit(0))
            .otherwise(F.least(span, F.greatest(F.lit(0), q)))
            .cast("int")
        )

    return (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.col(id_col),
            F.transform(F.col(vec_col), quant).alias("qvec"),
        )
    )


def dequantize_embeddings(
    qdf: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    q_col: str = "qvec",
    levels: int = 256,
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x̂ = mn_d + q·scale_d +
    scale_d/2 (bucket midpoint, so the worst-case reconstruction error
    is scale_d/2 = (mx_d − mn_d)/(2·(levels−1)) per dimension).
    ``bounds`` is the :func:`dimension_bounds` frame (store it next to
    the quantized vectors — it IS the codebook). Same shape as the
    quantize side: bounds fold to broadcast arrays, reconstruction is
    an in-row transform, zero corpus shuffle.
    """
    folded = bounds.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mn"))), lambda s: s.mn
        ).alias("__mns"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mx"))), lambda s: s.mx
        ).alias("__mxs"),
    )
    span = F.lit(levels - 1)

    def dq(q, i):
        mn = F.element_at(F.col("__mns"), i + 1).cast("double")
        mx = F.element_at(F.col("__mxs"), i + 1).cast("double")
        scale = (mx - mn) / span
        return F.when(mx == mn, mn).otherwise(
            mn + q.cast("double") * scale + scale / 2
        )

    return qdf.crossJoin(F.broadcast(folded)).select(
        F.col(id_col), F.transform(F.col(q_col), dq).alias("vec")
    )


def quantile_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int = 32,
    group_col: str | None = None,
) -> DataFrame:
    """Quantile normalization of the embedding matrix across dimensions
    (the classic microarray/feature-calibration transform, Bolstad et
    al. 2003): rank values WITHIN each dimension, average values
    ACROSS dimensions at each rank, and substitute — afterwards every
    dimension has the identical marginal distribution (the mean
    quantile function), removing per-dimension scale/offset drift
    before quantization or ANN indexing.

    Tie convention: ranks come from the total order (value, id) —
    row_number semantics, deterministic on any engine (the documented
    oracle-able choice; the rank-mean variant for ties averages
    IEEE-unstably). Returns (id, dim, qn) scalar rows.

    Scale (the reason this isn't one window per dimension): a
    PARTITION BY dim window sorts an entire dimension's column — n
    rows — in ONE task. Instead ranks are computed with the
    distributed_rank recipe (operators/ranking.py) generalized to
    grouped data: per-dim approx split points (one mergeable-sketch
    aggregate, d rows, broadcast), strict-``>`` bucketing so peer
    groups never straddle a boundary, per-(dim, bucket) counts (d·B
    rows) turned into offsets with a tiny window, and row_number only
    WITHIN (dim, bucket) — every sort is ~n/B rows, hash-partitioned.
    The rank-mean aggregate and the substitution join are both keyed
    by rank (uniform by construction). Each value crosses the wire a
    constant number of times; nothing corpus-sized is collected or
    broadcast.

    ``group_col`` (optional) runs the whole transform INDEPENDENTLY
    per group — per-label / per-source calibration, the batch-effect
    correction quantile normalization was invented for: ranks are
    taken within (group, dim), the rank-mean within (group, rn), so
    each group ends up with its own shared marginal and groups never
    mix. Same scale shape: the split-point frame grows to g·d rows
    (still broadcast-tiny), the rank-mean key to (group, rn) — every
    shuffle key stays uniform. Rows with a NULL group are EXCLUDED
    (explicitly, not as an equi-join accident): a null calibration
    key has no marginal to share.
    """
    keys = [group_col] if group_col else []
    if group_col:
        df = df.where(F.col(group_col).isNotNull())
    ex = df.select(
        F.col(id_col),
        *keys,
        F.posexplode(vec_col).alias("dim", "__xf"),
    ).select(
        id_col, *keys, "dim", F.col("__xf").cast("double").alias("__x")
    )
    gdim = [*keys, "dim"]

    b = max(int(n_buckets), 1)
    if b > 1:
        bounds = ex.groupBy(*gdim).agg(
            F.percentile_approx(
                "__x",
                F.array(*[F.lit(i / b) for i in range(1, b)]),
                F.lit(10_000),
            ).alias("__bs")
        )
        bucket = F.aggregate(
            F.col("__bs"),
            F.lit(0),
            lambda acc, s: acc + F.when(F.col("__x") > s, 1).otherwise(0),
        )
        exb = (
            ex.join(F.broadcast(bounds), gdim)
            .withColumn("__bucket", bucket)
            .drop("__bs")
            # feeds the per-(dim, bucket) counts AND the rank window;
            # its consumers are forced SEQUENTIAL by the broadcast
            # dependency chain (ranked joins broadcast(offsets), which
            # derives from counts), so a lazy checkpoint materializes
            # race-free during the counts fold and the rank window
            # reads the stored blocks — one posexplode + bucket pass
            # instead of two (r13, guide §1.2)
            .localCheckpoint(eager=False)
        )
    else:
        exb = ex.withColumn("__bucket", F.lit(0)).localCheckpoint(
            eager=False
        )

    counts = exb.groupBy(*gdim, "__bucket").agg(F.count("*").alias("__cnt"))
    off_w = (
        Window.partitionBy(*gdim)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *gdim,
        "__bucket",
        F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off"),
    )
    rn_w = Window.partitionBy(*gdim, "__bucket").orderBy("__x", id_col)
    ranked = (
        exb.join(F.broadcast(offsets), [*gdim, "__bucket"])
        .withColumn("rn", F.col("__off") + F.row_number().over(rn_w))
        .select(id_col, *keys, "dim", "__x", "rn")
        # feeds both the rank-mean aggregate and the substitution join;
        # lazy checkpoint so the bucketed rank runs once, not twice
        # (an eager pinned() cache was measured SLOWER here, r13:
        # group_quantile_normalize 2.03 -> 3.08 s lean minima — the
        # 1.3M-row columnar cache write + per-consumer 33-task cache
        # reads cost more than the occasional checkpoint race)
        .localCheckpoint(eager=False)
    )
    means = ranked.groupBy(*keys, "rn").agg(
        (F.sum("__x") / F.count("*")).alias("__mu")
    )
    return ranked.join(means, [*keys, "rn"]).select(
        id_col, *keys, "dim", F.col("__mu").alias("qn")
    )


def centroid_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    period_col: str = "snapshot",
) -> DataFrame:
    """Embedding-space drift between consecutive snapshots: for every
    group (source, label, cluster), the cosine similarity and L2 shift
    between its centroid in period t and period t+1 — the
    representation-level leg of the temporal audit family. A crawl
    whose URL/content sets look stable can still drift SEMANTICALLY
    (topic mix shifts inside the same pages); conversely an embedding
    refresh can silently re-center a source. This is the audit that
    catches both before a mixture re-weight trains on it.

    Distributed shape: the corpus folds ONCE to per-(group, period,
    dim) centroid components — posexplode multiplies rows by d, but
    the avg partial-aggregates map-side, so the shuffle carries
    groups x periods x d rows of (sum, count), never corpus rows (the
    ``embedding_centroids`` contract). The consecutive-pair frame is
    a lead() over DISTINCT periods (calendar-sized, broadcast — the
    set_drift convention) and the drift reduction is one equi join of
    the two centroid frames on (group, dim) + a (group, pair)-keyed
    fold to dot / norms / squared-distance. Everything after the fold
    is (groups x d)-sized.

    Pairs emit only where the group has vectors on BOTH sides
    (a centroid is undefined for an absent side — births/deaths
    belong to the set-drift family, the dup_rate_drift convention).
    NULL group/period/vector rows are excluded. A zero-norm centroid
    on either side yields cos_sim NULL (undefined angle), never a
    division error. Output: <group_col>, <period_col>,
    next_<period_col>, n_prev, n_next (vector counts), cos_sim (6dp),
    l2_shift (6dp).

    No reference parity: the reference has no embedding surface; this
    serves the brief's LLM-pipeline layer (the per-source
    embedding-drift capability VERDICT r9 #4 queued).
    """
    next_col = f"next_{period_col}"
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(period_col).isNotNull()
        & F.col(vec_col).isNotNull()
    )
    ex = base.select(
        F.col(group_col).alias("__k"),
        F.col(period_col).alias("__p"),
        F.posexplode(vec_col).alias("__d", "__xf"),
    ).select("__k", "__p", "__d", F.col("__xf").cast("double").alias("__x"))
    # per-(group, period, dim) centroid component; feeds both sides of
    # the pair join — pinned so the corpus fold runs once
    cent = (
        ex.groupBy("__k", "__p", "__d")
        .agg(F.avg("__x").alias("__c"))
        .localCheckpoint(eager=False)
    )
    periods = cent.select("__p").distinct()
    pairs = periods.select(
        "__p",
        F.lead("__p").over(Window.orderBy("__p")).alias("__np"),
    ).where(F.col("__np").isNotNull())
    cur = cent.join(F.broadcast(pairs), "__p")
    nxt = cent.select(
        "__k", F.col("__p").alias("__np"), "__d", F.col("__c").alias("__cn")
    )
    m = (
        cur.join(nxt, ["__k", "__np", "__d"])
        .groupBy("__k", "__p", "__np")
        .agg(
            F.sum(F.col("__c") * F.col("__cn")).alias("__dot"),
            F.sum(F.col("__c") * F.col("__c")).alias("__na2"),
            F.sum(F.col("__cn") * F.col("__cn")).alias("__nb2"),
            F.sum(
                (F.col("__c") - F.col("__cn"))
                * (F.col("__c") - F.col("__cn"))
            ).alias("__d2"),
        )
    )
    counts = base.groupBy(
        F.col(group_col).alias("__k"), F.col(period_col).alias("__p")
    ).agg(F.count("*").alias("__n"))
    ca = counts.select("__k", "__p", F.col("__n").alias("n_prev"))
    cb = counts.select(
        "__k", F.col("__p").alias("__np"), F.col("__n").alias("n_next")
    )
    denom = F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2"))
    cos = F.when(
        denom > F.lit(0.0),
        F.round(F.col("__dot") / denom, 6) + F.lit(0.0),
    )
    return (
        m.join(ca, ["__k", "__p"])
        .join(cb, ["__k", "__np"])
        .select(
            F.col("__k").alias(group_col),
            F.col("__p").alias(period_col),
            F.col("__np").alias(next_col),
            F.col("n_prev").cast("long").alias("n_prev"),
            F.col("n_next").cast("long").alias("n_next"),
            cos.alias("cos_sim"),
            (F.round(F.sqrt(F.col("__d2")), 6) + F.lit(0.0)).alias(
                "l2_shift"
            ),
        )
    )
