"""Similarity search over embedding columns (project brief; beyond the
reference surface).

- cosine_topk: exact brute-force top-k — the correctness baseline. The
  query set is broadcast; the corpus never shuffles. Ranking uses the
  6dp-rounded score (+ id tie-break) so results are engine- and
  partitioning-independent.
- lsh_topk: random-hyperplane (sign-pattern) LSH bucketing — the scale
  path. Vectors meeting in a hash bucket are scored exactly; recall is
  tuned by (n_planes, n_tables). Shuffle is O(n·tables) instead of
  O(n·queries).
- embedding_near_dup_pairs: all-pairs cosine >= threshold, exact
  (oracle baseline) or via the same LSH candidates.

Numeric kernels (pair cosine, bucket keys) are Arrow-vectorized pandas
UDFs — per-batch numpy matrix math. Measured at sf0.1: ~30x over
interpreted higher-order-function lambdas for the 2M-pair exact sweep;
this is exactly the "vectorized Pandas UDF" slot the per-element HOF
path cannot fill. Everything around them (joins, windows, filters)
stays JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType


# DataType objects, not DDL strings: DDL parsing at decoration time needs an
# active SparkSession, which doesn't exist at module import.
@pandas_udf(DoubleType())
def _pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine of two array<double> columns, rounded to 6dp
    (rounding makes ranking/threshold semantics engine-independent)."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    dots = np.einsum("ij,ij->i", ma, mb)
    na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
    nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
    return pd.Series(np.round(dots / (na * nb), 6))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


# ------------------------------------------------------------------ GEMM
# Exact scoring kernel: pack vectors into chunk rows (ids + matrix),
# cross-join chunk pairs, one numpy matmul per pair. Moving O((n/B)^2)
# chunk rows instead of O(n^2) pair rows cuts Arrow traffic by ~B and
# replaces 2M scalar kernel calls with a handful of BLAS calls —
# measured 30x on the sf0.1 all-pairs sweep. Distributed end-to-end:
# no driver collect, chunks never exceed B rows, and the chunk-pair
# cross join is a plain shuffle-free broadcast when one side is small.

_CHUNK_SCHEMA = "key long, ids array<long>, vecs array<array<double>>"


def _chunked(
    df: DataFrame, id_col: str, vec_col: str, rows_per_chunk: int = 1024
) -> DataFrame:
    """(id, vec) rows -> (key, ids, vecs) chunk rows of <= B vectors;
    key = min id in the chunk (unique, used to halve the pair space)."""
    src = df.select(
        F.col(id_col).cast("long").alias("id"), _as_double(vec_col).alias("vec")
    )

    def pack(it):
        for pdf in it:
            for s in range(0, len(pdf), rows_per_chunk):
                part = pdf.iloc[s : s + rows_per_chunk]
                yield pd.DataFrame(
                    {
                        "key": [int(part["id"].min())],
                        "ids": [part["id"].to_numpy()],
                        "vecs": [list(part["vec"].to_numpy())],
                    }
                )

    return src.mapInPandas(pack, _CHUNK_SCHEMA)


def _unpack(r_ids, r_vecs) -> tuple[np.ndarray, np.ndarray]:
    ids = np.asarray(r_ids, dtype=np.int64)
    m = np.stack([np.asarray(v, dtype=np.float64) for v in r_vecs])
    return ids, m


def _cosine_matrix(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    na = np.linalg.norm(ma, axis=1)
    nb = np.linalg.norm(mb, axis=1)
    return np.round((ma @ mb.T) / np.outer(na, nb), 6)


def _mix64(table: int, p: int, d: int) -> int:
    """splitmix64-style finalizer over a (table, plane, dim) counter —
    the single deterministic stream behind BOTH hyperplane variants
    (float for the scale path, 16-bit int for the oracle-exact path)
    and the generated DuckDB oracle SQL in plans/llm.py."""
    mask = (1 << 64) - 1
    z = ((table * 1_000_003 + p * 8191 + d) * 0x9E3779B97F4A7C15) & mask
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
    return z ^ (z >> 31)


def _hyperplanes(dim: int, n_planes: int, table: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (splitmix64-style mix
    mapped to [-1, 1]) — no RNG state, reproducible across runs/engines."""
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            out[p, d] = (_mix64(table, p, d) / float(1 << 63)) - 1.0
    return out


def lsh_plane_int_constants(
    dim: int, n_planes: int, n_tables: int
) -> list[list[list[int]]]:
    """16-bit integer hyperplane weights ((mix >> 48) - 2^15, i.e. the
    top 16 bits of the same splitmix64 stream _hyperplanes draws from,
    recentred to [-32768, 32767]). Used by the oracle-exact LSH bit
    path: with embeddings quantized to round(v * 1e6) the projection
    sum fits int64 (|w| < 2^15, |vq| <= ~1e8, dim 64 -> < 2^62), so the
    sign — hence the bucket key — is EXACT integer arithmetic, order-
    free and engine-independent. The generated DuckDB oracle inlines
    these same constants (plans/llm.py _oracle_similarity_lsh_topk).
    Returns [table][plane][dim] ints."""
    return [
        [
            [(_mix64(t, p, d) >> 48) - 32768 for d in range(dim)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _make_lsh_keys_udf(
    dim: int, n_planes: int, n_tables: int, exact_bits: bool = False
):
    """Bucket-key kernel. exact_bits=False (scale default): float
    hyperplanes, one GEMM per batch. exact_bits=True (oracle-parity
    variant): integer 16-bit weights against round(v*1e6)-quantized
    vectors — every op (the *1e6 multiply, +0.5, floor, int64 matmul)
    is a single IEEE/integer operation with no reduction-order freedom,
    so the resulting keys are bit-identical across engines and
    partitionings (the seasonal_decompose lesson: never let a sign/
    round decision ride on a float SUM that crosses engines)."""
    if exact_bits:
        planes = np.array(
            lsh_plane_int_constants(dim, n_planes, n_tables), dtype=np.int64
        ).reshape(n_tables * n_planes, dim)
    else:
        planes = np.concatenate(
            [_hyperplanes(dim, n_planes, t) for t in range(n_tables)], axis=0
        )  # (tables*planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def lsh_keys(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        m = np.stack(vec.to_numpy())  # (batch, dim) float64
        if exact_bits:
            m = np.floor(m * 1e6 + 0.5).astype(np.int64)
        proj = m @ planes.T  # (batch, tables*planes)
        bits = (proj >= 0).astype(np.int64).reshape(len(vec), n_tables, n_planes)
        keys = bits @ weights  # (batch, tables)
        return pd.Series(list(keys))

    return lsh_keys


def _with_buckets(
    df: DataFrame,
    id_out: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    exact_bits: bool = False,
) -> DataFrame:
    """(id, vec) -> exploded (id, table, bucket) bucket keys."""
    keys_udf = _make_lsh_keys_udf(dim, n_planes, n_tables, exact_bits)
    return df.select(
        F.col(id_col).alias(id_out),
        F.posexplode(keys_udf(_as_double(vec_col))).alias("table", "bucket"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: query_id, rank, neighbor_id, cosine. Excludes self-matches.
    At scale: queries broadcast (must fit in executor memory), corpus
    scanned once; the final window's per-partition top-k keeps the
    shuffle at O(queries·k)."""
    qc = _chunked(queries, id_col, vec_col, rows_per_chunk=1 << 16).coalesce(1)
    cc = _chunked(corpus, id_col, vec_col)
    pairs = cc.crossJoin(
        F.broadcast(
            qc.select(
                F.col("ids").alias("q_ids"), F.col("vecs").alias("q_vecs")
            )
        )
    )

    def gemm_topk(it):
        for pdf in it:
            for r in pdf.itertuples(index=False):
                c_ids, c_m = _unpack(r.ids, r.vecs)
                q_ids, q_m = _unpack(r.q_ids, r.q_vecs)
                cos = _cosine_matrix(q_m, c_m)  # (nq, nc)
                cos[q_ids[:, None] == c_ids[None, :]] = -np.inf  # no self
                # per-chunk candidate cut: only each query's local top-k
                # survives, so the global window sees chunks*k rows/query
                take = min(k, cos.shape[1])
                idx = np.argpartition(-cos, take - 1, axis=1)[:, :take]
                qq = np.repeat(q_ids, take)
                nn = c_ids[idx.ravel()]
                cc_ = np.take_along_axis(cos, idx, axis=1).ravel()
                keep = cc_ != -np.inf
                yield pd.DataFrame(
                    {"query_id": qq[keep], "neighbor_id": nn[keep],
                     "cosine": cc_[keep]}
                )

    scored = pairs.mapInPandas(
        gemm_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 4,
    exact_bits: bool = False,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with
    the query (any table) are scored. Same output shape as cosine_topk;
    recall < 1 by construction — tests measure it against the exact op.

    exact_bits=True switches the bucket-bit decision to exact integer
    arithmetic (16-bit weights from the same splitmix64 stream, vectors
    quantized to round(v*1e6)); the candidate set — hence the OUTPUT —
    is then a deterministic integer function replicable by the DuckDB
    oracle (plans/llm.py). The float path stays the scale default."""
    # bucket KEYS only through the join and the candidate dedup
    # shuffle (3 longs/row); vectors re-attach afterwards — queries by
    # broadcast, corpus by one keyed join
    qk = _with_buckets(
        queries, "query_id", id_col, vec_col, dim, n_planes, n_tables,
        exact_bits=exact_bits,
    )
    ck = _with_buckets(
        corpus, "neighbor_id", id_col, vec_col, dim, n_planes, n_tables,
        exact_bits=exact_bits,
    )
    cand = (
        ck.join(F.broadcast(qk), ["table", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("query_id_vec"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("neighbor_id_vec"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine("query_id_vec", "neighbor_id_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _train_coarse_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    n_train: int = 4096,
    iters: int = 10,
) -> np.ndarray:
    """Deterministic Lloyd k-means on a bounded sample (the coarse
    quantizer of an IVF index). Driver-side by design: the training
    sample is O(n_train·dim) regardless of corpus size — at 100 TB you
    still train on thousands of vectors, then broadcast centroids."""
    sample = (
        df.orderBy(id_col)  # deterministic sample: first n_train by id
        .limit(n_train)
        .select(_as_double(vec_col).alias("v"))
        .collect()
    )
    m = np.stack([np.asarray(r.v, dtype=np.float64) for r in sample])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cent = m[:n_centroids].copy()  # deterministic init: first k vectors
    for _ in range(iters):
        assign = np.argmax(m @ cent.T, axis=1)  # cosine on unit vectors
        for c in range(n_centroids):
            members = m[assign == c]
            if len(members):
                mu = members.mean(axis=0)
                cent[c] = mu / (np.linalg.norm(mu) or 1.0)
    return cent


def _assign_centroids_udf(centroids: np.ndarray, nprobe: int = 1):
    @pandas_udf(ArrayType(LongType()))
    def nearest(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        scores = m @ centroids.T
        take = min(nprobe, centroids.shape[0])
        # kind="stable": exact score ties resolve to the lower cell id
        # deterministically (default introsort guarantees no tie order),
        # so cell probing is reproducible and matches a
        # score-DESC-then-cell-ASC ordering in any other engine
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :take].astype(
            np.int64
        )
        return pd.Series(list(idx))

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second ANN scale path
    next to lsh_topk. A coarse quantizer (deterministic k-means)
    partitions the corpus into centroid cells; each query exactly
    scores only the cells its ``nprobe`` nearest centroids own.

    Scale: the corpus is scored cell-at-a-time via an equi join on
    centroid_id (shuffle O(corpus + queries·nprobe)); in a persisted
    deployment the corpus would be bucketed/partitioned BY centroid_id
    so probes prune at the scan. recall grows with nprobe
    (nprobe == n_centroids is exact search). Output shape matches
    cosine_topk; rows-only vs the oracle (approximate by construction),
    recall asserted in tests.
    """
    centroids = _train_coarse_quantizer(corpus, id_col, vec_col, n_centroids)
    c_assign = _assign_centroids_udf(centroids, nprobe=1)
    q_assign = _assign_centroids_udf(centroids, nprobe=nprobe)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("c_vec")
    ).withColumn("centroid_id", F.element_at(c_assign("c_vec"), 1))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    ).withColumn("centroid_id", F.explode(q_assign("q_vec")))

    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine("q_vec", "c_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 6,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``exact=True`` scores all pairs (O(n²) — correctness-oracle path);
    otherwise LSH candidates only. Output: id_a, id_b, cosine.
    """
    if exact:
        chunks = _chunked(df, id_col, vec_col)
        a = chunks.select(
            F.col("key").alias("ka"),
            F.col("ids").alias("ids_a"),
            F.col("vecs").alias("va"),
        )
        b = chunks.select(
            F.col("key").alias("kb"),
            F.col("ids").alias("ids_b"),
            F.col("vecs").alias("vb"),
        )
        # key <= key halves the chunk-pair space. Within a chunk the
        # id_a < id_b mask dedups; ACROSS chunks every element pair
        # must be kept and normalized to (min, max) — chunk keys carry
        # no id-order guarantee (chunking follows partition order), so
        # masking by raw id there silently dropped every qualifying
        # pair whose lower-keyed chunk held the larger id
        cpairs = a.crossJoin(b).where(F.col("ka") <= F.col("kb"))

        def gemm_pairs(it):
            for pdf in it:
                for r in pdf.itertuples(index=False):
                    ia, ma = _unpack(r.ids_a, r.va)
                    ib, mb = _unpack(r.ids_b, r.vb)
                    cos = _cosine_matrix(ma, mb)
                    if r.ka == r.kb:
                        mask = (cos >= threshold) & (
                            ia[:, None] < ib[None, :]
                        )
                    else:
                        mask = (cos >= threshold) & (
                            ia[:, None] != ib[None, :]
                        )
                    xs, ys = np.nonzero(mask)
                    lo = np.minimum(ia[xs], ib[ys])
                    hi = np.maximum(ia[xs], ib[ys])
                    yield pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "cosine": cos[xs, ys]}
                    )

        return cpairs.mapInPandas(
            gemm_pairs, "id_a long, id_b long, cosine double"
        )
    else:
        # hash ONCE, materialize only (id, table, bucket) — 3 longs per
        # row; the bucket self-join never shuffles vectors. Vectors are
        # re-attached to the deduped candidate pairs afterwards (the
        # same keys-then-reattach shape as minhash_lsh_pairs).
        keys = _with_buckets(
            df, "id", id_col, vec_col, dim, n_planes, n_tables
        ).localCheckpoint()
        a = keys.select(F.col("id").alias("id_a"), "table", "bucket")
        b = keys.select(F.col("id").alias("id_b"), "table", "bucket")
        cand = (
            a.join(b, ["table", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va = df.select(
            F.col(id_col).alias("id_a"), _as_double(vec_col).alias("id_a_vec")
        )
        vb = df.select(
            F.col(id_col).alias("id_b"), _as_double(vec_col).alias("id_b_vec")
        )
        cand = cand.join(va, "id_a").join(vb, "id_b")
    return cand.select(
        "id_a", "id_b", _pair_cosine("id_a_vec", "id_b_vec").alias("cosine")
    ).where(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    exact: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the IVF coarse
    quantizer, score near-dup pairs only WITHIN each cluster, form
    connected components, keep the min-id representative per component.

    Output grain: one row per vector — (vec_id, cluster_id, keep,
    cluster_size); ``keep`` marks the representative.

    ``exact=True`` skips the coarse clustering and scores all pairs —
    the correctness-oracle path (recursive-CTE closure in DuckDB);
    tests assert the clustered path reproduces it on testdata.

    Scale: the clustered path never shuffles more than O(n) centroid
    assignments plus within-cell pair candidates (cells are ~n/k and
    pair work is GEMM-batched per cell); components add O(E · log n)
    keyed shuffles. In a persisted deployment the corpus is partitioned
    by centroid_id so each cell's pair scan is partition-local.
    """
    from .components import connected_components

    if exact:
        pairs = embedding_near_dup_pairs(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col, exact=True
        ).select("id_a", "id_b")
    else:
        centroids = _train_coarse_quantizer(df, id_col, vec_col, n_centroids)
        assign = _assign_centroids_udf(centroids, nprobe=1)
        c = df.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
        ).withColumn("centroid_id", F.element_at(assign("vec"), 1))
        a = c.select(
            F.col("centroid_id"),
            F.col("id").alias("id_a"),
            F.col("vec").alias("va"),
        )
        b = c.select(
            F.col("centroid_id"),
            F.col("id").alias("id_b"),
            F.col("vec").alias("vb"),
        )
        pairs = (
            a.join(b, "centroid_id")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", _pair_cosine("va", "vb").alias("cosine"))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b")
        )
    comps = connected_components(
        pairs, src="id_a", dst="id_b", nodes=df, node_col=id_col
    )
    w = Window.partitionBy("cluster_id")
    return comps.select(
        F.col("node").alias(id_col),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    ).withColumn("cluster_size", F.count("*").over(w))
