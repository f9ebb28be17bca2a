"""Persisted IVF (inverted-file) ANN index: cell-partitioned parquet
where Spark's partition pruning IS the inverted file.

Beyond-reference operator (project brief: similarity search at scale).
``similarity.ivf_topk`` rebuilds its quantizer per query batch — right
for one-shot jobs, wrong for a served corpus. This module persists the
index once and makes every later probe a pruned scan:

- ``ivf_index_write``: train the deterministic coarse quantizer
  (similarity._train_coarse_quantizer — bounded driver-side sample),
  assign every vector to its nearest centroid with one Arrow-batched
  pandas UDF, and write the corpus partitioned BY cell
  (``path/vectors/cell=N/``) plus the centroid table
  (``path/centroids``). At 100 TB this is one scan + one partitioned
  write; no shuffle beyond the write's own partitioning.
- ``ivf_index_query``: nprobe cells per query are computed from the
  (tiny, collected) centroid table; the vector scan carries
  ``cell IN (probed)`` so Spark reads ONLY those partitions —
  PartitionFilters in the scan node, asserted by the tests. Scoring is
  an equi-join on cell (queries broadcast) + pairwise cosine + per-
  query top-k window: shuffle O(candidates), never O(corpus).

The quantizer, assignment, and scoring are shared with
``similarity.ivf_topk``, so an index built with identical parameters
answers queries identically to the in-memory operator — asserted in
tests/test_ann_index.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localrel import local_df
from .similarity import (
    _as_double,
    _assign_centroids_udf,
    _pair_cosine,
    _train_coarse_quantizer,
)


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_train: int = 4096,
    iters: int = 10,
) -> None:
    """Build and persist the index: ``path/centroids`` (n_centroids
    rows) + ``path/vectors`` partitioned by cell."""
    cent = _train_coarse_quantizer(
        corpus, id_col, vec_col, n_centroids, n_train, iters
    )
    spark = corpus.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in cent[i]]) for i in range(len(cent))
    ]
    # local_df (Arrow LocalRelation), NOT createDataFrame(list): the
    # pickled-RDD path made this 16-row coalesce(1) write cost ~4.7 s
    # (32 sequential Python-worker round-trips in the single task)
    local_df(
        spark, cent_rows, "cell long, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    assign = _assign_centroids_udf(cent, nprobe=1)
    (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            _as_double(vec_col).alias("embedding"),
        )
        .withColumn("cell", F.element_at(assign(F.col("embedding")), 1))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )


def _load_centroids(spark: SparkSession, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.stack([np.asarray(r.centroid, dtype=np.float64) for r in rows])


def ivf_index_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for each query, reading ONLY the probed cells'
    partitions. Output: query_id, rank, neighbor_id, cosine (the
    ``cosine_topk``/``ivf_topk`` shape). Self-matches excluded."""
    cent = _load_centroids(spark, path)
    assign = _assign_centroids_udf(cent, nprobe=nprobe)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(vec_col).alias("query_vec"),
        )
        .withColumn("cell", F.explode(assign(F.col("query_vec"))))
    )
    # bounded by n_centroids — driver-sized by construction
    probed = [r.cell for r in q.select("cell").distinct().collect()]
    vectors = spark.read.parquet(f"{path}/vectors").where(
        F.col("cell").isin(probed)
    )
    scored = (
        vectors.join(F.broadcast(q), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pair_cosine("query_vec", "embedding").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
