"""Partition-floor helper for CPU-dense per-row kernels.

Spark parallelism is bounded by input partitions, and a parquet file is
splittable only at row-group boundaries — a small single-row-group file
(or a heavily filtered scan) arrives as ONE partition, serializing any
downstream compute no matter how many cores exist (measured 10x on the
thresholded-levenshtein band join, 32 cores).

``spread`` round-robin repartitions ONLY when the plan's current
partition count is below the session default parallelism; on a real
multi-terabyte table the source already yields thousands of splits and
this is a no-op — no shuffle is added at scale.

Apply it ONLY where per-row/per-pair compute strongly dominates the
added exchange — today that is the thresholded-levenshtein band join
(O(d·len) dynamic program per pair; measured 10x on 32 cores).
Measured and REJECTED everywhere else in this codebase: on shingling /
signature / regex projections the extra exchange plus 32x task+Arrow
overhead cost more than the parallelism bought (word_topk 0.5s -> 6s),
it fragments deliberately-coarse chunking (cosine_topk's broadcast
query side must stay ONE chunk), and inside iterative plans every
round re-pays the exchange (dedup_clusters 5s -> 36s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned(df: DataFrame) -> DataFrame:
    """Cache a multi-consumer frame and MATERIALIZE it immediately.

    ``.cache()`` alone does not protect a fan-out under AQE: when the
    consumers' query stages are submitted concurrently (adaptive
    execution materializes independent shuffle/broadcast stages in
    parallel), each stage's tasks race into the still-unpopulated
    InMemoryRelation and every stage pays a FULL evaluation of the
    cached subtree. Measured on the banded-MinHash estimate subtree
    (r12 optimization round, sf0.1): four concurrent single-task
    stages, each with executorRunTime ~= one whole signature-pipeline
    evaluation (~6.5 s); with the cache materialized up front the four
    stages collapse to cache reads and the subtree runs once
    (12.3 s -> 5.6 s end to end). The count() here is an O(cached
    bytes) action that populates the cache before any consumer stage
    exists; eager localCheckpoint was measured SLOWER for this job
    (8-9.6 s — RDD-block serialization is heavier than the columnar
    cache write).

    At scale the pinned frame is the standard persisted artifact of
    its pipeline (e.g. |docs| x (k+1) longs for MinHash signatures);
    callers that loop must still unpersist when done.
    """
    df = df.cache()
    df.count()
    return df


def spread(df: DataFrame, force: bool = False) -> DataFrame:
    """Ensure at least ``defaultParallelism`` partitions.

    ``force=False`` probes ``rdd.getNumPartitions`` and skips the
    repartition when the plan already has enough splits. That probe is
    free ONLY on scan-side plans (projection/explode over a source):
    under AQE, ``df.rdd`` MATERIALIZES every shuffle stage in the plan
    to finalize partitioning — on a post-shuffle frame the whole
    upstream computation runs at plan-build time and again at query
    time (measured: the minhash-levenshtein candidate join billed 8.3s
    of bench "setup" this way). Pass ``force=True`` for post-shuffle
    frames: one unconditional exchange of (usually tiny) rows, which
    also deliberately overrides AQE's small-output coalescing right
    before a CPU-dense per-row stage — the exact case spread exists
    for.

    Note on FILTERS: a deterministic predicate above a spread pushes
    straight through the repartition back to the scan, dragging any
    expensive derived columns it references (a regex parse, a decode)
    into the single-split scan task the spread was meant to escape.
    Nondeterministic repartition keys and dummy nondeterministic
    project columns do NOT block this (measured: the analyzer hoists
    the key into a project BELOW the exchange; column pruning removes
    unused aliases; conjunctions split and push independently). The
    working barrier is a Generate: predicates referencing a generated
    output cannot cross it — see functions/access_log.parse_log_lines.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    if not force and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
