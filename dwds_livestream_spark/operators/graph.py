"""Graph analytics beyond connected components / PageRank: triangle
counting via degree-ordered edge orientation.

Beyond-reference operator (project brief: batch analytics layer). The
reference has no graph surface; this rounds out the iterative-graph
family (components.py, PageRank in plans/analytics.py) with the
classic clustering-coefficient building block.

Scale design (the Cohen / Suri-Vassilvitskii MapReduce algorithm):
counting wedges at every node explodes on hubs (a degree-d node makes
d² wedges). Orienting each undirected edge from the LOWER (degree,
node) endpoint to the higher caps every node's out-degree at
O(sqrt(|E|)) regardless of hubs — each triangle is then counted
exactly once, at its lowest-ordered vertex, and the wedge join's
fan-out is bounded by arboricity, not by max degree. Three shuffles
total: degree aggregate, wedge self-join on the pivot, closing-edge
join. The DuckDB oracle counts the same triangles with the id-ordered
3-way join — an independent formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v; self-loops
    dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Total distinct triangles in the undirected graph. Output: one
    row, column ``n_triangles``.

    The canonical edge set is localCheckpoint'd: it feeds the degree
    aggregate, the two degree joins, AND (oriented) both sides of the
    wedge join plus the closing join — without materialization Spark
    re-derives the (often expensive) upstream edge construction for
    every consumer (measured 4x on the co-purchase graph)."""
    e = canonical_edges(edges, src, dst).localCheckpoint()
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # total order on nodes: (degree, node); orient low -> high
    keyed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # repartition('x') before the checkpoint (r13): the orientation
    # select's output bytes are tiny, so AQE coalesces the stage to ONE
    # partition and the whole downstream stage — the adjacency
    # aggregate plus the per-edge array_intersect over every oriented
    # edge, the query's CPU-dense kernel — serialized on one task
    # (measured: d checkpointed at 1 partition). Keying the exchange on
    # the wedge-join key x (not round-robin) also aligns the adjacency
    # groupBy with the data layout; AQE still picks the partition count,
    # so this stays scale-adaptive. Interleaved same-session A/B at
    # sf0.1/32: 6.38 -> 3.93 s min (round-robin control 4.82 s).
    d = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
    ).repartition("x").localCheckpoint()  # adjacency agg + both edge joins
    # out-adjacency arrays: bounded at O(sqrt |E|) per node by the
    # orientation, so collect_list cannot hub-explode. Checkpointed
    # (r13): nbrs feeds BOTH broadcast builds below, and without a
    # barrier each build re-runs the collect_list aggregate — two
    # |E|-row exchanges instead of one (plan ops 2-5 and 9-12 were
    # identical twins). A/B on top of the repartition: 3.93 -> 3.67 s.
    nbrs = (
        d.groupBy("x")
        .agg(F.array_sort(F.collect_list("y")).alias("ns"))
        .localCheckpoint()
    )
    # each triangle {a≺b≺c} closes exactly once, at its lowest edge
    # (a,b): c ∈ N+(a) ∩ N+(b). Counting |N+(x) ∩ N+(y)| per oriented
    # edge replaces the O(#wedges) self-join + wedge-sized shuffle with
    # two EDGE-sized joins and an in-row array_intersect (codegen) —
    # 17 s -> 4 s on the 1.2M-edge / 35M-wedge co-purchase graph
    per_edge = (
        d.join(nbrs, "x")
        .withColumnRenamed("ns", "ns_x")
        .join(
            nbrs.withColumnRenamed("x", "y").withColumnRenamed("ns", "ns_y"),
            "y",
        )
        .select(F.size(F.array_intersect("ns_x", "ns_y")).alias("t"))
    )
    return per_edge.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_triangles")
    )
