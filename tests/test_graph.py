"""Triangle counting (operators/graph.py): known counts on crafted
graphs, hub-safety of the orientation."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.operators.graph import canonical_edges, triangle_count


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(a=int(a), b=int(b)) for a, b in pairs]
    )


def test_triangle_count_known_graphs(spark):
    # one triangle + a pendant edge
    tri = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    assert triangle_count(tri).collect()[0]["n_triangles"] == 1
    # star (hub) graph: many wedges, zero triangles
    star = _edges(spark, [(0, i) for i in range(1, 20)])
    assert triangle_count(star).collect()[0]["n_triangles"] == 0
    # K4 = 4 triangles
    k4 = _edges(
        spark, [(i, j) for i in range(4) for j in range(i + 1, 4)]
    )
    assert triangle_count(k4).collect()[0]["n_triangles"] == 4


def test_triangle_count_ignores_duplicates_loops_direction(spark):
    e = _edges(
        spark,
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)],
    )
    assert triangle_count(e).collect()[0]["n_triangles"] == 1
    ce = canonical_edges(e)
    assert ce.count() == 3
    assert all(r["u"] < r["v"] for r in ce.collect())


def test_orientation_caps_wedges_at_hub(spark):
    """A 1000-edge star must produce ZERO wedge rows after orientation
    (the hub is highest-ordered, so it has no out-neighbors) — the
    hub-explosion guard the degree ordering exists for."""
    star = _edges(spark, [(0, i) for i in range(1, 1001)])
    # re-derive the oriented frame the operator builds internally
    e = canonical_edges(star)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    d = keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x")
    )
    out_deg = d.groupBy("x").count().agg(F.max("count")).collect()[0][0]
    # every leaf points AT the hub; max out-degree is 1, not 1000
    assert out_deg == 1
