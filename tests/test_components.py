"""Connected components (operators/components.py): correctness on
known graph shapes, including the long-chain case pointer jumping
exists for."""

from __future__ import annotations

from dwds_livestream_spark.operators.components import connected_components


def _clusters(df):
    return {(r["node"], r["cluster_id"]) for r in df.collect()}


def test_disjoint_components_and_singletons(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 99]], ["id"])
    got = _clusters(
        connected_components(edges, nodes=nodes, node_col="id")
    )
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
        (99, 99),
    }


def test_long_chain_converges_in_log_rounds(spark):
    # path graph 0-1-2-...-200: naive propagation needs 200 rounds;
    # pointer jumping must finish well inside max_iter=25 (log2 ~ 8)
    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    got = _clusters(connected_components(edges))
    assert got == {(i, 0) for i in range(n + 1)}


def test_edge_order_and_direction_irrelevant(spark):
    e1 = spark.createDataFrame([(5, 3), (3, 9), (9, 1)], ["src", "dst"])
    got = _clusters(connected_components(e1))
    assert got == {(1, 1), (3, 1), (5, 1), (9, 1)}


# -------------------------------------------------- property vs union-find
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
)


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for n in list(parent):
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for members in roots.values() for n in members}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_lists)
def test_matches_union_find_on_random_graphs(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = dict(_clusters(connected_components(df)))
    assert got == _union_find(edges)
