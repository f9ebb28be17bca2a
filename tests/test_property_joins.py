"""Property-based semantics checks (hypothesis): the temporal join
operators against brute-force Python references on random inputs.

Few examples, deadline off — each example is a Spark job; the value is
in randomized edge shapes (dup timestamps, empty sides, boundary hits),
not volume.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dwds_livestream_spark.operators.asof import asof_join
from dwds_livestream_spark.operators.range_join import range_join

import pytest
# Slow tier (pytest.ini): full-registry sweep / hypothesis suite —
# deselected from the default driver-budget run, in the release gate.
pytestmark = pytest.mark.slow


EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


keys = st.sampled_from(["a", "b", "c"])
secs = st.integers(min_value=0, max_value=5_000)

asof_cases = st.tuples(
    st.lists(st.tuples(secs, keys), min_size=1, max_size=25),
    st.lists(
        st.tuples(secs, keys, st.integers(min_value=0, max_value=99)),
        max_size=25,
        unique_by=lambda r: (r[1], r[0]),  # one right row per (key, ts):
        # DuckDB/pandas asof tie choice is arbitrary; dedup makes the
        # expected match unique (same restriction the query entry uses)
    ),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(asof_cases)
def test_asof_matches_bruteforce(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(i, _ts(s), k) for i, (s, k) in enumerate(left_rows)],
        "lid long, ts timestamp, k string",
    )
    right = spark.createDataFrame(
        [(k, _ts(s), p) for (s, k, p) in right_rows] or [],
        "k string, rts timestamp, payload long",
    )
    got = {
        r.lid: (r.matched_ts, r.payload)
        for r in asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    }
    for i, (s, k) in enumerate(left_rows):
        earlier = [(rs, p) for (rs, rk, p) in right_rows if rk == k and rs <= s]
        expect = (None, None) if not earlier else (
            _ts(max(earlier)[0]), max(earlier)[1]
        )
        assert got[i] == expect, f"left row {i} ({s}, {k})"
    assert len(got) == len(left_rows)  # left outer: nothing dropped


range_cases = st.tuples(
    st.lists(st.tuples(secs, keys), min_size=1, max_size=25),
    st.lists(
        st.tuples(secs, st.integers(min_value=0, max_value=600), keys),
        max_size=15,
    ),
    st.sampled_from([60, 300, 3600]),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(range_cases)
def test_range_join_matches_bruteforce(spark, case):
    point_rows, interval_rows, bin_w = case
    points = spark.createDataFrame(
        [(i, _ts(s), k) for i, (s, k) in enumerate(point_rows)],
        "pid long, ts timestamp, k string",
    )
    intervals = spark.createDataFrame(
        [(j, _ts(s), _ts(s + d), k) for j, (s, d, k) in enumerate(interval_rows)]
        or [],
        "iid long, s timestamp, e timestamp, k string",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, "ts", "s", "e",
            bin_width_seconds=bin_w, equi=["k"],
        ).collect()
    }
    expect = {
        (i, j)
        for i, (ps, pk) in enumerate(point_rows)
        for j, (s, d, ik) in enumerate(interval_rows)
        if pk == ik and s <= ps < s + d
    }
    assert got == expect


outer_range_cases = st.tuples(
    st.lists(st.tuples(secs, keys), min_size=0, max_size=12),
    st.lists(
        # duration may be 0 (empty interval: matches nothing, must
        # still surface once in right/full output)
        st.tuples(secs, st.integers(min_value=0, max_value=600), keys),
        min_size=0,
        max_size=10,
    ),
    st.sampled_from([60, 3600]),
    st.sampled_from(["left", "right", "full"]),
)


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outer_range_cases)
def test_range_join_outer_modes_match_bruteforce(spark, case):
    """Outer semantics (VERDICT r2 #7): every preserved-side row appears
    EXACTLY once when unmatched — in particular an unmatched interval
    must not be duplicated per overlapped bin, and an empty interval
    must still surface."""
    point_rows, interval_rows, bin_w, how = case
    if not point_rows and not interval_rows:
        return
    points = spark.createDataFrame(
        [(i, _ts(s), k) for i, (s, k) in enumerate(point_rows)] or [],
        "pid long, ts timestamp, k string",
    )
    intervals = spark.createDataFrame(
        [(j, _ts(s), _ts(s + d), k) for j, (s, d, k) in enumerate(interval_rows)]
        or [],
        "iid long, s timestamp, e timestamp, k string",
    )
    got = sorted(
        (
            (r.pid, r.iid)
            for r in range_join(
                points, intervals, "ts", "s", "e",
                bin_width_seconds=bin_w, equi=["k"], how=how,
            ).collect()
        ),
        key=repr,
    )
    inner = {
        (i, j)
        for i, (ps, pk) in enumerate(point_rows)
        for j, (s, d, ik) in enumerate(interval_rows)
        if pk == ik and s <= ps < s + d
    }
    expect = set(inner)
    if how in ("left", "full"):
        matched_p = {i for i, _ in inner}
        expect |= {(i, None) for i in range(len(point_rows)) if i not in matched_p}
    if how in ("right", "full"):
        matched_i = {j for _, j in inner}
        expect |= {
            (None, j) for j in range(len(interval_rows)) if j not in matched_i
        }
    assert got == sorted(expect, key=repr), f"how={how}"


# -------- snapshot_diff: null keys and null values, brute-forced --------

maybe_key = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
maybe_val = st.one_of(st.none(), st.integers(min_value=0, max_value=2))
snapshot = st.lists(
    st.tuples(maybe_key, maybe_key, maybe_val),
    max_size=8,
    unique_by=lambda r: (r[0], r[1]),  # keyed table: one row per key
)


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.tuples(snapshot, snapshot))
def test_snapshot_diff_null_keys_match_bruteforce(spark, case):
    """Null-safe key pairing (VERDICT r2 #7): a NULL-keyed row present
    in both snapshots must pair up (changed/unchanged), never misread
    as added+removed; NULL value transitions count as changes."""
    from dwds_livestream_spark.operators.diff import snapshot_diff

    old_rows, new_rows = case
    schema = "k1 int, k2 int, v int"
    old = spark.createDataFrame(old_rows or [], schema)
    new = spark.createDataFrame(new_rows or [], schema)
    got = {
        (r.k1, r.k2): (r.change, tuple(r.changed_cols))
        for r in snapshot_diff(old, new, keys=["k1", "k2"]).collect()
    }
    o = {(k1, k2): v for k1, k2, v in old_rows}
    n = {(k1, k2): v for k1, k2, v in new_rows}
    expect = {}
    for key in o.keys() | n.keys():
        if key not in o:
            expect[key] = ("added", ())
        elif key not in n:
            expect[key] = ("removed", ())
        elif o[key] != n[key]:
            expect[key] = ("changed", ("v",))
    assert got == expect

para_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "x"])
paragraph = st.lists(para_word, min_size=1, max_size=4).map(" ".join)
doc = st.lists(paragraph, min_size=0, max_size=5).map("\n".join)
corpus = st.lists(doc, min_size=1, max_size=8)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus)
def test_paragraph_dedup_invariants(spark, texts):
    from dwds_livestream_spark.operators.dedup import paragraph_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = paragraph_dedup(df).collect()

    # 1. no paragraph appears twice anywhere in the output corpus
    all_paras = [p for r in out for p in r["text"].split("\n")]
    assert len(all_paras) == len(set(all_paras))

    # 2. the set of surviving paragraphs == set of distinct non-blank
    #    input paragraphs (dedup never loses content, only copies)
    want = {
        p.strip()
        for t in texts
        for p in t.split("\n")
        if p.strip()
    }
    assert set(all_paras) == want

    # 3. each paragraph survives in its FIRST containing document, and
    #    per-doc order is preserved
    first_holder = {}
    for i, t in enumerate(texts):
        for j, p in enumerate(p.strip() for p in t.split("\n")):
            if p and p not in first_holder:
                first_holder[p] = (i, j)
    for r in out:
        paras = r["text"].split("\n")
        assert all(first_holder[p][0] == r["doc_id"] for p in paras)
        idxs = [first_holder[p][1] for p in paras]
        assert idxs == sorted(idxs)
        assert r["n_kept"] == len(paras)
