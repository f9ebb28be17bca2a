"""Unit + reference tests for the round-6 operators: batch stream
twins (watermark late-drop, emit-on-change), 2-D skyline, interval
coverage, weighted median. Each operator is checked against a naive
single-machine Python reference on small frames with the edge cases
the distributed decomposition could get wrong (bucket boundaries,
ties, nulls, empty/degenerate inputs)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dwds_livestream_spark.operators.intervals import interval_coverage
from dwds_livestream_spark.operators.ranking import weighted_median
from dwds_livestream_spark.operators.skyline import pareto_frontier
from dwds_livestream_spark.operators.stream_twins import (
    emit_on_change,
    watermark_late_drop,
)

T0 = dt.datetime(2024, 1, 1)


def _ts(s: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


# ---------------------------------------------------------------- watermark


def _naive_watermark(rows, delay_s):
    kept, seen = [], None
    for arr, ts in sorted(rows):
        if seen is None or ts >= seen - dt.timedelta(seconds=delay_s):
            kept.append(arr)
        seen = ts if seen is None else max(seen, ts)
    return kept


@pytest.mark.parametrize("n_buckets", [1, 3, 64])
def test_watermark_matches_naive_reference(spark, n_buckets):
    # jittered event times: late rows appear whenever the jitter jumps
    # past the 100 s delay; includes exact-boundary rows (ts == wm is
    # KEPT — streaming drops strictly-older only)
    rows = [(i, _ts(i * 60 - (i * 997) % 300)) for i in range(50)]
    df = spark.createDataFrame(rows, "arr long, ts timestamp")
    got = watermark_late_drop(
        df, "arr", "ts", delay="100 seconds", n_buckets=n_buckets
    )
    assert sorted(r.arr for r in got.collect()) == _naive_watermark(
        rows, 100
    )


def test_watermark_boundary_row_is_kept(spark):
    # ts exactly equal to (max seen - delay) survives
    rows = [(0, _ts(1000)), (1, _ts(900)), (2, _ts(899))]
    df = spark.createDataFrame(rows, "arr long, ts timestamp")
    kept = sorted(
        r.arr
        for r in watermark_late_drop(
            df, "arr", "ts", delay="100 seconds"
        ).collect()
    )
    assert kept == [0, 1]


def test_watermark_empty_and_single(spark):
    empty = spark.createDataFrame([], "arr long, ts timestamp")
    assert watermark_late_drop(empty, "arr", "ts").count() == 0
    one = spark.createDataFrame([(7, _ts(0))], "arr long, ts timestamp")
    assert watermark_late_drop(one, "arr", "ts").count() == 1


def test_watermark_bucket_boundary_lateness(spark):
    # the late row's watermark evidence sits entirely in a PREVIOUS
    # bucket (row 9 in bucket 0 sets the max; row 10 opens bucket 1
    # with nothing before it in-bucket) — only the cross-bucket prefix
    # can catch it
    rows = [(i, _ts(i * 10)) for i in range(10)] + [(10, _ts(0))]
    df = spark.createDataFrame(rows, "arr long, ts timestamp")
    kept = sorted(
        r.arr
        for r in watermark_late_drop(
            df, "arr", "ts", delay="50 seconds", n_buckets=2
        ).collect()
    )
    assert kept == list(range(10))  # arr=10 is 90 s late, dropped


# ------------------------------------------------------------ emit-on-change


def test_emit_on_change_basic_and_nulls(spark):
    rows = [
        Row(k="a", o=1, v="x"),
        Row(k="a", o=2, v="x"),  # suppressed
        Row(k="a", o=3, v=None),  # null is a change
        Row(k="a", o=4, v=None),  # null -> null suppressed
        Row(k="a", o=5, v="x"),  # re-emit after null
        Row(k="b", o=1, v=None),  # first row of key kept even if null
    ]
    df = spark.createDataFrame(rows)
    got = sorted(
        (r.k, r.o)
        for r in emit_on_change(df, ["k"], ["o"], ["v"]).collect()
    )
    assert got == [("a", 1), ("a", 3), ("a", 5), ("b", 1)]


def test_emit_on_change_multi_value_cols(spark):
    rows = [
        Row(k="a", o=1, v=1, w=1),
        Row(k="a", o=2, v=1, w=2),  # w changed -> kept
        Row(k="a", o=3, v=1, w=2),  # suppressed
    ]
    df = spark.createDataFrame(rows)
    got = sorted(
        r.o for r in emit_on_change(df, ["k"], ["o"], ["v", "w"]).collect()
    )
    assert got == [1, 2]


# ----------------------------------------------------------------- skyline


def _naive_skyline(pts):
    out = []
    for i, (p, s) in enumerate(pts):
        dominated = any(
            (q <= p and t >= s and (q < p or t > s)) for q, t in pts
        )
        if not dominated:
            out.append(i)
    return out


@pytest.mark.parametrize("n_buckets", [1, 4, 64])
def test_skyline_matches_brute_force(spark, n_buckets):
    pts = [
        ((i * 7919) % 97 / 10.0, (i * 104729) % 53) for i in range(200)
    ]
    df = spark.createDataFrame(
        [(i, p, s) for i, (p, s) in enumerate(pts)],
        "id long, price double, size long",
    )
    got = sorted(
        r.id
        for r in pareto_frontier(
            df, "price", "size", n_buckets=n_buckets
        ).collect()
    )
    assert got == _naive_skyline(pts)


def test_skyline_ties_survive_together(spark):
    # two identical points: neither dominates, both stay; a same-price
    # smaller-size point is dominated
    df = spark.createDataFrame(
        [(1, 1.0, 10), (2, 1.0, 10), (3, 1.0, 9)],
        "id long, price double, size long",
    )
    got = sorted(r.id for r in pareto_frontier(df, "price", "size").collect())
    assert got == [1, 2]


def test_skyline_null_rows_excluded(spark):
    """Documented null policy (ADVICE r6): rows with NULL in either
    objective column are filtered out, not trivially kept the way a
    literal NOT EXISTS oracle would keep them."""
    df = spark.createDataFrame(
        [(1, 1.0, 10), (2, None, 99), (3, 2.0, None)],
        "id long, price double, size long",
    )
    got = sorted(r.id for r in pareto_frontier(df, "price", "size").collect())
    assert got == [1]


def test_skyline_empty(spark):
    df = spark.createDataFrame([], "id long, price double, size long")
    assert pareto_frontier(df, "price", "size").count() == 0


# ---------------------------------------------------------- interval cover


def test_interval_coverage_merge_touch_nest(spark):
    rows = [
        ("u", 0, 10),
        ("u", 10, 20),  # touching: merges into [0, 20)
        ("u", 5, 7),  # nested: no effect
        ("u", 30, 40),  # separate island
        ("v", 0, 0),  # zero-length: counts as an island, adds 0
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = {
        r.k: (r.covered, r.n_islands)
        for r in interval_coverage(df, ["k"], "s", "e").collect()
    }
    assert got == {"u": (30, 2), "v": (0, 1)}


def test_interval_coverage_order_invariance(spark):
    # equal starts with different ends, inserted in adversarial order
    rows = [("u", 0, 3), ("u", 0, 9), ("u", 4, 5), ("u", 12, 13)]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = interval_coverage(df, ["k"], "s", "e").first()
    assert (got.covered, got.n_islands) == (10, 2)


# --------------------------------------------------------- weighted median


def _naive_wmedian(pairs):
    unrolled = sorted(v for v, w in pairs for _ in range(w))
    return unrolled[(len(unrolled) + 1) // 2 - 1]


@pytest.mark.parametrize(
    "pairs",
    [
        [(1.0, 1), (2.0, 1), (3.0, 1)],  # odd total
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 1)],  # even: lower middle
        [(1.0, 9), (100.0, 1)],  # weight-dominated
        [(5.0, 2), (5.0, 3), (1.0, 4)],  # duplicate values fold
        [(2.5, 7)],  # single value
    ],
)
def test_weighted_median_matches_unrolled(spark, pairs):
    df = spark.createDataFrame(
        [("g", v, w) for v, w in pairs], "g string, v double, w long"
    )
    got = weighted_median(df, ["g"], "v", "w").first()
    assert got.weighted_median == _naive_wmedian(pairs)


def test_weighted_median_groups_independent(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 9.0, 2), ("b", 4.0, 5)],
        "g string, v double, w long",
    )
    got = {
        r.g: r.weighted_median
        for r in weighted_median(df, ["g"], "v", "w").collect()
    }
    assert got == {"a": 9.0, "b": 4.0}


# ------------------------------------------------- round-6 batch 2 queries


def test_session_window_late_drops_before_sessionizing(spark):
    # a late event that would have BRIDGED two sessions must be gone
    # before the session aggregate sees it: arrivals 0,1 are 40 min
    # apart in event time (two sessions at 30-min gap); arrival 2 is
    # an in-between event time but arrives after both and is >10 min
    # late, so sessions stay split
    from dwds_livestream_spark.operators.stream_twins import (
        watermark_late_drop,
    )

    rows = [
        (0, 100, _ts(0)),
        (1, 100, _ts(2400)),
        (2, 100, _ts(1200)),  # late by 1200 s
    ]
    df = spark.createDataFrame(rows, "event_id long, u long, ts timestamp")
    kept = watermark_late_drop(df, "event_id", "ts", delay="10 minutes")
    sess = (
        kept.groupBy("u", F.session_window("ts", "30 minutes"))
        .count()
        .collect()
    )
    assert len(sess) == 2  # bridging event dropped -> sessions split


def test_robust_scaler_rank_convention(spark):
    # percentile_approx with accuracy >= n picks the value at 1-based
    # rank ceil(p*n): for n=4 sorted [1,2,3,4] -> q1=1 (rank 1),
    # med=2 (rank 2), q3=3 (rank 3); iqr=2, so x=4 scales to 1.0
    df = spark.createDataFrame(
        [(i, [float(i + 1)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    ex = df.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    q = ex.groupBy("dim").agg(
        F.percentile_approx(
            "x", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10**6)
        ).alias("q")
    ).first()["q"]
    assert q == [1.0, 2.0, 3.0]


def test_topk_rank_ties_keeps_whole_boundary_group(spark):
    df = spark.createDataFrame(
        [("b", i, v) for i, v in enumerate([9, 9, 8, 8, 8, 7, 1])],
        "g string, id long, v long",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.desc("v"))
    got = (
        df.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .collect()
    )
    # ranks: 9->1, 9->1, 8->3, 8->3, 8->3 (whole tie group survives);
    # 7 has rank 6 and is cut
    assert sorted(r.v for r in got) == [8, 8, 8, 9, 9]


def test_containment_asymmetric_vs_jaccard(spark):
    # a short doc fully embedded in a long one: containment(short in
    # long) = 1.0 while Jaccard is small — the case a union-normalized
    # threshold structurally misses
    from dwds_livestream_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "a b c d e f"  # 2 shingles at n=5
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, n=5, threshold=0.5).collect()
    }
    assert cont[(1, 2)] == 1.0  # short fully contained in long
    assert (2, 1) not in cont  # long NOT contained in short
    jac = ngram_jaccard_pairs(df, n=5, threshold=0.5).collect()
    assert jac == []  # Jaccard misses it entirely


def test_watermark_twin_matches_engine_semantics(spark, tmp_path):
    """ENGINE-parity for the batch twin, one row per micro-batch in
    arrival order. Measured Spark behavior (pinned here): the global
    watermark effective in micro-batch i derives from the max event
    time through batch i-2 (the update computed at the end of a batch
    takes effect one trigger later), so the engine's late-drop
    (withWatermark + dropDuplicates; stateful operators filter input
    older than the watermark) keeps a SUPERSET of the row-granular
    twin — exactly the operator docstring's "strictest batch twin"
    claim. Two assertions: (a) the engine's kept set equals the
    two-batch-lag reference computed here, so the semantics we claim
    to twin are the measured ones, not folklore; (b) twin-kept is a
    subset of engine-kept — the twin never keeps a row the engine
    would drop. Offsets avoid boundary-equal timestamps so a <-vs-<=
    convention difference can't hide."""
    import json as _json
    import os
    import time as _time

    offsets = [0, 300, 120, 900, 100, 1200, 700, 1500, 1480, 200]
    delay_s = 100
    rows = [(i, _ts(s)) for i, s in enumerate(offsets)]
    src = tmp_path / "src"
    src.mkdir()
    for i, (arr, ts) in enumerate(rows):
        (src / f"f{i:03d}.jsonl").write_text(
            _json.dumps({"id": arr, "ts": ts.strftime("%Y-%m-%dT%H:%M:%S")})
        )
    now = _time.time()
    for i, f in enumerate(sorted(src.iterdir())):
        os.utime(f, (now + i, now + i))

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .selectExpr("from_json(value, 'id long, ts timestamp') AS e")
        .select("e.id", "e.ts")
        .withWatermark("ts", f"{delay_s} seconds")
        .dropDuplicates(["id"])
    )
    batches: list[list] = []
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: batches.append(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    engine_kept = sorted(r.id for bs in batches for r in bs)

    # two-batch-lag reference: wm(i) = max(ts of batches 0..i-2) - delay
    lag2_kept = []
    for i, (arr, ts) in enumerate(rows):
        seen = [t for _, t in rows[: max(i - 1, 0)]]
        wm = max(seen) - dt.timedelta(seconds=delay_s) if seen else None
        if wm is None or ts >= wm:
            lag2_kept.append(arr)
    assert engine_kept == lag2_kept == [0, 1, 2, 3, 5, 7, 8]

    df = spark.createDataFrame(rows, "id long, ts timestamp")
    twin_kept = sorted(
        r.id
        for r in watermark_late_drop(
            df, "id", "ts", delay=f"{delay_s} seconds"
        ).collect()
    )
    assert twin_kept == [0, 1, 3, 5, 7, 8]  # strictest: row 2 dropped
    assert set(twin_kept) <= set(engine_kept)


# ------------------------------------------------------------- skyline_md


def _naive_skyline_md(pts):
    # minimize dim 0, maximize dims 1..: indices of non-dominated pts
    out = []
    for i, p in enumerate(pts):
        dominated = any(
            q[0] <= p[0]
            and all(q[j] >= p[j] for j in range(1, len(p)))
            and (q[0] < p[0] or any(q[j] > p[j] for j in range(1, len(p))))
            for q in pts
        )
        if not dominated:
            out.append(i)
    return out


@pytest.mark.parametrize("n_buckets", [1, 3, 8])
def test_skyline_md_matches_brute_force(spark, n_buckets):
    from dwds_livestream_spark.operators.skyline import skyline_md

    pts = [
        (
            (i * 7919) % 97 / 10.0,
            (i * 104729) % 53,
            (i * 15485863) % 31,
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(pts)],
        "id long, price double, size long, quality long",
    )
    got = sorted(
        r.id
        for r in skyline_md(
            df, ["price"], ["size", "quality"], n_buckets=n_buckets
        ).collect()
    )
    assert got == _naive_skyline_md(pts)


def test_skyline_md_ties_and_nulls(spark):
    from dwds_livestream_spark.operators.skyline import skyline_md

    df = spark.createDataFrame(
        [
            (1, 1.0, 10, 5),
            (2, 1.0, 10, 5),  # exact duplicate of 1: both survive
            (3, 1.0, 10, 4),  # dominated by 1/2
            (4, 0.5, 1, 1),   # cheapest: survives
            (5, None, 99, 9),  # null objective: excluded
        ],
        "id long, price double, size long, quality long",
    )
    got = sorted(
        r.id
        for r in skyline_md(df, ["price"], ["size", "quality"]).collect()
    )
    assert got == [1, 2, 4]


def test_skyline_md_d2_matches_pareto_frontier(spark):
    from dwds_livestream_spark.operators.skyline import skyline_md

    pts = [((i * 31) % 17 / 4.0, (i * 13) % 11) for i in range(120)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pts)],
        "id long, price double, size long",
    )
    md = sorted(
        r.id for r in skyline_md(df, ["price"], ["size"]).collect()
    )
    d2 = sorted(
        r.id for r in pareto_frontier(df, "price", "size").collect()
    )
    assert md == d2


# --------------------------------------------------------- rate limit twin


def test_rate_limit_twin_matches_naive(spark):
    import datetime as dt

    from dwds_livestream_spark.operators.stream_twins import (
        rate_limit_twin,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, i % 3, base + dt.timedelta(seconds=((i * 37) % 600)))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    got = sorted(
        r.event_id
        for r in rate_limit_twin(
            df, epm=2, ts_col="ts", key_cols=["user_id"]
        ).collect()
    )

    admitted = []
    state: dict = {}
    for eid, uid, ts in sorted(rows, key=lambda r: (r[2], r[0])):
        minute = int(ts.timestamp() * 1_000_000) // 60_000_000
        tokens, window = state.get(uid, (2, -1))
        if minute > window:
            window, tokens = minute, 2
        if tokens > 0:
            tokens -= 1
            admitted.append(eid)
        state[uid] = (tokens, window)
    assert got == sorted(admitted)


def test_rate_limit_twin_equals_stream_on_in_order_input(spark, tmp_path):
    """The documented equivalence: under in-order arrival the stateful
    streaming leaky bucket admits exactly the twin's set."""
    import json as _json

    from dwds_livestream_spark.operators.stream_twins import (
        rate_limit_twin,
    )
    from dwds_livestream_spark.streaming.stateful import rate_limit_stream

    # 30 in-order events in one key spanning 3 minutes, bursts of 10
    events = [
        {
            "timestamp": f"2024-01-01T10:{m:02d}:{s:02d}Z",
            "lemma": f"e{m}{s:02d}",
        }
        for m in range(3)
        for s in range(0, 30, 3)
    ]
    src = tmp_path / "src"
    src.mkdir()
    # two micro-batches, split mid-minute so bucket state must persist
    (src / "b1.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in events[:17])
    )
    (src / "b2.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in events[17:])
    )
    import os as _os
    import time as _time
    now = _time.time()
    for i, f in enumerate(sorted(src.iterdir())):
        _os.utime(f, (now + i, now + i))

    schema = "timestamp timestamp, lemma string"
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .selectExpr(f"from_json(value, '{schema}') AS e")
        .select("e.timestamp", "e.lemma")
    )
    collected: list = []
    q = (
        rate_limit_stream(stream, epm=4)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, i: collected.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_twin"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(r.lemma for r in collected)

    bdf = spark.createDataFrame(
        [(e["timestamp"].rstrip("Z"), e["lemma"]) for e in events],
        "ts_s string, lemma string",
    ).selectExpr("cast(ts_s as timestamp) as timestamp", "lemma")
    twin = sorted(
        r.lemma
        for r in rate_limit_twin(
            bdf, epm=4, ts_col="timestamp", key_cols=[],
            tiebreak_col="lemma",
        ).collect()
    )
    assert streamed == twin
    assert len(streamed) == 12  # 4 per minute x 3 minutes


def test_skyline_md_d4_matches_brute_force(spark):
    from dwds_livestream_spark.operators.skyline import skyline_md

    pts = [
        (
            (i * 7919) % 53 / 10.0,
            (i * 104729) % 29,
            (i * 15485863) % 17,
            (i * 32452843) % 11,
        )
        for i in range(250)
    ]
    df = spark.createDataFrame(
        [(i, a, b, c, d) for i, (a, b, c, d) in enumerate(pts)],
        "id long, w double, x long, y long, z long",
    )
    got = sorted(
        r.id
        for r in skyline_md(
            df, ["w"], ["x", "y", "z"], n_buckets=4
        ).collect()
    )
    expected = [
        i
        for i, p in enumerate(pts)
        if not any(
            q[0] <= p[0]
            and all(q[j] >= p[j] for j in (1, 2, 3))
            and (q[0] < p[0] or any(q[j] > p[j] for j in (1, 2, 3)))
            for q in pts
        )
    ]
    assert got == expected


def test_skyline_md_degenerate_single_value_dims(spark):
    """Width-0 dims (all values equal) exercise the `or 1.0` bucket
    width guard; dominance then rides the remaining dims only."""
    from dwds_livestream_spark.operators.skyline import skyline_md

    df = spark.createDataFrame(
        [(1, 5.0, 10, 7), (2, 5.0, 11, 7), (3, 5.0, 9, 7)],
        "id long, price double, size long, quality long",
    )
    got = sorted(
        r.id
        for r in skyline_md(df, ["price"], ["size", "quality"]).collect()
    )
    assert got == [2]
