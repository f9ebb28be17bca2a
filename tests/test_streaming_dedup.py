"""Stateful streaming emit-on-change (streaming/stateful.py): a value
run that crosses micro-batch and restart boundaries is emitted once,
and the stream agrees with the batch twin on in-order input."""

from __future__ import annotations

import os
import time


def _order_files(srcdir):
    now = time.time()
    for i, f in enumerate(sorted(srcdir.iterdir())):
        os.utime(f, (now + i, now + i))


def _run_append(spark, df, tmp_path, name):
    batches: list[list] = []
    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: batches.append(b.collect()))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return [r for batch in batches for r in batch]


def test_emit_on_change_stream_matches_batch_twin(spark, tmp_path):
    """The stateful streaming emit-on-change and the batch twin agree
    on in-order arrival: feed three micro-batches whose runs of equal
    values cross batch boundaries (the state must remember the last
    EMITTED value across batches), with null transitions, and compare
    the cumulative streamed output against
    operators/stream_twins.emit_on_change replayed over the full
    history."""
    import json as _json

    from dwds_livestream_spark.operators.stream_twins import emit_on_change
    from dwds_livestream_spark.streaming.stateful import (
        emit_on_change_stream,
    )

    def ev(eid, uid, sec, typ):
        return {
            "event_id": eid,
            "user_id": uid,
            "ts": f"2024-01-01T10:00:{sec:02d}",
            "event_type": typ,
        }

    batches = [
        # batch 1: u1 starts a 'view' run; u2 starts with null
        [ev(0, 1, 0, "view"), ev(1, 1, 5, "view"), ev(2, 2, 6, None)],
        # batch 2: u1's run CONTINUES across the boundary (suppressed),
        # then changes; u2 null -> null suppressed
        [ev(3, 1, 10, "view"), ev(4, 1, 15, "click"), ev(5, 2, 16, None)],
        # batch 3: u1 re-emits after a change back; u2 null -> value
        [ev(6, 1, 20, "view"), ev(7, 2, 21, "view")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate(batches):
        (src / f"b{i}.jsonl").write_text(
            "\n".join(_json.dumps(e) for e in batch)
        )
    _order_files(src)

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .selectExpr(f"from_json(value, '{schema}') AS e")
        .select("e.event_id", "e.user_id", "e.ts", "e.event_type")
    )
    got = _run_append(
        spark, emit_on_change_stream(stream), tmp_path, "eoc"
    )
    streamed = sorted(r.event_id for r in got)

    all_rows = [e for b in batches for e in b]
    bdf = spark.createDataFrame(
        [
            (e["event_id"], e["user_id"], e["ts"], e["event_type"])
            for e in all_rows
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).selectExpr(
        "event_id", "user_id", "cast(ts as timestamp) ts", "event_type"
    )
    twin = sorted(
        r.event_id
        for r in emit_on_change(
            bdf, ["user_id"], ["ts", "event_id"], ["event_type"]
        ).collect()
    )
    assert streamed == twin == [0, 2, 4, 6, 7]


def test_emit_on_change_state_survives_restart(spark, tmp_path):
    """The per-key last-emitted value lives in the state store: a
    restart from the checkpoint must keep suppressing a value run that
    continues across the restart boundary (re-emitting it would mean
    state was lost)."""
    import json as _json

    from dwds_livestream_spark.streaming.stateful import (
        emit_on_change_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, user_id long, ts timestamp, event_type string"

    def write(name, events):
        (src / name).write_text("\n".join(_json.dumps(e) for e in events))
        _order_files(src)

    def run_once(sink: list):
        stream = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
            .selectExpr(f"from_json(value, '{schema}') AS e")
            .select("e.event_id", "e.user_id", "e.ts", "e.event_type")
        )
        q = (
            emit_on_change_stream(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, i: sink.extend(b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.jsonl", [
        {"event_id": 0, "user_id": 1, "ts": "2024-01-01T10:00:00",
         "event_type": "view"},
        {"event_id": 1, "user_id": 1, "ts": "2024-01-01T10:00:05",
         "event_type": "view"},
    ])
    first: list = []
    run_once(first)
    assert sorted(r.event_id for r in first) == [0]

    # restart: the run continues -> suppressed; then a real change
    write("b2.jsonl", [
        {"event_id": 2, "user_id": 1, "ts": "2024-01-01T10:00:10",
         "event_type": "view"},
        {"event_id": 3, "user_id": 1, "ts": "2024-01-01T10:00:15",
         "event_type": "click"},
    ])
    second: list = []
    run_once(second)
    assert sorted(r.event_id for r in second) == [3]


def test_emit_on_change_stream_multi_chunk_key(spark, tmp_path):
    """ADVICE r6 (medium): applyInPandasWithState splits a key's
    micro-batch into multiple Arrow chunks
    (spark.sql.execution.arrow.maxRecordsPerBatch) in arbitrary order;
    sorting each chunk independently is NOT a global (ts, event_id)
    sort, so for keys with >1 chunk the batch-twin equivalence breaks.
    Force tiny chunks (8 rows), feed one key 48 rows in a SINGLE
    micro-batch in shuffled file order where only two global
    transitions exist (a-run then b-run): per-chunk sorting would
    interleave a/b values and emit many spurious rows — the correct
    output is exactly the two run heads."""
    import json as _json

    from dwds_livestream_spark.streaming.stateful import (
        emit_on_change_stream,
    )

    # deterministic shuffle: stride permutation of 0..47
    order = [(i * 19) % 48 for i in range(48)]
    assert sorted(order) == list(range(48))
    events = [
        {
            "event_id": i,
            "user_id": 1,
            "ts": f"2024-01-01T10:{i // 60:02d}:{i % 60:02d}",
            "event_type": "a" if i < 24 else "b",
        }
        for i in order
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(_json.dumps(e) for e in events)
    )

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        stream = (
            spark.readStream.format("text")
            .load(str(src))
            .selectExpr(f"from_json(value, '{schema}') AS e")
            .select("e.event_id", "e.user_id", "e.ts", "e.event_type")
        )
        got = _run_append(
            spark, emit_on_change_stream(stream), tmp_path, "eoc_chunk"
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    assert sorted(r.event_id for r in got) == [0, 24]
