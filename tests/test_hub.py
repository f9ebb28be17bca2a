"""BroadcastHub fan-out semantics (K1/W3/W4): every subscriber sees the
stream, slow subscribers conflate to newest, epm gates delivery."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

from pyspark.sql import Row

from dwds_livestream_spark.schemas import DIMENSION
from dwds_livestream_spark.sources.dimension import dimension_lookup
from dwds_livestream_spark.streaming import hub as hub_module
from dwds_livestream_spark.streaming.hub import BroadcastHub
from dwds_livestream_spark.streaming.pipeline import start_live_server

UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"


def test_broadcast_and_conflation():
    hub = BroadcastHub()
    fast = hub.subscribe("fast", buffer_size=1000)
    slow = hub.subscribe("slow", buffer_size=1)  # sliding-buffer 1

    hub.publish([f"e{i}" for i in range(50)], 0)
    hub.publish([f"e{i}" for i in range(50, 100)], 1)

    assert fast.poll() == [f"e{i}" for i in range(100)]  # mult: sees all
    assert slow.poll() == ["e99"]  # drop-oldest: newest survives
    assert slow.dropped == 99
    assert slow.poll() == []  # drained

    hub.unsubscribe("slow")
    hub.publish(["e100"], 2)
    assert fast.poll() == ["e100"]
    assert slow.poll() == []  # no longer tapped


def test_epm_leaky_bucket_gates_delivery():
    hub = BroadcastHub()
    sub = hub.subscribe("viz", buffer_size=100, epm=45)  # viz default
    hub.publish([f"e{i}" for i in range(100)], 0)
    # the bucket holds one token: one event now, the next 60/epm s later
    got = sub.poll()
    assert len(got) == 1
    assert sub.poll() == []  # bucket empty until refill

    with pytest.raises(ValueError):
        hub.subscribe("bad", epm=0)


@pytest.mark.parametrize(
    "epm, step",
    # a step that divides 60/epm, and the viz default at serving.py's
    # 0.05 s delivery poll, which does not: a token that becomes due
    # between polls waits for the next one (measured 44.4 per minute)
    [(60, 0.25), (45, 0.05)],
)
def test_epm_never_exceeds_epm_per_minute(monkeypatch, epm, step):
    """10 simulated minutes of a backlogged subscriber: no 60 s window
    delivers more than epm events, and every full window delivers at
    least epm - 1 (a bucket that starts full, or holds more than one
    token, admits a burst on top of the steady rate)."""
    now = [0.0]
    monkeypatch.setattr(hub_module, "time", SimpleNamespace(monotonic=lambda: now[0]))
    hub = BroadcastHub()
    sub = hub.subscribe("viz", buffer_size=10_000, epm=epm)
    delivered: list[float] = []
    publish_every = round(2.0 / step)  # a 5-event micro-batch every 2 s
    for k in range(round(600.0 / step)):
        now[0] = k * step  # from the tick count: no summed float error
        if k % publish_every == 0:
            hub.publish([f"e{k + j}" for j in range(5)], k)
        delivered += [now[0]] * len(sub.poll())

    per_window = [sum(1 for u in delivered if t <= u < t + 60) for t in delivered]
    assert max(per_window) <= epm
    full = [n for t, n in zip(delivered, per_window) if t + 60 <= 600.0]
    assert full and min(full) >= epm - 1


def test_hub_behind_live_pipeline(spark, tmp_path):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    lines = [
        f'10.0.0.1 - - [08/Dec/2024:23:00:{s:02d} +0000] '
        f'"GET /wb/w{s} HTTP/1.1" 200 100 "-" "{UA}"'
        for s in range(20)
    ]
    (logdir / "a.log").write_text("\n".join(lines))
    dim = spark.createDataFrame(
        [Row(lemma="w1", hidx=None, lemma_type="AR_G", form_type="Hauptform",
             article_type="Vollartikel", status="x", source="WDG", date=None)],
        DIMENSION,
    ).drop("status")
    lookup = dimension_lookup(dim)

    hub = BroadcastHub()
    all_sub = hub.subscribe("all", buffer_size=10_000)
    conflated = hub.subscribe("tiny", buffer_size=1)

    q = start_live_server(
        spark, str(logdir),
        dimension_loader=lambda: lookup,
        checkpoint=str(tmp_path / "ckpt"),
        publish=hub.publish,
        trigger={"availableNow": True},
    )
    q.awaitTermination(60)

    got = [json.loads(x)["lemma"] for x in all_sub.poll()]
    assert sorted(got) == sorted(f"w{s}" for s in range(20))
    assert len(conflated.poll()) == 1


def test_publish_rows_capped_per_batch(spark, tmp_path):
    """VERDICT r1 #5: an oversized micro-batch must not collect()
    unbounded rows into the driver — the fan-out truncates at
    config.max_publish_rows."""
    from dwds_livestream_spark.config import EngineConfig

    logdir = tmp_path / "logs"
    logdir.mkdir()
    lines = [
        f'10.0.0.1 - - [08/Dec/2024:23:00:{s % 60:02d} +0000] '
        f'"GET /wb/w{s} HTTP/1.1" 200 100 "-" "{UA}"'
        for s in range(50)
    ]
    (logdir / "a.log").write_text("\n".join(lines))
    dim = spark.createDataFrame(
        [Row(lemma="w1", hidx=None, lemma_type="AR_G", form_type="Hauptform",
             article_type="Vollartikel", status="x", source="WDG", date=None)],
        DIMENSION,
    ).drop("status")
    lookup = dimension_lookup(dim)

    published: list[list[str]] = []
    q = start_live_server(
        spark, str(logdir),
        dimension_loader=lambda: lookup,
        checkpoint=str(tmp_path / "ckpt"),
        publish=lambda rows, bid: published.append(rows),
        trigger={"availableNow": True},
        config=EngineConfig(max_publish_rows=7),
    )
    q.awaitTermination(60)
    assert published, "no batch published"
    assert all(len(rows) <= 7 for rows in published)
    assert sum(len(rows) for rows in published) >= 7  # cap actually hit
