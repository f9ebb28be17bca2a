"""The live path, driven through the same composition as scripts/serve.py:
DimensionSnapshot + start_live_server + BroadcastHub +
LivestreamHTTPServer.

``live_tail``: groups of access-log files are added to the watched
directory in a closed loop while two SSE clients listen; the figure is
the CPU the engine spends per 1,000 raw lines.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from datetime import datetime

from common import (
    CpuClock, SSEClient, jvm_gc_ms, make_phase_listener,
    peak_rss_mb, phase_stats, quantile,
)
from gen import LINE_MIX, AccessLog, Dimension, file_second, write_lines

from dwds_livestream_spark.config import DEFAULT_CONFIG
from dwds_livestream_spark.sinks.serving import LivestreamHTTPServer
from dwds_livestream_spark.sources.dimension import (
    DimensionSnapshot, load_dimension_parquet,
)
from dwds_livestream_spark.streaming.hub import BroadcastHub
from dwds_livestream_spark.streaming.pipeline import start_live_server

# a 100k-lemma dimension: the production-size 1M one costs ~20 s of cold
# snapshot build per set-up, more than a run's share of the budget
TAIL_DIM = 100_000
# one group is one second of traffic at 10x the reference's ~100 req/s,
# as 4 files of 250 lines
LINES_PER_GROUP = 1_000
FILES_PER_GROUP = 4


class LiveRig:
    """One live-server composition plus the benchmark's recorders:
    publish times per batch, loader call times and hub subscriptions."""

    def __init__(self, spark, tracer, dim_path: str):
        self.spark = spark
        self.tracer = tracer
        self.dim_path = dim_path
        self.published: list[tuple[int, float, list[str]]] = []
        self.loader_s: list[float] = []
        self.publish_s: list[float] = []
        self.truncated = 0
        self.subs = []
        self.query = None

    def _loader(self):
        with self.tracer.span("dimension.loader"):
            return load_dimension_parquet(self.spark, self.dim_path)

    def _current(self):
        t0 = time.perf_counter()
        df = self.snapshot.current()
        self.loader_s.append(time.perf_counter() - t0)
        return df

    def _publish(self, lines: list[str], batch_id: int) -> None:
        t = time.time()
        t0 = time.perf_counter()
        with self.tracer.span("publish", batch=batch_id, rows=len(lines)):
            if len(lines) >= DEFAULT_CONFIG.max_publish_rows:
                self.truncated += 1
            self.published.append((batch_id, t, lines))
            with self.tracer.span("hub.publish", batch=batch_id):
                self.hub.publish(lines, batch_id)
        self.publish_s.append(time.perf_counter() - t0)

    def _subscribe(self, name, buffer_size=1, epm=None):
        sub = BroadcastHub.subscribe(self.hub, name, buffer_size=buffer_size, epm=epm)
        self.subs.append(sub)
        return sub

    def build(self) -> float:
        """Snapshot (load + argmin dedup + cache), HTTP server; returns
        the seconds it took."""
        t0 = time.perf_counter()
        with self.tracer.span("dimension.refresh"):
            self.snapshot = DimensionSnapshot(self._loader)
        self.refresh_s = time.perf_counter() - t0
        self.hub = BroadcastHub()
        self.hub.subscribe = self._subscribe
        self.server = LivestreamHTTPServer(self.hub).start()
        return time.perf_counter() - t0

    def start(self, log_dir: str, checkpoint: str, trigger: dict) -> float:
        t0 = time.perf_counter()
        self.query = start_live_server(
            self.spark, log_dir, self._current, checkpoint=checkpoint,
            publish=self._publish, trigger=trigger,
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.server.stop()
        self.snapshot.stop()

    def events(self) -> Counter:
        return Counter(line for _, _, lines in self.published for line in lines)

    def wait_progress(self, timeout: float) -> None:
        """Until the progress of the last publishing batch is posted (a
        batch publishes inside addBatch, before it commits)."""
        last = max(bid for bid, _, _ in self.published)
        deadline = time.time() + timeout
        while time.time() < deadline:
            p = self.query.lastProgress
            if p is not None and p["batchId"] >= last:
                return
            time.sleep(0.05)

    def wait_events(self, n: int, timeout: float) -> bool:
        """Until ``n`` events have been published; False on timeout or
        when the query has failed."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if sum(len(x[2]) for x in self.published) >= n:
                return True
            if self.query is not None and self.query.exception() is not None:
                return False
            time.sleep(0.05)
        return False


def _setup(spark, tracer, dim_path: str, idle_dir: str, work: str):
    """Snapshot (load + argmin dedup + cache), HTTP server and a query
    started on an idle directory, which is then stopped: the measured
    query reads its own directory. Returns the rig and the wall seconds."""
    rig = LiveRig(spark, tracer, dim_path)
    s = rig.build()
    s += rig.start(idle_dir, os.path.join(work, "ckpt-setup"),
                   {"processingTime": DEFAULT_CONFIG.trigger_interval})
    rig.query.stop()
    rig.query = None
    return rig, s


def _check(rig: LiveRig, expected: Counter) -> tuple[int, dict]:
    got = rig.events()
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    return missing + extra, {"events_expected": sum(expected.values()),
                             "events_published": sum(got.values()),
                             "missing": missing, "extra": extra,
                             "truncated_batches": rig.truncated}


def _wire_layers(rig: LiveRig, lines_in: int) -> dict:
    events = [line for _, _, lines in rig.published for line in lines]
    hits = sum(1 for e in events if '"lemma_type":' in e)
    return {
        "access_log.survivor_ratio": len(events) / max(1, lines_in),
        "enrich.hit_ratio": hits / max(1, len(events)),
        "encode.wire_bytes_per_event": (
            sum(len(e.encode("utf-8")) for e in events) / max(1, len(events))),
        "hub.publish_ms_p50": 1000 * quantile(rig.tracer.durations("hub.publish"), 0.5),
        "hub.events_published": float(len(events)),
        "dimension.refresh_s": rig.refresh_s,
        "dimension.loader_ms_p50": 1000 * quantile(rig.loader_s, 0.5),
    }


def _compute_ms(rig: LiveRig, progress: list[dict]) -> float:
    """addBatch minus the loader and publish calls inside it."""
    add = [p["durationMs"].get("addBatch", 0) for p in progress if p.get("numInputRows", 0) > 0]
    n = min(len(add), len(rig.loader_s), len(rig.publish_s))
    # the set-up repetitions never ran a batch, so loader/publish calls
    # line up with the data-carrying batches in order
    return quantile([add[-n + i] - 1000 * (rig.loader_s[-n + i] + rig.publish_s[-n + i])
                     for i in range(n)], 0.5) if n else 0.0


def live_tail(session, work: str, seed: int, seconds: int, tracer) -> dict:
    log = AccessLog(seed, TAIL_DIM)
    dim = Dimension(seed, TAIL_DIM)
    dim_path = os.path.join(work, "dim.parquet")
    dim.write_parquet(dim_path)
    log_dir = os.path.join(work, "log")
    idle = os.path.join(work, "idle")
    os.makedirs(log_dir)
    os.makedirs(idle)
    # the whole load, generated before the engine runs: ``groups`` groups
    # of FILES_PER_GROUP files, the first of them the warm-up
    groups = 1 + seconds
    lpf = LINES_PER_GROUP // FILES_PER_GROUP
    staged, expected, mix = [], Counter(), Counter()
    events_by_group = [0] * groups
    for k in range(groups * FILES_PER_GROUP):
        lines, m, kept = log.file_lines(k, lpf)
        staged.append(lines)
        mix += m
        events = log.expected_events(k, kept, dim)
        expected += events
        events_by_group[k // FILES_PER_GROUP] += sum(events.values())
    spark, session_s = session()
    listener = make_phase_listener() if tracer.enabled else None
    if listener:
        spark.streams.addListener(listener)

    tracer.mark("inputs")
    clock = CpuClock(spark)
    py0 = time.process_time()
    rig, setup_wall = _setup(spark, tracer, dim_path, idle, work)
    jvm_ready, py_ready = clock.read()
    # CPU to ready: the driver JVM from its start, plus this process in
    # the set-up calls (input generation is the benchmark's, not set-up)
    setup_s = jvm_ready + py_ready - py0
    tracer.mark("setup")
    gc0 = jvm_gc_ms(spark)
    rig.start(log_dir, os.path.join(work, "ckpt"),
              {"processingTime": DEFAULT_CONFIG.trigger_interval})
    clients = [SSEClient(rig.server.port), SSEClient(rig.server.port, "?epm=45")]
    for c in clients:
        c.start()

    # closed loop: a group is written once the previous one has been
    # published and committed, so every group is one micro-batch however
    # fast the host runs, and a run always does the same work
    cpu0 = clock.read()
    written: dict[int, float] = {}
    n_expected = 0
    for g in range(groups):
        for k in range(g * FILES_PER_GROUP, (g + 1) * FILES_PER_GROUP):
            write_lines(log_dir, k, staged[k])
            written[k] = time.time()
        n_expected += events_by_group[g]
        if not rig.wait_events(n_expected, 60):
            break  # lost events or a failed query: counted by the check
        rig.wait_progress(60)
    cpu1 = clock.read()
    tracer.mark("drained")
    progress = (listener.wait_for(str(rig.query.id), rig.query.lastProgress["batchId"])
                if listener and rig.query.lastProgress else [])
    gc_ms = jvm_gc_ms(spark) - gc0
    rig.stop()
    for c in clients:
        c.join(timeout=10)
    if listener:
        spark.streams.removeListener(listener)
    tracer.mark("stopped")

    failed, check = _check(rig, expected)
    pub_at: dict[str, float] = {}
    batch_files: dict[int, set] = {}
    file_batch: dict[int, int] = {}
    for bid, t, lines in rig.published:
        for line in lines:
            pub_at[line] = t
            k = file_second(json.loads(line)["timestamp"])
            batch_files.setdefault(bid, set()).add(k)
            file_batch[k] = bid
    batch_pub = {bid: t for bid, t, _ in rig.published}
    # per group after the warm-up: its write -> the publish call of its batch
    lat = [batch_pub[file_batch[k]] - written[k] for k in range(FILES_PER_GROUP, len(staged))
           if k % FILES_PER_GROUP == 0 and k in file_batch]
    measured = {file_batch[k] for k in written if k >= FILES_PER_GROUP and k in file_batch}
    run_s = max(batch_pub.values()) - written[0]

    unthrottled, sampled = clients
    deliver = [t - pub_at[line] for t, line in unthrottled.received if line in pub_at]
    for name, c in (("unthrottled", unthrottled), ("epm45", sampled)):
        for t, line in c.received:
            if line in pub_at:
                tracer.record("sse.receive", pub_at[line], t - pub_at[line], client=name)
    epm_times = sorted(t for t, _ in sampled.received)
    epm_max = max((sum(1 for u in epm_times if t <= u < t + 60) for t in epm_times), default=0)
    epm_ok = epm_max <= 45
    failed += 0 if epm_ok else 1
    offered = sum(len(x[2]) for x in rig.published) * max(1, len(rig.subs))

    # CPU from the first write to the last commit, warm-up group included,
    # per 1,000 raw lines
    units = LINES_PER_GROUP * groups / 1000
    jvm_s, py_s = (b - a for a, b in zip(cpu0, cpu1))
    e2e = {"setup_s": setup_s, "cpu_ms_per_unit": 1000 * (jvm_s + py_s) / units}
    wall = {
        "setup_s": session_s + setup_wall,
        "group_latency_p50_s": quantile(lat, 0.5),
        "group_latency_max_s": max(lat, default=0.0),
        "lines_per_s": LINES_PER_GROUP * groups / run_s,
    }
    layers = _wire_layers(rig, LINES_PER_GROUP * groups)
    layers.update({"cpu.jvm_ms_per_unit": 1000 * jvm_s / units,
                   "cpu.python_ms_per_unit": 1000 * py_s / units})
    batch_start = {p["batchId"]: p for p in progress}
    waits = []
    for k, t_written in written.items():
        p = batch_start.get(file_batch.get(k))
        if p and k >= FILES_PER_GROUP:
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            waits.append(max(0.0, t + p["durationMs"].get("latestOffset", 0) / 1000 - t_written))
    progress = [p for p in progress if p["batchId"] in measured]
    layers.update(phase_stats(progress))
    layers.update({
        "sources.discovery_wait_p50_s": quantile(waits, 0.5),
        "sources.discovery_wait_p90_s": quantile(waits, 0.9),
        "sources.files_per_batch_mean": (
            sum(len(batch_files[b]) for b in measured) / max(1, len(measured))),
        "streaming.compute_ms_p50": _compute_ms(rig, progress),
        # rows the snapshot loads and deduplicates (homographs included)
        "dimension.rows": float(dim.rows),
        "hub.conflated_ratio": sum(s.dropped for s in rig.subs) / max(1, offered),
        "serving.deliver_ms_p50": 1000 * quantile(deliver, 0.5),
        "serving.events_delivered": float(sum(len(c.received) for c in clients)),
        "serving.epm_delivered_per_min": len(epm_times) * 60 / run_s,
        "session.gc_ms": float(gc_ms),
        "session.peak_rss_mb": peak_rss_mb(spark),
    })
    check.update({"epm45_max_per_min": epm_max, "epm45_ok": epm_ok,
                  "groups": groups, "batches": len(rig.published)})
    return {
        "e2e": e2e, "wall": wall, "layers": layers,
        "attempted": LINES_PER_GROUP * groups,
        "failed": failed, "check": check,
        "load": {"lines_per_group": LINES_PER_GROUP, "files_per_group": FILES_PER_GROUP,
                 "groups": groups, "dimension_lemmas": TAIL_DIM,
                 "dimension_rows": dim.rows, "mix": _shares(mix)},
    }


def _shares(mix: Counter) -> dict:
    n = sum(mix.values())
    return {c: round(mix.get(c, 0) / n, 4) for c in LINE_MIX}
