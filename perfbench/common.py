"""Shared measurement plumbing: session start, spans, the progress
listener, an SSE client, and memory/GC readouts."""

from __future__ import annotations

import http.client
import json
import math
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def quantile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q * 100)) if len(values) else 0.0


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    return math.exp(statistics.fmean(math.log(v) for v in vals)) if vals else 0.0


def start_session(work: str):
    """The engine's own session factory, sized to this host: local[N]
    with N = min(4, nproc) and an explicit driver heap, both set through
    the factory's environment overrides. Spark scratch space and the JVM
    temp dir stay inside the work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers (pandas UDFs in the batch plans) import the package
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    from dwds_livestream_spark.session import build_session

    # the session factory's locale/timezone options, plus a pre-touched
    # fixed-size heap: first-touch page faults of a growing heap would
    # otherwise land in whichever measured phase grows it
    java_opts = ("-Duser.language=en -Duser.country=US -Duser.timezone=UTC "
                 f"-Djava.io.tmpdir={work} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class CpuClock:
    """CPU seconds (user + system, all threads) used so far by the driver
    JVM and by this Python process, which holds the engine's Python side
    (foreachBatch callbacks, the hub, the HTTP server). On a shared host
    wall time also counts the time the host withholds the CPU from this
    machine; CPU time does not."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def read(self) -> tuple[float, float]:
        """(JVM seconds, Python seconds)."""
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / self.tick, time.process_time()


def describe_session(spark) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
    }


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return int(sum(b.getCollectionTime() for b in beans))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver: the Python process plus the
    driver JVM (VmHWM), in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0


class Tracer:
    """In-memory spans (name, start, seconds, attrs), a no-op unless
    enabled, so untraced runs pay one branch per call site; plus the
    run's phase timeline, always kept."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[tuple] = []
        self.timeline: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.timeline[phase] = round(time.perf_counter() - self.t0, 3)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter() - t0, attrs))

    def record(self, name: str, start: float, seconds: float, **attrs) -> None:
        """A span measured elsewhere (e.g. publish -> SSE receipt)."""
        if self.enabled:
            self.spans.append((name, start, seconds, attrs))

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s[2] for s in self.spans[since:] if s[0] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"name": n, "t": t, "s": d, **a} for n, t, d, a in self.spans], fh)


def make_phase_listener():
    """A StreamingQueryListener keeping every progress event as a dict
    (durationMs phases, numInputRows, observedMetrics)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class PhaseListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, query_id: str, batch_id: int, timeout: float = 10.0) -> list[dict]:
            """Progress events of one query, once batch ``batch_id`` has
            been delivered (listener callbacks are asynchronous)."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                mine = [p for p in self.progress if p["id"] == query_id]
                if any(p["batchId"] >= batch_id for p in mine):
                    return mine
                time.sleep(0.05)
            return [p for p in self.progress if p["id"] == query_id]

    return PhaseListener()


def phase_stats(progress: list[dict]) -> dict:
    """Per-layer figures from the data-carrying micro-batches."""
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]

    def p(phase, q):
        return quantile([r["durationMs"].get(phase, 0) for r in rows], q)

    return {
        "streaming.batches": float(len(rows)),
        "streaming.trigger_ms_p50": p("triggerExecution", 0.5),
        "streaming.trigger_ms_p90": p("triggerExecution", 0.9),
        "streaming.query_planning_ms_p50": p("queryPlanning", 0.5),
        "streaming.add_batch_ms_p50": p("addBatch", 0.5),
        "streaming.wal_commit_ms_p50": p("walCommit", 0.5),
        "streaming.commit_offsets_ms_p50": p("commitOffsets", 0.5),
        "streaming.input_rows_per_batch_mean": (
            statistics.fmean(r["numInputRows"] for r in rows) if rows else 0.0),
        "sources.latest_offset_ms_p50": p("latestOffset", 0.5),
    }


class SSEClient(threading.Thread):
    """One subscriber of ``/api/events``: records (receipt time, event)
    for every SSE frame until the server closes the stream."""

    def __init__(self, port: int, query: str = ""):
        super().__init__(daemon=True)
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.conn.request("GET", "/api/events" + query)
        self.resp = self.conn.getresponse()
        if self.resp.status != 200:
            raise RuntimeError(f"/api/events{query}: HTTP {self.resp.status}")
        self.received: list[tuple[float, str]] = []

    def run(self) -> None:
        try:
            for raw in self.resp:
                if raw.startswith(b"data: "):
                    self.received.append((time.time(), raw[6:].rstrip(b"\n").decode("utf-8")))
        except (OSError, http.client.HTTPException):
            pass
        finally:
            self.conn.close()
