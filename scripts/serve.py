"""Live-server entry point — the reference's ``server/start!`` CLI
(reference: src/dwds/livestream/server.clj:25-35, SURVEY.md §3.1):
tail the live access.log (from its end, reopening on rotation) or watch
a log-shipping directory, run the streaming parse/filter/enrich
pipeline, and serve the enriched JSON event stream to HTTP subscribers
at ``/api/events`` (SSE) and ``/api/jsonl``, with optional per-client
``?epm=N`` sampling.

Composition of tested parts: streaming.pipeline.start_live_server
(parse -> JSON wire -> enrich by a lemma lookup that
sources.dimension.DimensionSnapshot folds from the raw dimension rows
once per snapshot and swaps on refresh) + streaming.hub.BroadcastHub (per-client drop-oldest
conflation) + sinks.serving.LivestreamHTTPServer.

SIGINT/SIGTERM stop the query, the HTTP server and the session, exit 0.

Usage:
  python scripts/serve.py ACCESS_LOG_OR_DIR DIMENSION_PARQUET \
      [--port 8080] [--refresh-hours 12] [--trigger "1 second"]
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import tempfile
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dwds_livestream_spark.session import build_session  # noqa: E402
from dwds_livestream_spark.sinks.serving import LivestreamHTTPServer  # noqa: E402
from dwds_livestream_spark.sources.dimension import (  # noqa: E402
    DimensionSnapshot,
    load_dimension_parquet,
)
from dwds_livestream_spark.streaming.hub import BroadcastHub  # noqa: E402
from dwds_livestream_spark.streaming.pipeline import start_live_server  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("log", help="live access.log to tail, or a directory "
                                "of access-log files to watch")
    ap.add_argument("dimension", help="dimension parquet (lemma metadata)")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument(
        "--refresh-hours",
        type=float,
        default=12.0,
        help="dimension re-snapshot period (reference: 12 h)",
    )
    ap.add_argument("--trigger", default="1 second")
    ap.add_argument("--checkpoint", default=None)
    args = ap.parse_args()

    # the tail source's reader runs in Python workers, which import the
    # package
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    spark = build_session(app_name="dwds-livestream-serve")
    spark.sparkContext.setLogLevel("WARN")

    snapshot = DimensionSnapshot(
        lambda: load_dimension_parquet(spark, args.dimension),
        refresh_seconds=args.refresh_hours * 3600,
    )
    snapshot.start()

    hub = BroadcastHub()
    server = LivestreamHTTPServer(hub, host=args.host, port=args.port).start()
    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="dwds-serve-ckpt-")
    query = start_live_server(
        spark,
        args.log,
        snapshot.current,
        checkpoint=checkpoint,
        publish=hub.publish,
        trigger={"processingTime": args.trigger},
    )
    print(
        f"serving http://{args.host}:{server.port}/api/events and /api/jsonl "
        f"(epm=N to sample); checkpoint={checkpoint}",
        flush=True,
    )

    # The handler only flags the stop: it runs on the main thread, which
    # may be inside a py4j call (awaitTermination), and a py4j call from
    # the handler would be a reentrant one.
    stopping = threading.Event()
    signal.signal(signal.SIGINT, lambda *_: stopping.set())
    signal.signal(signal.SIGTERM, lambda *_: stopping.set())
    try:
        while not stopping.is_set() and not query.awaitTermination(1):
            pass
    finally:
        query.stop()
        server.stop()
        snapshot.stop()
        spark.stop()


if __name__ == "__main__":
    main()
