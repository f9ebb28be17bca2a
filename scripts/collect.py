"""Collector entry point — the reference's ``collector/start!`` CLI
(reference: src/dwds/livestream/collector.clj:133-140, SURVEY.md §3.2):
ingest JSONL event lines from a log-shipping directory or the live
server's long-poll endpoint, apply the
collector transforms (from_json -> lemma#hidx encode -> type casts ->
length guard), and persist to a date-partitioned parquet fact table
with exactly-once micro-batches (checkpointed; Structured Streaming
upgrades the reference's at-least-once JDBC path).

Composition of tested parts: streaming.pipeline.collector_stream +
sinks.fact_sink.{parquet_writer, jdbc_writer, idempotent,
start_fact_sink}.

Usage:
  python scripts/collect.py JSONL_DIR OUT_PATH \
      [--jdbc-url URL --jdbc-table T] [--once] [--trigger "1 second"] \
      [--http-url http://host/api/jsonl]

With --http-url the stream reads the reference's live long-poll
transport (the http_poll source, sources/http_poll_datasource.py;
reconnect with 3->60 s backoff, collector.clj:39-74 parity), spooling
received lines into JSONL_DIR. The endpoint is connected on the first
micro-batch, so --once over a fresh spool commits nothing.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dwds_livestream_spark.session import build_session  # noqa: E402
from dwds_livestream_spark.sinks.fact_sink import (  # noqa: E402
    jdbc_writer,
    parquet_writer,
    start_fact_sink,
)
from dwds_livestream_spark.streaming.pipeline import collector_stream  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("jsonl_dir", help="directory of JSONL event files to "
                                      "watch (with --http-url: the spool)")
    ap.add_argument("out", help="parquet fact-table path")
    ap.add_argument("--jdbc-url", default=None, help="optional JDBC sink URL")
    ap.add_argument("--jdbc-table", default="wb_page_request")
    ap.add_argument("--batchsize", type=int, default=128,
                    help="JDBC rows/tx (reference: 128)")
    ap.add_argument("--once", action="store_true",
                    help="drain available input and exit (availableNow)")
    ap.add_argument("--trigger", default="1 second")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--http-url", default=None,
                    help="long-poll JSONL endpoint to spool into jsonl_dir")
    args = ap.parse_args()

    # the http_poll source's reader runs in Python workers, which
    # import the package
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    spark = build_session(app_name="dwds-livestream-collect")
    spark.sparkContext.setLogLevel("WARN")

    enriched = collector_stream(spark, args.jsonl_dir, args.http_url)
    if args.jdbc_url:
        writer = jdbc_writer(
            args.jdbc_url,
            args.jdbc_table,
            properties={"batchsize": str(args.batchsize)},
        )
    else:
        writer = parquet_writer(args.out)
    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="dwds-collect-ckpt-")
    trigger = {"availableNow": True} if args.once else {
        "processingTime": args.trigger
    }
    query = start_fact_sink(enriched, writer, checkpoint, trigger=trigger)
    print(f"collecting {args.jsonl_dir} -> "
          f"{args.jdbc_url or args.out}; checkpoint={checkpoint}", flush=True)
    query.awaitTermination()


if __name__ == "__main__":
    main()
