"""Batch replay entry point — the reference's ``log->edn`` CLI
(reference: src/dwds/livestream/server.clj:37-48, SURVEY.md §3.3):
read a raw Apache access log, run the full parse/filter/enrich
pipeline as a *batch* job, print enriched events — EDN maps (the
reference's literal output format) or JSON lines.

The dimension loader returns the raw ``lemma ⋈ article`` rows; this job
applies the argmin dedup (operators/dedup_dim.py) before its broadcast
join. The same parse/filter transforms run in the streaming pipeline
(streaming/pipeline.py); its enrichment is a per-snapshot lemma lookup
that folds the raw rows to the same argmin on the driver, and its JSON
lines are tested byte-identical to this job's (tests/test_streaming.py).

Usage:
  python scripts/replay_log.py ACCESS_LOG [DIMENSION_PARQUET]
      [--limit N] [--format edn|json]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dwds_livestream_spark.functions.access_log import access_log_to_events  # noqa: E402
from dwds_livestream_spark.functions.encode import (  # noqa: E402
    to_edn_events,
    to_json_events,
)
from dwds_livestream_spark.operators.dedup_dim import dedup_dimension  # noqa: E402
from dwds_livestream_spark.operators.enrich import enrich  # noqa: E402
from dwds_livestream_spark.session import build_session  # noqa: E402
from dwds_livestream_spark.sources.dimension import load_dimension_parquet  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("access_log")
    ap.add_argument("dimension", nargs="?", default=None)
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--format", choices=("edn", "json"), default="edn")
    args = ap.parse_args()

    spark = build_session(app_name="dwds-livestream-replay")
    spark.sparkContext.setLogLevel("ERROR")

    events = access_log_to_events(spark.read.text(args.access_log))
    if args.dimension:
        dim = dedup_dimension(load_dimension_parquet(spark, args.dimension))
        events = enrich(events, dim)
    if args.limit:
        events = events.limit(args.limit)
    encode = to_edn_events if args.format == "edn" else to_json_events
    for line in encode(events).toLocalIterator():
        print(line["value"])


if __name__ == "__main__":
    main()
