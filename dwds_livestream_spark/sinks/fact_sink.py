"""K4/K5 — the collector's persistence sink.

Reference: batches of 128 events per transaction into Postgres
``wb_page_request`` with retry/backoff (collector.clj:76-80, 97-124);
DDL + ts/lemma/source indexes (collector/001-…up.sql:1-12).

Spark-first: ``foreachBatch`` over a checkpointed streaming query.
That is at-least-once per batch, like the reference (SURVEY.md §1.4):
a crash between a writer's append and the checkpoint commit replays
the batch, and a plain append writes its rows again. Two writers:

- parquet_writer: the scale path. Partitioned by ``date(ts)`` — the
  reference's B-tree indexes map to partition pruning (ts) + parquet
  min/max stats (lemma, article_source) at 100 TB.
- jdbc_writer: literal parity path (``df.write.jdbc`` with
  ``batchsize=128``); needs a JDBC driver jar on the classpath.

Retry-with-backoff on the sink (collector.clj:100-105) is subsumed by
Spark task retries + streaming restart-from-checkpoint; a transient
in-batch retry wrapper is still provided for JDBC parity.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG
from ..functions.encode import events_to_sink_rows


def parquet_writer(path: str) -> Callable[[DataFrame, int], None]:
    def write(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("date", batch["ts"].cast("date"))
            # cluster rows inside each task by (date, lemma) so every
            # parquet file covers a tight lemma range — the min/max
            # stats then skip files on lemma predicates, which is what
            # the reference's lemma B-tree index did (…up.sql:11)
            .sortWithinPartitions("date", "lemma")
            .write.mode("append")
            .partitionBy("date")
            .parquet(path)
        )

    return write


def jdbc_writer(
    url: str,
    table: str = "wb_page_request",
    properties: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    props = dict(properties or {})
    props.setdefault("batchsize", str(DEFAULT_CONFIG.sink_batch_size))
    if table == "wb_page_request":
        # reference DDL parity (collector/001-…up.sql:1-8): VARCHAR
        # columns, not the dialect's unbounded-string default (Derby/
        # Oracle map StringType to CLOB, which breaks predicates)
        props.setdefault(
            "createTableColumnTypes",
            "lemma VARCHAR(128), article_type VARCHAR(64), "
            "article_source VARCHAR(32)",
        )

    def write(batch: DataFrame, batch_id: int) -> None:
        delay = DEFAULT_CONFIG.sink_retry_base_ms / 1000.0
        cap = DEFAULT_CONFIG.sink_retry_cap_ms / 1000.0
        while True:
            try:
                batch.write.mode("append").jdbc(url, table, properties=props)
                return
            except Exception:  # noqa: BLE001 — transient JDBC parity retry
                time.sleep(delay)
                if delay >= cap:
                    raise
                delay = min(cap, delay * 2)

    return write


def idempotent(
    writer: Callable[[DataFrame, int], None], ledger_path: str
) -> Callable[[DataFrame, int], None]:
    """Replay guard for writers whose target cannot deduplicate (plain
    parquet append, JDBC without a key): a tiny batch-id ledger records
    each completed batch, and a replayed batch whose marker exists
    (restart after the marker but before the checkpoint commit) is
    skipped instead of re-appended. Ledger writes are one marker file
    per batch id, so the check is an O(1) driver-side existence test,
    not a data scan. The marker is written only after the data, so a
    crash between the append and the marker still re-appends the batch:
    the guarantee stays at-least-once, like the reference's retried
    INSERT (collector.clj:100-105, SURVEY.md §1.4).
    """
    import os

    def write(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_path, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return
        writer(batch, batch_id)
        os.makedirs(ledger_path, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("")

    return write


def start_fact_sink(
    enriched: DataFrame,
    writer: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Collector pipeline tail: enriched events -> sink rows (P8/P9/F6)
    -> checkpointed micro-batched writes (at-least-once per batch)."""
    rows = events_to_sink_rows(enriched)
    return (
        rows.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"processingTime": DEFAULT_CONFIG.trigger_interval}))
        .start()
    )
