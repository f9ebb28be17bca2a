"""End-to-end streaming pipelines — the reference's two processes
(SURVEY.md §3.1 live server, §3.2 collector) as Structured Streaming
queries. Batch/stream parity is structural for parse/filter (the same
``functions/…`` transforms run on a streaming frame); the live path's
enrichment is a per-snapshot lemma lookup instead of the batch path's
broadcast join, tied to it by a byte-parity test.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.access_log import access_log_to_events
from ..functions.encode import JSON_WIRE_OPTIONS, from_json_events
from ..sinks.sampling import sample_epm
from ..sources.access_log_source import MAX_FILES_PER_TRIGGER, stream_access_log
from ..sources.http_poll_datasource import HttpPollDataSource


def start_live_server(
    spark: SparkSession,
    log_path: str,
    dimension_loader: Callable[[], Mapping[str, str]],
    checkpoint: str,
    publish: Callable[[list[str], int], None],
    config: EngineConfig = DEFAULT_CONFIG,
    epm: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Live fan-out (K1-K3): every micro-batch's JSON lines are handed
    to ``publish(lines, batch_id)`` — the broadcast hub (SSE/JSONL
    serving, Kafka producer, …). ``log_path`` is the live access log
    (tailed from its end) or a log-shipping directory; see
    :func:`~..sources.access_log_source.stream_access_log`.

    Enrichment is the reference's per-event hash-map lookup
    (server.clj:12-14): ``dimension_loader`` returns a
    :func:`~..sources.dimension.dimension_lookup` (``lemma -> metadata
    JSON object``, built once per snapshot) and is called once per
    micro-batch, so a refreshed snapshot (W2, ``DimensionSnapshot.current``)
    is picked up atomically by the next batch — the atom-swap semantic
    (wbdb.clj:39-49). The batch encodes only ``{timestamp, lemma}`` and
    each line is spliced with its lemma's metadata on the driver: no
    join and no broadcast per batch, so the per-batch cost does not grow
    with the dimension. ``operators.enrich.enrich`` stays the batch and
    replay form; the two are tied byte-for-byte by
    ``tests/test_streaming.py::test_live_pipeline_end_to_end``.

    ``epm`` applies the reference's per-subscriber sampling (W4)
    engine-side when the hub itself is the subscriber.

    ``max_publish_rows`` caps what one micro-batch may ``collect()``
    into the driver for fan-out (VERDICT r1 #5): the serving hub is a
    driver-local surface, so an unthrottled subscriber must not couple
    driver memory to batch size. Overflow rows are dropped newest-last
    (the hub's own drop-oldest conflation applies downstream); the cap
    is generous relative to any sane epm.
    """
    lines = stream_access_log(spark, log_path)
    events = access_log_to_events(lines)
    max_publish_rows = config.max_publish_rows

    def process(batch: DataFrame, batch_id: int) -> None:
        lookup = dimension_loader()
        if epm is not None:
            batch = sample_epm(batch, epm, ts_col="timestamp")
        wire = batch.select(
            F.to_json(F.struct(*batch.columns), JSON_WIRE_OPTIONS).alias("value"),
            "lemma",
        )
        # The cap's cost, measured on Spark 4.1: none that shows. The
        # Janino compile count (CodegenMetrics) stays flat after the
        # first batch over 24 batches, so the limit's generated code is
        # compiled once, not per batch; ``limit().collect()`` and a plain
        # ``collect()`` take the same per-batch time within noise.
        # Rejected alternatives: ``coalesce(1).limit()`` makes the parse
        # one task (a 160k-line backlog batch went from 3.4-4.0 s to
        # 5.5-6.4 s wall); ``tail()`` runs 3 jobs; ``toLocalIterator()``
        # runs one job per partition and took about 2x the time.
        rows = wire.limit(max_publish_rows + 1).collect()
        if len(rows) > max_publish_rows:
            import logging  # noqa: PLC0415

            logging.getLogger(__name__).warning(
                "fan-out batch %d exceeded max_publish_rows=%d; truncating",
                batch_id,
                max_publish_rows,
            )
            rows = rows[:max_publish_rows]
        out = []
        for ev, lemma in rows:
            frag = lookup.get(lemma)
            # a miss or all-null metadata adds no keys (merge semantics)
            if frag is not None and frag != "{}":
                ev = ev[:-1] + "," + frag[1:]
            out.append(ev)
        publish(out, batch_id)

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"processingTime": config.trigger_interval}))
        .start()
    )


def collector_stream(
    spark: SparkSession,
    jsonl_dir: str,
    http_url: str | None = None,
) -> DataFrame:
    """§3.2 — S2 ingestion: JSONL event lines -> typed enriched events
    (P11 + P9 casts).

    With ``http_url`` the reference's live transport is read: the
    ``http_poll`` source long-polls the server's JSONL endpoint
    (reconnect with 3->60 s backoff, collector.clj:39-74) and spools
    the received lines into ``jsonl_dir``, whose byte offsets the
    checkpoint records. The puller connects on the first micro-batch,
    so an ``availableNow`` run over a fresh spool reads nothing.
    Without it ``jsonl_dir`` is a log-shipping directory of JSONL
    files."""
    if http_url:
        spark.dataSource.register(HttpPollDataSource)
        raw = (
            spark.readStream.format("http_poll")
            .option("url", http_url)
            .option("spoolDir", jsonl_dir)
            .load()
        )
    else:
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .load(jsonl_dir)
        )
    return from_json_events(raw, observe=True)
