"""Wire-format / sink-row encodings (SURVEY.md §2.3 P8-P12).

Reference: the collector re-encodes enriched events for the Postgres
fact table (src/dwds/livestream/collector.clj:82-88) — homograph lemmas
become ``lemma#<hidx>``, ISO strings become typed timestamp/date, and
over-long lemmas are dropped (VARCHAR(128) cap). The live stream wire
format is one JSON object per event (src/dwds/livestream/server.clj:19-20).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..schemas import ENRICHED_EVENT_WIRE


def encode_lemma_hidx(lemma: Column, hidx: Column) -> Column:
    """P8 — ``lemma`` or ``lemma#<hidx>`` for homographs
    (collector.clj:82-84)."""
    return F.when(hidx.isNotNull(), F.concat_ws("#", lemma, hidx)).otherwise(lemma)


# ``to_json`` options of the wire format, shared by every encoder of
# it (the batch path below, the live path's event half and the
# dimension snapshot's metadata half) so both halves of a live event
# come out of the same encoder. ``ignoreNullFields`` keeps parity with
# Clojure's ``merge``: unknown lemmata serialize without the metadata
# keys at all. The timestamp format matches ``java.time.Instant#toString``
# (second resolution, ``Z`` suffix — access_log.clj:49-54).
JSON_WIRE_OPTIONS = {
    "ignoreNullFields": "true",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ssXXX",
}


def to_json_events(df: DataFrame) -> Column | DataFrame:
    """P10 — enriched event rows -> JSON strings (server.clj:19-20),
    encoded with :data:`JSON_WIRE_OPTIONS`."""
    return df.select(
        F.to_json(F.struct(*df.columns), JSON_WIRE_OPTIONS).alias("value")
    )


def to_edn_events(df: DataFrame) -> DataFrame:
    """P10-EDN — enriched event rows -> EDN map strings, the literal
    output format of the reference's batch CLI (``log->edn``,
    server.clj:37-48: ``pr`` of the merged event map). Closes the K6
    documented deviation (JSON-only until round 3).

    Parity choices, matching Clojure ``pr`` semantics:
    - keys are kebab-case keywords (``lemma_type`` -> ``:lemma-type``,
      wbdb.clj:17-18's key set);
    - nil-valued keys are ABSENT (the reference ``merge``s metadata in,
      so an unknown lemma's map simply lacks those keys);
    - strings print readably (Clojure ``char-escape-string``'s full
      set: ``\\`` ``\"`` and newline/tab/return/formfeed/backspace),
      integers bare, timestamps as ``Instant#toString`` — second
      resolution with a conditional fraction: no fraction when the
      instant is whole-second, else millis or micros with trailing
      3-digit zero groups trimmed, exactly Instant's rendering
      (access_log.clj:53-55 stores ``(str instant)``);
    - entries are ``, ``-separated inside ``{...}`` (EDN maps are
      unordered; column order is pinned for determinism).

    Golden-tested byte-for-byte against the reference's own capture
    ``dev/wb-page-requests.edn.gz`` (tests/test_edn_golden.py).

    All JVM-side ``concat``/``replace``/``regexp_replace`` expressions
    — no Python UDF on the wire path.
    """
    from pyspark.sql import types as ST

    def edn_string(col: Column) -> Column:
        s = F.replace(col, F.lit("\\"), F.lit("\\\\"))
        s = F.replace(s, F.lit('"'), F.lit('\\"'))
        s = F.replace(s, F.lit("\n"), F.lit("\\n"))
        s = F.replace(s, F.lit("\t"), F.lit("\\t"))
        s = F.replace(s, F.lit("\r"), F.lit("\\r"))
        s = F.replace(s, F.lit("\f"), F.lit("\\f"))
        s = F.replace(s, F.lit("\b"), F.lit("\\b"))
        return F.concat(F.lit('"'), s, F.lit('"'))

    def edn_instant(col: Column) -> Column:
        # java.time.Instant#toString: fraction only when non-zero,
        # printed in 3-digit groups with trailing zero groups trimmed
        # (Spark timestamps are micro-resolution, so millis/micros)
        s = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        s = F.regexp_replace(s, r"\.(\d{3})000(?=Z|[+-])", r".$1")
        return F.regexp_replace(s, r"\.000(?=Z|[+-])", "")

    def edn_value(name: str, dt) -> Column:
        col = F.col(name)
        if isinstance(dt, ST.StringType):
            return edn_string(col)
        if isinstance(dt, ST.TimestampType | ST.TimestampNTZType):
            return edn_string(edn_instant(col))
        if isinstance(dt, ST.DateType):
            return edn_string(F.date_format(col, "yyyy-MM-dd"))
        if isinstance(
            dt,
            ST.ByteType
            | ST.ShortType
            | ST.IntegerType
            | ST.LongType
            | ST.DoubleType
            | ST.FloatType
            | ST.BooleanType,
        ):
            return col.cast("string")
        raise TypeError(f"no EDN encoding for column {name}: {dt}")

    frags = [
        F.when(
            F.col(f.name).isNotNull(),
            F.concat(
                F.lit(":" + f.name.replace("_", "-") + " "),
                edn_value(f.name, f.dataType),
            ),
        )
        for f in df.schema.fields
    ]
    # concat_ws skips NULL fragments — exactly the reference's merge
    # semantics (absent keys), and an all-null row prints as "{}"
    return df.select(
        F.concat(F.lit("{"), F.concat_ws(", ", *frags), F.lit("}")).alias(
            "value"
        )
    )


def from_json_events(
    df: DataFrame,
    column: str = "value",
) -> DataFrame:
    """P11 — JSONL lines -> typed enriched-event rows
    (collector.clj:32-34, 65) with the P9 casts applied.

    The reference's F7 malformed-line guard (access_log.clj:80,92-93)
    extends to the JSONL path: unparseable lines
    (``from_json`` -> null struct) and records missing the required
    timestamp/lemma are dropped instead of flowing on as all-null rows
    — at 100 TB one poisoned upstream file must not null-pollute the
    fact table or crash the collector (the reference would hit the
    exception-retry loop, collector.clj:48-53)."""
    parsed = df.select(F.from_json(F.col(column), ENRICHED_EVENT_WIRE).alias("e"))
    bad = (
        F.col("e").isNull()
        | F.col("e.timestamp").isNull()
        | F.col("e.lemma").isNull()
    )
    # named observation surfaced in every streaming progress event
    # (observedMetrics.parse) — the drop is counted, never silent;
    # ThroughputListener accumulates it (streaming/metrics.py)
    parsed = parsed.observe(
        "parse",
        F.count(F.when(bad, 1)).alias("n_malformed"),
        F.count(F.lit(1)).alias("n_lines"),
    ).where(~bad)
    return parsed.select(
        F.to_timestamp("e.timestamp").alias("timestamp"),
        F.col("e.lemma").alias("lemma"),
        F.col("e.hidx").alias("hidx"),
        F.col("e.lemma_type").alias("lemma_type"),
        F.col("e.form_type").alias("form_type"),
        F.col("e.article_type").alias("article_type"),
        F.col("e.source").alias("source"),
        F.to_date("e.date").alias("date"),
    )


def events_to_sink_rows(df: DataFrame) -> DataFrame:
    """P8+P9+F6 — enriched events -> persisted fact rows
    (event->db, collector.clj:82-88)."""
    encoded = encode_lemma_hidx(F.col("lemma"), F.col("hidx"))
    return (
        df.select(
            F.col("timestamp").alias("ts"),
            encoded.alias("lemma"),
            F.col("article_type"),
            F.col("source").alias("article_source"),
            F.col("date").alias("article_date"),
        )
        .where(F.length("lemma") < DEFAULT_CONFIG.max_lemma_len)  # F6
    )
