"""Declared schemas — SURVEY.md §1.

The reference fixes schemas by construction (regex groups positionally
zipped with declared keys, access_log.clj:33-34/56-60; sink DDL in
collector/001-create-wb-page-request.up.sql). Here the records the
engine reads from outside are declared: the extracted event, the
dimension row and the collector's JSON wire record, plus the typed
enriched row the tests round-trip through that wire form. Parsed log
lines and persisted fact rows take their shape from the projections
that build them (functions/access_log.py, functions/encode.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Extracted event — the {timestamp, lemma} projection
# (access_log.clj:90-91).
EVENT = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("lemma", T.StringType(), False),
    ]
)

# Dimension record (wbdb.clj:12-18): lemma metadata after the
# MySQL-side lemma⋈article join; hidx nullable (only homographs).
DIMENSION = T.StructType(
    [
        T.StructField("lemma", T.StringType(), False),
        T.StructField("hidx", T.IntegerType(), True),
        T.StructField("lemma_type", T.StringType(), True),
        T.StructField("form_type", T.StringType(), True),
        T.StructField("article_type", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
    ]
)

# Enriched event — the stream wire record (server.clj:12-14; examples in
# dev/wb-page-requests.edn.gz). Left-join semantics: metadata columns
# null for unknown lemmata.
ENRICHED_EVENT = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("hidx", T.IntegerType(), True),
        T.StructField("lemma_type", T.StringType(), True),
        T.StructField("form_type", T.StringType(), True),
        T.StructField("article_type", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
    ]
)

# JSON wire schema for the collector's from_json ingestion
# (collector.clj:32-34): timestamps/dates arrive as ISO strings.
ENRICHED_EVENT_WIRE = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("hidx", T.IntegerType(), True),
        T.StructField("lemma_type", T.StringType(), True),
        T.StructField("form_type", T.StringType(), True),
        T.StructField("article_type", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ]
)
