"""dwds-livestream-spark — a PySpark-native analytics engine with the
query and data-processing capabilities of zentrum-lexikographie/
dwds-livestream (reference at /root/reference/), re-expressed Spark-first.

The reference is a Clojure real-time event-stream processor:
tail access log -> parse/filter -> enrich via dimension join ->
broadcast/persist (see SURVEY.md). This package expresses the same
dataflow as declarative DataFrame programs that work identically on
batch and streaming frames (``df.transform(...)`` composition), plus
the batch-analytics and LLM-data-pipeline layers the persisted event
table exists for.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, tuned shuffle)
- ``schemas``    every declared StructType (SURVEY.md §1)
- ``config``     engine configuration mirroring the reference's env.clj
- ``functions``  scalar/columnar transforms (parse, filters, encode, text)
- ``operators``  relational ops (enrich join, argmin dedup, dedup family,
                 similarity search, analytics, multimodal plumbing)
- ``sources``    batch + streaming sources (live access-log file or dir,
                 JSONL dir or HTTP long-poll, dimension)
- ``sinks``      foreachBatch JDBC-style sink, JSONL/SSE framing, sampling
- ``streaming``  end-to-end streaming pipelines + metrics listener
- ``plans``      the query library exposed through __spark_entry__.py
"""

__version__ = "0.1.0"
