"""S1/S4/S5 — access-log sources.

Reference S1 tails a single appended file with a 1000 ms poll, starting
at EOF, surviving rotation (src/dwds/livestream/access_log.clj:101-125).
``stream_access_log`` does exactly that when it is given the live
``access.log`` (the ``tail`` source, sources/tail_datasource.py), and
reads a log-shipping directory of whole files with Spark's text file
source otherwise — there rotation IS the unit of delivery. S4 (batch
replay of a whole log, src/dwds/livestream/server.clj:37-48) is the
same plan on ``read.text``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .tail_datasource import TailDataSource

# admission bound of the directory source, standing in for the
# reference's 8192-event sliding buffer (collector.clj:127-128): Spark
# backpressures instead of shedding load (SURVEY.md §1.4 documents this
# as an intentional upgrade on the persistence path)
MAX_FILES_PER_TRIGGER = 16


def read_access_log(spark: SparkSession, path: str) -> DataFrame:
    """S4 — bounded read of raw log lines (column ``value``)."""
    return spark.read.text(path)


def stream_access_log(spark: SparkSession, path: str) -> DataFrame:
    """S1 — unbounded read of raw log lines (column ``value``).

    A regular file is tailed from its current end, as the reference's
    Tailer does on attach; appended lines arrive per micro-batch and a
    rotation reopens the new file from its start. Anything else is read
    as a log-shipping directory, at most ``MAX_FILES_PER_TRIGGER`` new
    files per micro-batch.
    """
    if os.path.isfile(path):
        spark.dataSource.register(TailDataSource)
        return spark.readStream.format("tail").option("path", path).load()
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(path)
    )
