"""Table loader for the driver testdata (TESTDATA.md).

The only wrinkle: ``events.ts`` is stored as parquet TIMESTAMP(NANOS),
a type Spark does not support natively. With
``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
epoch-nanos LongType; we truncate to microseconds — exactly what DuckDB
does internally (µs timestamps), so oracle comparisons agree.

Each table's schema is inferred once per process. Spark's parquet
schema inference launches a one-task job on every
``spark.read.parquet`` (``ParquetUtils.inferSchema`` ->
``mergeSchemasInParallel``), even for a file this process has read
before: about 120 ms per read of an sf0.01 table on a 4-core host,
against about 20 ms and no job with the schema given. So the inferred
schema is kept, keyed by the file's identity and the confs that shape
inference, and a later read of the same file passes it to
``spark.read.schema``.
A rewrite that keeps the inode, the size and the mtime (same clock
tick) goes unseen.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# table -> columns stored as TIMESTAMP(NANOS)
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# the confs whose value changes the schema Spark infers from a footer
# (mergeSchema: which part files of a directory it reads)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (resolved path, conf values) -> (file identity, inferred schema); one
# entry per path and conf setting, so a rewritten file replaces its own
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _identity(path: str) -> tuple | None:
    """Device, inode, size and mtime of the file, or of each entry of a
    directory of part files; None (never memoized) for a path that is
    not local, is missing, or holds subdirectories (partition discovery
    would have to be part of the key)."""

    def stamp(st: os.stat_result) -> tuple:
        return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return stamp(st)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                est = e.stat()
                if stat.S_ISDIR(est.st_mode):
                    return None
                entries.append((e.name, *stamp(est)))
        return tuple(sorted(entries))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred only the
    first time this process reads the file as it is now."""
    real = os.path.realpath(path)
    key = (real, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    ident = _identity(real)
    hit = _SCHEMAS.get(key)
    if ident is not None and hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if ident is not None:
        _SCHEMAS[key] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif dtype == "timestamp_ntz":
            # parquet timestamp[us] without timezone: interpret as UTC
            # instant (session timezone is pinned UTC), matching DuckDB's
            # naive-µs semantics so oracle value hashes agree.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
