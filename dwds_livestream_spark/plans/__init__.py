"""Query library exposed through __spark_entry__.py.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable paired with an
ANSI-SQL oracle string DuckDB runs on the same parquet tables. Column
names/types are aligned between both sides (the driver's compare sorts
columns by name and hashes values). Aggregates over money columns are
cast to DECIMAL before summing so results are exact and engine-
independent; averages are rounded doubles.
"""

from .registry import ORACLE_SQL, QUERIES

__all__ = ["QUERIES", "ORACLE_SQL"]
