"""J1 — stream-static broadcast LEFT equi-join enrichment.

Reference: each event does a hash-map lookup ``lemma -> metadata`` and
``merge`` keeps the event even on a miss (left-join semantics,
src/dwds/livestream/server.clj:12-14); the snapshot is swapped
atomically every 12 h (src/dwds/livestream/wbdb.clj:39-49, 61-67).

Spark-first shape: the dimension is small relative to the stream
(≈1M lemmata ≪ events), so it is an explicit ``broadcast()`` build side
— no shuffle of the (100 TB-scale) event side. This is the batch and
replay form (``scripts/replay_log.py``, the ``events_enrich`` query).
The live path does not join: it splices each micro-batch's event JSON
with a lemma lookup built once per snapshot
(``sources/dimension.py::dimension_lookup``), so no batch re-broadcasts
the dimension; ``tests/test_streaming.py::test_live_pipeline_end_to_end``
holds the two byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich(
    events: DataFrame,
    dimension: DataFrame,
    on: str = "lemma",
) -> DataFrame:
    """Left-join dimension metadata onto events, the dimension broadcast.

    Column layout follows the enriched-event schema: event columns
    first, then dimension metadata (nullable on miss).
    """
    dim = dimension
    # Never let the dimension's join key collide with event columns
    # beyond the join key itself.
    dup = [c for c in dim.columns if c != on and c in events.columns]
    for c in dup:
        dim = dim.withColumnRenamed(c, f"dim_{c}")
    return events.join(F.broadcast(dim), on=on, how="left").select(
        *events.columns, *[c for c in dim.columns if c != on]
    )
