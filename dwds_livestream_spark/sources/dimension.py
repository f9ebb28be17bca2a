"""S3 + W2 — dimension loading and periodic refresh.

Reference: full JDBC scan of ``lemma ⋈ article`` pushed down into MySQL
(fetch-size 1024), folded into an argmin-deduped map, swapped into an
atom every 12 h (src/dwds/livestream/wbdb.clj:12-15, 20-28, 30-37, 61-67).

Spark shape: the loaders return the raw query result, as the reference's
query does — ``spark.read.jdbc`` with the join kept in the pushed-down
subquery (Spark does not push joins into JDBC sources itself), or a
parquet fixture. The live path folds those rows into a driver-side
lookup, lemma -> metadata already encoded as a JSON object
(:func:`dimension_lookup`): one narrow Spark projection shipped through
Arrow, then the argmin per lemma on the driver — the reference's fold
into a hash map, with no shuffle, sort or aggregate in Spark. A refresh
is "build the new lookup, swap the reference" — the atom-swap semantic.
Live micro-batches splice each event's JSON with its lemma's fragment,
so no batch re-reads or re-broadcasts the dimension. Batch and replay
paths apply ``operators.dedup_dim.dedup_dimension`` themselves and keep
the broadcast join of ``operators/enrich.py``.
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.encode import JSON_WIRE_OPTIONS
from ..schemas import EVENT

# The reference's dimension query (wbdb.clj:12-15) — stays pushed down.
LEMMA_ARTICLE_QUERY = (
    "SELECT l.lemma, l.hidx, l.type as lemma_type, l.form_type, "
    "a.type as article_type, a.status, a.source, a.date "
    "FROM lemma l JOIN article a ON l.article_id = a.id"
)


def load_dimension_jdbc(
    spark: SparkSession,
    url: str,
    properties: dict[str, str] | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """S3 — JDBC dimension scan with the inner join pushed down; the
    raw rows, homographs included."""
    props = dict(properties or {})
    props.setdefault("fetchsize", str(config.jdbc_fetch_size))
    raw = spark.read.jdbc(url, f"({LEMMA_ARTICLE_QUERY}) dim", properties=props)
    # dialect case-normalization: engines that canonicalize unquoted
    # identifiers to UPPER (Derby, Oracle, H2) hand back uppercase
    # result columns for the same query MySQL answers in lowercase
    return raw.toDF(*[c.lower() for c in raw.columns])


def load_dimension_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Fixture-backed dimension for tests/replay: the raw rows, as
    :func:`load_dimension_jdbc` returns them."""
    return spark.read.parquet(path)


def dimension_lookup(dim: DataFrame) -> dict[str, str]:
    """The live path's form of the dimension: ``lemma -> metadata`` with
    the metadata already encoded as one JSON object, folded from the raw
    ``lemma ⋈ article`` rows.

    Per lemma the row with the least ``coalesce(hidx, 0)`` wins (0 for
    every row when there is no ``hidx`` column), ties broken by the
    remaining columns — the choice of
    ``operators.dedup_dim.dedup_dimension``, so
    ``dimension_lookup(raw) == dimension_lookup(dedup_dimension(raw))``.
    Spark only projects and ships the rows through Arrow; the driver
    sorts on (lemma, rank, ties…) with nulls first, which is Spark's
    ascending struct order (strings byte-wise, as ``UTF8String``
    compares), and keeps the first row of each lemma.

    The object is ``to_json(struct(<dim columns except lemma>))`` with
    :data:`JSON_WIRE_OPTIONS` and the same ``dim_<c>`` rename of columns
    that collide with event columns as ``operators.enrich.enrich``, so
    ``event_json[:-1] + "," + fragment[1:]`` is byte-identical to the
    batch path's ``to_json_events(enrich(events, dedup_dimension(dim)))``
    line. A row whose metadata is all null encodes as ``"{}"``.

    The lookup costs about 26.6 MB of driver memory per 100k lemmas
    (about 270 MB at the production 1M); building it from 112k raw rows
    peaks at about 54 MB of Python heap plus 31 MB of Arrow buffers.
    """
    event_cols = set(EVENT.fieldNames())
    meta = [
        F.col(c).alias(f"dim_{c}" if c in event_cols else c)
        for c in dim.columns
        if c != "lemma"
    ]
    rank = F.coalesce(F.col("hidx"), F.lit(0)) if "hidx" in dim.columns else F.lit(0)
    ties = [c for c in dim.columns if c not in ("lemma", "hidx")]
    # one narrow projection; Arrow transfer costs about half the Python
    # CPU of a Row collect() at 100k lemmas
    table = dim.select(
        "lemma",
        F.to_json(F.struct(*meta), JSON_WIRE_OPTIONS).alias("__fragment"),
        rank.alias("__rank"),
        *[F.col(c).alias(f"__tie{i}") for i, c in enumerate(ties)],
    ).toArrow()
    if table.num_rows == 0:
        return {}
    keys = [(c, "ascending") for c in table.column_names if c != "__fragment"]
    order = pc.sort_indices(table, sort_keys=keys, null_placement="at_start")
    lemma = table.column("lemma").take(order).combine_chunks()
    # a row starts its lemma's run when its lemma differs from the one
    # before; the null lemmas sort first and form one run
    head, prev = lemma[1:], lemma[:-1]
    starts = pc.coalesce(pc.not_equal(head, prev), pc.is_valid(head))
    first = pa.concat_arrays([pa.array([True]), starts])
    fragment = table.column("__fragment").take(order.filter(first))
    return dict(zip(lemma.filter(first).to_pylist(), fragment.to_pylist()))


class DimensionSnapshot:
    """Atomically-swappable dimension snapshot (W2).

    ``loader`` returns the raw dimension DataFrame (homographs
    included); each ``refresh()`` folds it into a
    :func:`dimension_lookup` — built in full before the swap — and
    ``current()`` always returns a complete lookup. A refresher thread
    rebuilds on a period and swaps the reference, mirroring the
    reference's atom swap (wbdb.clj:46); a failed load or rebuild keeps
    the old lookup serving. ``start_live_server`` takes
    ``snapshot.current`` as its loader and calls it once per micro-batch,
    so a batch after the swap sees the new snapshot.
    """

    def __init__(self, loader, refresh_seconds: float | None = None):
        self._loader = loader
        self._lock = threading.Lock()
        self._lookup: dict[str, str] | None = None
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.refresh_seconds = refresh_seconds
        self.refresh()

    def refresh(self) -> None:
        new = dimension_lookup(self._loader())
        with self._lock:
            self._lookup = new

    def current(self) -> dict[str, str]:
        with self._lock:
            assert self._lookup is not None
            return self._lookup

    def start(self) -> None:
        if self.refresh_seconds is None or self._thread is not None:
            return

        def loop():
            while not self._stop.wait(self.refresh_seconds):
                try:
                    self.refresh()
                except Exception:  # noqa: BLE001 — keep serving old snapshot
                    pass

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
