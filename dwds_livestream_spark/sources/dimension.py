"""S3 + W2 — dimension loading and periodic refresh.

Reference: full JDBC scan of ``lemma ⋈ article`` pushed down into MySQL
(fetch-size 1024), folded into an argmin-deduped map, swapped into an
atom every 12 h (src/dwds/livestream/wbdb.clj:12-15, 30-37, 61-67).

Spark shape: ``spark.read.jdbc`` with the join kept in the pushed-down
subquery (Spark does not push joins into JDBC sources itself), then the
same argmin dedup as a hash aggregate. For the live path the deduped
snapshot is then collected once per refresh into a driver-side lookup,
lemma -> metadata already encoded as a JSON object
(:func:`dimension_lookup`) — the reference's hash map. A refresh is
"build the new lookup, swap the reference" — the atom-swap semantic.
Live micro-batches splice each event's JSON with its lemma's fragment,
so no batch re-reads or re-broadcasts the dimension; batch and replay
paths keep the broadcast join of ``operators/enrich.py``.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.encode import JSON_WIRE_OPTIONS
from ..operators.dedup_dim import dedup_dimension
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
    """S3 — JDBC dimension scan with the inner join pushed down."""
    props = dict(properties or {})
    props.setdefault("fetchsize", str(config.jdbc_fetch_size))
    raw = spark.read.jdbc(url, f"({LEMMA_ARTICLE_QUERY}) dim", properties=props)
    # dialect case-normalization: engines that canonicalize unquoted
    # identifiers to UPPER (Derby, Oracle, H2) hand back uppercase
    # result columns for the same query MySQL answers in lowercase
    return dedup_dimension(raw.toDF(*[c.lower() for c in raw.columns]))


def load_dimension_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Fixture-backed dimension for tests/replay: same dedup applied."""
    return dedup_dimension(spark.read.parquet(path))


def dimension_lookup(dim: DataFrame) -> dict[str, str]:
    """The live path's form of the dimension: ``lemma -> metadata`` with
    the metadata already encoded as one JSON object.

    The object is ``to_json(struct(<dim columns except lemma>))`` with
    :data:`JSON_WIRE_OPTIONS` and the same ``dim_<c>`` rename of columns
    that collide with event columns as ``operators.enrich.enrich``, so
    ``event_json[:-1] + "," + fragment[1:]`` is byte-identical to the
    batch path's ``to_json_events(enrich(events, dim))`` line. A row
    whose metadata is all null encodes as ``"{}"``. Raises
    ``ValueError`` on a duplicate lemma: the join would fan such an
    event out, a lookup cannot — dedup first
    (``operators.dedup_dim.dedup_dimension``).

    The lookup costs about 26.6 MB of driver memory per 100k lemmas
    (about 270 MB at the production 1M).
    """
    event_cols = set(EVENT.fieldNames())
    meta = [
        F.col(c).alias(f"dim_{c}" if c in event_cols else c)
        for c in dim.columns
        if c != "lemma"
    ]
    # Arrow transfer: at 100k lemmas about half the Python CPU of a
    # Row collect()
    table = dim.select(
        "lemma", F.to_json(F.struct(*meta), JSON_WIRE_OPTIONS)
    ).toArrow()
    lookup = dict(zip(table.column(0).to_pylist(), table.column(1).to_pylist()))
    if len(lookup) != table.num_rows:
        raise ValueError("dimension has duplicate lemmas")
    return lookup


class DimensionSnapshot:
    """Atomically-swappable dimension snapshot (W2).

    ``loader`` returns the deduped dimension DataFrame; each
    ``refresh()`` turns it into a :func:`dimension_lookup` — built and
    validated in full before the swap — and ``current()`` always returns
    a complete lookup. A refresher thread rebuilds on a period and swaps
    the reference, mirroring the reference's atom swap (wbdb.clj:46); a
    failed rebuild keeps the old lookup serving. ``start_live_server``
    takes ``snapshot.current`` as its loader and calls it once per
    micro-batch, so a batch after the swap sees the new snapshot.
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
