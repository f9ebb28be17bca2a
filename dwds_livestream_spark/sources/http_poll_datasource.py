"""S2: the HTTP long-poll JSONL client as a Spark 4 Python Data Source —
``spark.readStream.format("http_poll").option("url", ...)``. It is what
``collector_stream`` reads when it is given the live server's
``/api/jsonl`` URL.

Reference parity (collector.clj:39-74): connect, read lines forever,
reconnect on IOException with exponential backoff (3 s base doubling
to a 60 s cap, reset after a successful read).

Architecture — why a disk spool and a lock, not an in-memory buffer:
Spark instantiates a Python data source reader in MORE THAN ONE python
process (query analysis and the streaming runner), and replays
uncommitted offset ranges after a restart from a FRESH process. An
in-memory buffer satisfies neither (two instances would double-consume
the connection and split the line numbering; a restart loses the
replay window). So:

- all instances agree on a spool file derived from the URL (or an
  explicit ``spoolDir``); offsets are BYTE OFFSETS into that file —
  durable, process-independent, restart-replayable;
- exactly ONE instance holds the ``flock`` and runs the long-poll
  thread appending lines (single-consumer transport, like the
  reference's one collector connection); every other instance just
  reads the spool by offset. If the puller's process dies, the lock
  releases and the next reader to call ``read()`` takes over —
  reconnect backoff semantics included;
- ``read`` advances to the spool's last complete newline (partial
  lines held back, ``line_frames.frontier``), ``readBetweenOffsets`` is
  a plain byte-range read.
"""

from __future__ import annotations

import fcntl
import hashlib
import http.client
import os
import tempfile
import threading
import urllib.request
from collections.abc import Iterator, Mapping

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .line_frames import frontier, read_lines


def _default_spool(url: str) -> str:
    tag = hashlib.md5(url.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_http_poll_{tag}")


class HttpPollSimpleReader(SimpleDataSourceStreamReader):
    def __init__(self, options: Mapping[str, str]):
        self.url = options["url"]
        self.spool_dir = options.get("spoolDir") or _default_spool(self.url)
        self.base_backoff_s = float(options.get("baseBackoffS", 3.0))
        self.max_backoff_s = float(options.get("maxBackoffS", 60.0))
        self.connect_timeout_s = float(options.get("connectTimeoutS", 30.0))
        os.makedirs(self.spool_dir, exist_ok=True)
        self.spool_path = os.path.join(self.spool_dir, "spool.ndjson")
        self._lock_fh = None
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self.reconnects = 0

    # pickled copies (executor shipment) never poll; drop live handles
    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        for k in ("_lock_fh", "_thread", "_stop"):
            state.pop(k, None)
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._lock_fh = None
        self._thread = None
        self._stop = threading.Event()

    # ------------------------------------------------ puller election
    def _ensure_puller(self) -> None:
        if self._thread is not None:
            return
        try:
            fh = open(os.path.join(self.spool_dir, ".puller.lock"), "a+")
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return  # another live instance is pulling
        self._lock_fh = fh  # held for instance lifetime
        self._thread = threading.Thread(
            target=self._run, name="http-poll-source", daemon=True
        )
        self._thread.start()

    def _run(self) -> None:
        backoff = self.base_backoff_s
        while not self._stop.is_set():
            if self._drain():
                # reset once lines were read — even if the connection
                # then died (collector.clj reset-on-read parity)
                backoff = self.base_backoff_s
            if self._stop.is_set():
                return
            self.reconnects += 1
            self._stop.wait(backoff)
            backoff = min(backoff * 2, self.max_backoff_s)

    def _drain(self) -> bool:
        """Append one connection's lines to the spool until EOF or
        error; True if it delivered at least one line. Never raises on
        a dead connection: an ``HTTPException`` (IncompleteRead on a
        dropped chunked stream) is NOT an ``OSError``, and letting it
        escape would kill the puller while this instance still holds
        the flock, stalling the source forever."""
        got_any = False
        try:
            with urllib.request.urlopen(
                self.url, timeout=self.connect_timeout_s
            ) as resp, open(self.spool_path, "ab") as out:
                for raw in resp:
                    line = raw.rstrip(b"\r\n")
                    if line:
                        out.write(line + b"\n")
                        out.flush()
                        got_any = True
                    if self._stop.is_set():
                        break
        except (OSError, http.client.HTTPException):
            pass
        return got_any

    # --------------------------------------------------- spool access
    def _lines(self, lo: int, hi: int) -> Iterator[tuple]:
        # a list iterator, not a generator: Spark caches and copies what
        # read() returns
        return iter([(ln,) for ln in read_lines(self.spool_path, lo, hi)])

    # --------------------------------------------------- Spark contract
    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        self._ensure_puller()
        lo = start["offset"]
        try:
            size = os.stat(self.spool_path).st_size
        except FileNotFoundError:
            size = lo
        hi = frontier(self.spool_path, lo, size)
        return self._lines(lo, hi), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._lines(start["offset"], end["offset"])

    def commit(self, end: dict) -> None:
        # the spool is the replay log; production would roll the file
        # and GC fully-committed segments here
        pass

    def stop(self) -> None:
        self._stop.set()


class HttpPollDataSource(DataSource):
    """``spark.dataSource.register(HttpPollDataSource)`` then
    ``spark.readStream.format("http_poll").option("url", u).load()`` →
    a one-column (``value string``) stream of received lines."""

    @classmethod
    def name(cls) -> str:
        return "http_poll"

    def schema(self) -> str:
        return "value string"

    def simpleStreamReader(self, schema) -> HttpPollSimpleReader:
        # the case-insensitive options as given: dict() would keep only
        # the lowercased keys and lose spoolDir and the backoff knobs
        return HttpPollSimpleReader(self.options)
