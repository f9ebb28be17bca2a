"""S1: a Spark 4 Python Data Source that tails a single appended-to
file — ``spark.readStream.format("tail").option("path", ...)``. It is
what ``stream_access_log`` reads when it is given the live
``access.log`` itself rather than a log-shipping directory.

Reference parity (access_log.clj:101-125, commons-io Tailer): poll the
file each micro-batch, emit newly appended COMPLETE lines, reopen from
the start on rotation/truncation, optionally skip pre-existing content
on attach (``fromEnd``, the Tailer's end=true; default true).

Offset model: {"epoch": E, "offset": B} — B is a byte offset into the
current incarnation of the file; E increments when rotation is
detected (inode change or shrink below the committed offset), so every
(epoch, offset) range identifies bytes unambiguously and Spark's
checkpoint restores mid-file. ``latestOffset`` advances only to the
last complete newline (``line_frames.frontier``), so a
partially-written line is never split across batches.

Rotation gap: the reader never re-opens the old incarnation. Lines
appended to it after the last poll and before the rename are lost —
the reference's Tailer drains the old handle first and keeps them.
Lines lost to an unseen rotation BETWEEN poll and read yield a
truncated batch, never an error.

Executor access: ``read`` re-opens the path on the executor — correct
for local[] and for any shared mount (NFS/EBS/hostPath), which is the
deployment shape a single live access.log implies anyway.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .line_frames import frontier, read_lines


class TailPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int, encoding: str):
        self.path = path
        self.start = start
        self.end = end
        self.encoding = encoding


class TailStreamReader(DataSourceStreamReader):
    def __init__(self, options: Mapping[str, str]):
        self.path = options["path"]
        self.encoding = options.get("encoding", "utf-8")
        from_end = str(options.get("fromEnd", "true")).lower() == "true"
        self._epoch = 0
        self._ino: int | None = None
        init = 0
        try:
            st = os.stat(self.path)
            self._ino = st.st_ino
            if from_end:
                init = frontier(self.path, 0, st.st_size)
        except FileNotFoundError:
            pass
        self._init = {"epoch": 0, "offset": init}
        self._last = dict(self._init)

    def initialOffset(self) -> dict:
        return dict(self._init)

    def latestOffset(self) -> dict:
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            return dict(self._last)
        rotated = (
            self._ino is not None and st.st_ino != self._ino
        ) or st.st_size < self._last["offset"]
        if rotated:
            self._epoch += 1
            self._last = {
                "epoch": self._epoch,
                "offset": frontier(self.path, 0, st.st_size),
            }
        else:
            self._last = {
                "epoch": self._epoch,
                "offset": frontier(self.path, self._last["offset"], st.st_size),
            }
        self._ino = st.st_ino
        return dict(self._last)

    def partitions(
        self, start: dict, end: dict
    ) -> list[InputPartition]:
        if start["epoch"] > end["epoch"]:
            # query RESTART: this reader's in-memory epoch counter
            # began again at 0 while the checkpointed offset is at
            # epoch N — without this branch the epoch mismatch would
            # fall into the rotation path and replay the entire file.
            # If the current file still reaches the checkpointed byte,
            # it is the same incarnation: continue from it (this also
            # covers bytes appended while the query was down, which
            # the fromEnd re-attach baseline alone would skip). If it
            # is shorter, the file rotated while down: replay from 0
            # as a new epoch.
            try:
                size = os.stat(self.path).st_size
            except FileNotFoundError:
                size = 0
            if size >= start["offset"]:
                adopted, lo = start["epoch"], start["offset"]
            else:
                adopted, lo = start["epoch"] + 1, 0
            self._epoch = adopted
            self._last = {
                "epoch": adopted,
                "offset": max(end["offset"], lo),
            }
            return [
                TailPartition(self.path, lo, end["offset"], self.encoding)
            ]
        lo = start["offset"] if start["epoch"] == end["epoch"] else 0
        return [TailPartition(self.path, lo, end["offset"], self.encoding)]

    def read(self, partition: TailPartition) -> Iterator[tuple]:
        for line in read_lines(
            partition.path, partition.start, partition.end, partition.encoding
        ):
            yield (line,)

    def commit(self, end: dict) -> None:
        pass


class TailDataSource(DataSource):
    """``spark.dataSource.register(TailDataSource)`` then
    ``spark.readStream.format("tail").option("path", p).load()`` →
    a one-column (``value string``) stream of appended lines."""

    @classmethod
    def name(cls) -> str:
        return "tail"

    def schema(self) -> str:
        return "value string"

    def streamReader(self, schema) -> TailStreamReader:
        # the case-insensitive options as given: dict() would keep only
        # the lowercased keys and lose fromEnd
        return TailStreamReader(self.options)
