"""Single-file tail transport (sources/tail_datasource.py): from-end
attach, appended lines with partial-line holdback, rename-and-recreate
and copytruncate rotation, strict ``\\n`` framing, and the live server
tailing one access.log across a rotation."""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from dwds_livestream_spark.sources.tail_datasource import TailStreamReader
from dwds_livestream_spark.streaming.pipeline import start_live_server

UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"


def _logline(s, word):
    return (
        f'10.0.0.1 - - [08/Dec/2024:23:00:{s:02d} +0000] '
        f'"GET /wb/{word} HTTP/1.1" 200 100 "-" "{UA}"'
    )


def _append(log, words):
    with open(log, "a") as fh:
        for i, w in enumerate(words):
            fh.write(_logline(i, w) + "\n")


def _poll(r, start):
    """One micro-batch of the reader: the lines after ``start`` and the
    offset they end at."""
    end = r.latestOffset()
    [p] = r.partitions(start, end)
    return [t[0] for t in r.read(p)], end


def test_tail_appended_lines_and_partial_holdback(tmp_path):
    log = tmp_path / "access.log"
    log.write_text("old-line-before-attach\n")
    r = TailStreamReader({"path": str(log)})  # fromEnd defaults to true
    got, off = _poll(r, r.initialOffset())
    assert got == []  # live attach skips history

    with open(log, "a") as fh:
        fh.write(_logline(1, "w1") + "\n" + _logline(2, "w2") + "\n")
        fh.write("partial-without-newline")
    got, off = _poll(r, off)
    assert got == [_logline(1, "w1"), _logline(2, "w2")]  # partial held back
    with open(log, "a") as fh:
        fh.write("-now-complete\n")
    got, off = _poll(r, off)
    assert got == ["partial-without-newline-now-complete"]


def test_tail_reopens_on_rotation(tmp_path):
    log = tmp_path / "access.log"
    log.write_text(_logline(1, "a") + "\n")
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    got, off = _poll(r, r.initialOffset())
    assert got == [_logline(1, "a")]

    # logrotate: move aside, recreate (new inode), write fresh lines
    os.rename(log, tmp_path / "access.log.1")
    got, off = _poll(r, off)
    assert got == []  # gone; no crash
    log.write_text(_logline(2, "b") + "\n")
    got, end = _poll(r, off)
    assert got == [_logline(2, "b")]
    assert end["epoch"] == off["epoch"] + 1


def test_tail_truncation_in_place(tmp_path):
    log = tmp_path / "access.log"
    log.write_text(_logline(1, "a") + "\n" + _logline(2, "b") + "\n")
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    got, off = _poll(r, r.initialOffset())
    assert len(got) == 2
    log.write_text(_logline(3, "c") + "\n")  # copytruncate-style shrink
    got, _ = _poll(r, off)
    assert got == [_logline(3, "c")]


def _wait(cond, timeout=60):
    t0 = time.time()
    while not cond():
        assert time.time() - t0 < timeout, "timed out"
        time.sleep(0.2)


def test_tail_feeds_access_log_pipeline_e2e(spark, tmp_path):
    """Log rotation has a tested outcome: the live server on one
    access.log skips its existing content, and every event appended
    before a rename-and-recreate rotation (once published) and after
    it is published exactly once."""
    log = tmp_path / "access.log"
    _append(log, ["vorher"])
    published = []
    q = start_live_server(
        spark,
        str(log),
        lambda: {},
        checkpoint=str(tmp_path / "ck"),
        publish=lambda lines, _: published.extend(lines),
        trigger={"processingTime": "200 milliseconds"},
    )
    try:
        _wait(lambda: q.lastProgress is not None)  # attached at the end
        _append(log, ["alt0", "alt1", "alt2"])
        _wait(lambda: len(published) >= 3)
        os.rename(log, tmp_path / "access.log.1")
        time.sleep(0.6)  # polls while the live file is missing
        _append(log, ["neu0", "neu1"])
        _wait(lambda: len(published) >= 5)
        _append(log, ["neu2"])
        _wait(lambda: len(published) >= 6)
        q.processAllAvailable()
    finally:
        q.stop()
    assert Counter(json.loads(e)["lemma"] for e in published) == Counter(
        ["alt0", "alt1", "alt2", "neu0", "neu1", "neu2"]
    )


def test_tail_does_not_split_on_embedded_control_chars(tmp_path):
    """Framing is strictly \\n: a vertical tab, form feed, U+2028 or
    \\x1d inside a log line must not fragment it (splitlines would)."""
    log = tmp_path / "access.log"
    weird = 'a - - [x] "GET /wb/w \x0b\x0c\u2028 HTTP/1.1" 200 1 "-" "UA\x1d"'
    log.write_text(weird + "\n", encoding="utf-8", newline="")
    r = TailStreamReader({"path": str(log), "fromEnd": "false"})
    assert _poll(r, r.initialOffset())[0] == [weird]
