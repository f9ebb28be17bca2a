"""Complete-line framing shared by the ``tail`` and ``http_poll``
sources: both expose an append-only file as byte offsets that only
ever advance to a line boundary, so a partially written line is held
back until its ``\\n`` arrives and is never split across batches."""

from __future__ import annotations

_CHUNK = 1 << 16


def frontier(path: str, lo: int, hi: int) -> int:
    """Largest position in (lo, hi] just past a ``\\n`` — the
    complete-line frontier; ``lo`` if no newline arrived yet or the
    file is gone. Scans BACKWARD from ``hi`` in bounded chunks, so the
    driver never holds the whole unread range (or, on a from-the-end
    attach, a multi-GB file) in memory just to find it."""
    if hi <= lo:
        return lo
    try:
        with open(path, "rb") as fh:
            pos = hi
            while pos > lo:
                step = min(_CHUNK, pos - lo)
                fh.seek(pos - step)
                cut = fh.read(step).rfind(b"\n")
                if cut >= 0:
                    return pos - step + cut + 1
                pos -= step
    except FileNotFoundError:
        pass
    return lo


def read_lines(path: str, lo: int, hi: int, encoding: str = "utf-8") -> list[str]:
    """The complete lines in bytes [lo, hi). Splits strictly on ``\\n``:
    ``splitlines()`` would also break on ``\\v``, ``\\f`` and
    ``\\x1c``-``\\x1e`` inside a log line or a JSON string and desync
    rows from the newline-aligned offsets. A trailing partial line (the
    file rotated under the reader) is dropped; a missing file reads as
    empty."""
    if hi <= lo:
        return []
    try:
        with open(path, "rb") as fh:
            fh.seek(lo)
            buf = fh.read(hi - lo)
    except FileNotFoundError:
        return []
    cut = buf.rfind(b"\n")
    if cut < 0:
        return []
    return [ln.decode(encoding, errors="replace") for ln in buf[:cut].split(b"\n")]
