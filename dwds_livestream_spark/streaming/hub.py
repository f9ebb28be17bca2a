"""K1/W3/W4 — the live fan-out hub: broadcast to dynamic subscribers
with per-subscriber drop-oldest conflation and leaky-bucket sampling.

Reference semantics (SURVEY.md §1.4, §2.6-2.7): a core.async `mult`
broadcasts every event to every subscriber tap (server.clj:22-23,
http.clj:80,93); each tap sits behind a `sliding-buffer 1` (drop-oldest
conflation for slow clients, http.clj:77) and an optional `epm`
events-per-minute throttle (leaky bucket, http.clj:74-78, 109-113).
The bucket holds one token and refills at epm/60 per second, so
deliveries are at least 60/epm s apart and no 60 s window sees more
than epm events (a bucket of epm tokens would admit a full bucket
plus a minute of refill: up to 2x epm). A token that comes due
between two polls waits for the next poll and its fraction past 1 is
dropped, so a backlogged tap gets slightly under epm: 44.5 per minute
at epm 45 polled every 0.05 s (the SSE loop's interval). Carrying that
fraction would let some 60 s window hold epm + 1.

This is deliberately OUTSIDE the Spark query; lossiness is a
per-subscriber serving-layer property. `BroadcastHub.publish` plugs
directly into `streaming.pipeline.start_live_server(publish=hub.publish)`,
whose `foreachBatch` publishes before the offset commit: a batch replayed
from the checkpoint after a crash is published again, so delivery into
the hub is at-least-once per micro-batch.
"""

from __future__ import annotations

import threading
import time
from collections import deque


class Subscription:
    """One subscriber tap: bounded drop-oldest buffer + optional epm
    leaky bucket applied at delivery time."""

    def __init__(self, buffer_size: int = 1, epm: int | None = None):
        if epm is not None and epm <= 0:
            raise ValueError(f"epm must be a positive int: {epm}")
        self._buf: deque[str] = deque(maxlen=buffer_size)
        self._lock = threading.Lock()
        self.epm = epm
        self._tokens = 1.0 if epm else 0.0
        self._last_refill = time.monotonic()
        self.dropped = 0  # conflated-away count (observability)

    def _offer(self, lines: list[str]) -> None:
        with self._lock:
            before = len(self._buf)
            room = self._buf.maxlen - before
            self.dropped += max(0, len(lines) - room)
            self._buf.extend(lines)  # deque(maxlen) drops oldest

    def poll(self) -> list[str]:
        """Drain the buffer, gated by the leaky bucket when epm is set
        (one token of capacity, refilled continuously at epm/60 per
        second)."""
        with self._lock:
            budget = len(self._buf)
            if self.epm is not None:
                now = time.monotonic()
                self._tokens = min(
                    1.0,
                    self._tokens + (now - self._last_refill) * self.epm / 60.0,
                )
                self._last_refill = now
                budget = min(budget, int(self._tokens))
            out = []
            while self._buf and len(out) < budget:
                out.append(self._buf.popleft())
            if self.epm is not None:
                self._tokens -= len(out)
            return out


class BroadcastHub:
    """Dynamic-subscriber broadcast (the `mult`): every published batch
    reaches every current subscriber's buffer."""

    def __init__(self) -> None:
        self._subs: dict[str, Subscription] = {}
        self._lock = threading.Lock()

    def subscribe(
        self, name: str, buffer_size: int = 1, epm: int | None = None
    ) -> Subscription:
        sub = Subscription(buffer_size=buffer_size, epm=epm)
        with self._lock:
            self._subs[name] = sub
        return sub

    def unsubscribe(self, name: str) -> None:
        with self._lock:
            self._subs.pop(name, None)

    def publish(self, lines: list[str], batch_id: int) -> None:
        """foreachBatch hook: fan a micro-batch's wire lines out."""
        with self._lock:
            subs = list(self._subs.values())
        for sub in subs:
            sub._offer(lines)
