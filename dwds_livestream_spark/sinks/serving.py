"""K2/K3 — the HTTP serving shim: SSE + JSONL endpoints over a
BroadcastHub, completing the reference's consumer-facing API surface.

Reference parity (http.clj):
- ``GET /api/events?epm=N`` → ``text/event-stream``, frames
  ``data: <json>\n\n`` (http.clj:96-97, 102-107, 128-129);
- ``GET /api/jsonl?epm=N``  → ``text/jsonl``, frames ``<json>\n``
  (http.clj:99-100, 130-131);
- headers ``Cache-Control: no-cache`` and ``X-Accel-Buffering: no``,
  flush per event (http.clj:102-107, 84);
- ``epm`` must be a positive int (http.clj:113) — anything else is a
  400, absence means unthrottled;
- each client gets its own sliding-buffer-1 tap, untapped on
  disconnect (http.clj:77-93) — slow clients conflate, they never
  backpressure the stream.

The reference serves each client from a virtual thread
(http.clj:146-148); here ``ThreadingHTTPServer`` gives
thread-per-client. This is deliberately OUTSIDE the Spark query
(SURVEY.md §1.4): the engine's streaming query publishes into the hub
(``start_live_server(publish=hub.publish)``) at-least-once per
micro-batch — a batch replayed from the checkpoint is published again —
and lossiness is a per-subscriber serving property.
"""

from __future__ import annotations

import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..streaming.hub import BroadcastHub

_POLL_SECONDS = 0.05  # delivery-loop poll; flush-per-event regardless
_HEARTBEAT_SECONDS = 15.0  # idle keepalive so dead sockets fail a write


def _sse_frame(line: str) -> bytes:
    return f"data: {line}\n\n".encode("utf-8")


def _jsonl_frame(line: str) -> bytes:
    return f"{line}\n".encode("utf-8")


# route -> (content type, event frame, idle heartbeat bytes): the SSE
# comment frame and a JSONL blank line are both no-ops to conforming
# consumers
_ROUTES = {
    "/api/events": ("text/event-stream", _sse_frame, b":keepalive\n\n"),
    "/api/jsonl": ("text/jsonl", _jsonl_frame, b"\n"),
}


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    hub: BroadcastHub  # set by server factory
    stopping: threading.Event

    def log_message(self, *args) -> None:  # quiet by default
        pass

    def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
        url = urlparse(self.path)
        route = _ROUTES.get(url.path.rstrip("/") or url.path)
        if route is None:
            self.send_error(404)
            return
        try:
            epm = self._parse_epm(parse_qs(url.query))
        except ValueError:
            self.send_response(400)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        content_type, frame, heartbeat = route
        # tap BEFORE the response goes out: once the client has seen the
        # headers, every subsequent publish must reach its buffer.
        name = f"http-{uuid.uuid4().hex[:12]}"
        sub = self.hub.subscribe(name, buffer_size=1, epm=epm)
        try:
            self.send_response(200)
            self.send_header("Content-Type", content_type)
            self.send_header("Cache-Control", "no-cache")
            self.send_header("X-Accel-Buffering", "no")
            # Unframed stream body under HTTP/1.1: declare the
            # connection non-reusable so conforming keep-alive clients
            # can delimit the body by EOF (ADVICE r1).
            self.send_header("Connection", "close")
            self.close_connection = True
            self.end_headers()
            idle = 0.0
            while not self.stopping.is_set():
                lines = sub.poll()
                if not lines:
                    time.sleep(_POLL_SECONDS)
                    idle += _POLL_SECONDS
                    if idle >= _HEARTBEAT_SECONDS:
                        # a client that disconnected while the stream
                        # is quiet is only detectable by a write —
                        # emit a protocol-neutral heartbeat (SSE
                        # comment / JSONL blank line) so dead sockets
                        # fail here instead of leaking the handler
                        # thread and hub subscription forever
                        self.wfile.write(heartbeat)
                        self.wfile.flush()
                        idle = 0.0
                    continue
                idle = 0.0
                for line in lines:
                    self.wfile.write(frame(line))
                    self.wfile.flush()
        except OSError:
            pass  # client closed connection while streaming
        finally:
            self.hub.unsubscribe(name)

    @staticmethod
    def _parse_epm(qs: dict[str, list[str]]) -> int | None:
        if "epm" not in qs:
            return None
        epm = int(qs["epm"][0])  # ValueError on junk
        if epm <= 0:
            raise ValueError(f"epm must be > 0: {epm}")
        return epm


class LivestreamHTTPServer:
    """Thread-per-client SSE/JSONL fan-out over a BroadcastHub."""

    def __init__(self, hub: BroadcastHub, host: str = "127.0.0.1", port: int = 0):
        self._stopping = threading.Event()
        handler = type(
            "BoundHandler", (_Handler,), {"hub": hub, "stopping": self._stopping}
        )
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="livestream-http", daemon=True
        )

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "LivestreamHTTPServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stopping.set()
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
