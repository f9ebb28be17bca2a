from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from dwds_livestream_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="dwds-livestream-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.files.openCostInBytes": "0"},
    )
    yield spark
    spark.stop()


@pytest.fixture()
def replay_http():
    """Start a long-poll JSONL replay server: ``replay_http(first,
    second)`` returns its URL. Connection 1 sends the ``first`` lines
    and closes abruptly (the client sees a mid-stream disconnect),
    connection 2 sends ``second``, later connections idle until
    teardown."""
    stopping = threading.Event()
    servers = []

    def start(first, second):
        class Handler(BaseHTTPRequestHandler):
            served = 0
            lock = threading.Lock()

            def log_message(self, *a):
                pass

            def do_GET(self):  # noqa: N802
                cls = type(self)
                with cls.lock:
                    cls.served += 1
                    turn = cls.served
                self.send_response(200)
                self.send_header("Content-Type", "text/jsonl")
                self.send_header("Connection", "close")
                self.end_headers()
                payload = first if turn == 1 else second if turn == 2 else None
                if payload is None:
                    while not stopping.wait(0.05):
                        pass
                    return
                for line in payload:
                    self.wfile.write(line.encode() + b"\n")
                    self.wfile.flush()

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        srv.daemon_threads = True
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return f"http://127.0.0.1:{srv.server_port}/api/jsonl"

    yield start
    stopping.set()
    for srv in servers:
        srv.shutdown()
        srv.server_close()
