"""CLI entry points: scripts/collect.py as a subprocess smoke with
availableNow drain — JSONL in, typed homograph-encoded partitioned
parquet out — and scripts/serve.py's shutdown on SIGTERM. (serve.py
shares every component with test_serving.py's full-topology test; its
wall-clock streaming loop is exercised there without subprocess timing
flakiness.)"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_collect_cli_once(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    events = [
        {"timestamp": "2024-12-08T23:00:18Z", "lemma": "obskur",
         "lemma-type": "AR_G", "form-type": "Hauptform",
         "article-type": "Vollartikel", "source": "WDG",
         "date": "1974-01-01"},
        {"timestamp": "2024-12-09T01:02:03Z", "lemma": "Haus", "hidx": 2,
         "lemma-type": "AR_G", "form-type": "Hauptform",
         "article-type": "Vollartikel", "source": "WDG",
         "date": "1999-01-01"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(e) for e in events))
    out = tmp_path / "fact"

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "collect.py"),
         str(src), str(out), "--once",
         "--checkpoint", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=240, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]

    con = duckdb.connect()  # keep the connection referenced while reading
    rows = con.sql(
        f"SELECT ts, lemma, article_source, article_date "
        f"FROM read_parquet('{out}/*/*.parquet') ORDER BY ts"
    ).fetchall()
    assert [r[1] for r in rows] == ["obskur", "Haus#2"]  # P8 encode
    assert str(rows[0][0]) == "2024-12-08 23:00:18"      # P9 cast
    assert str(rows[1][3]) == "1999-01-01"
    # date partitioning (the fact-table layout the indexes map to)
    assert any(p.name.startswith("date=") for p in out.iterdir())


def test_serve_cli_stops_cleanly_on_sigterm(tmp_path):
    """SIGTERM stops the query, the HTTP server and the session from the
    main thread: exit code 0, and no py4j call from inside the signal
    handler (which would log a "reentrant call" traceback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = tmp_path / "dim.parquet"
    pq.write_table(pa.table({"lemma": ["obskur", "Band", "Band"],
                             "hidx": pa.array([None, 2, 1], pa.int32()),
                             "source": ["WDG", "ZDL", "DWDS"]}), dim)
    log = tmp_path / "access.log"
    log.write_text("")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    stderr = tmp_path / "stderr.txt"
    with open(stderr, "w") as err_file:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "scripts", "serve.py"),
             str(log), str(dim), "--port", "0",
             "--checkpoint", str(tmp_path / "ckpt")],
            stdout=subprocess.PIPE, stderr=err_file, text=True, env=env,
        )
    # a start that hangs ends the readline below instead of the test run
    watchdog = threading.Timer(240, proc.kill)
    watchdog.start()
    try:
        ready = proc.stdout.readline()
        assert ready.startswith("serving http://"), stderr.read_text()[-2000:]
        proc.send_signal(signal.SIGTERM)
        proc.communicate(timeout=120)
    finally:
        watchdog.cancel()
        proc.kill()
    err = stderr.read_text()
    assert proc.returncode == 0, err[-2000:]
    assert "reentrant" not in err
