"""CLI entry points: scripts/collect.py as a subprocess smoke with
availableNow drain — JSONL in, typed homograph-encoded partitioned
parquet out — scripts/serve.py's shutdown on SIGTERM, and the session
factory's driver JVM options, session extensions and checkpoint file
manager, which only a fresh JVM shows. (serve.py shares every component
with test_serving.py's full-topology test; its wall-clock streaming loop
is exercised there without subprocess timing flakiness.)"""

from __future__ import annotations

import json
import os
import shutil
import signal
import stat
import subprocess
import sys
import threading
import time

import duckdb
import pytest

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


_PROBE_SESSION = """
import json
from dwds_livestream_spark.session import build_session

spark = build_session(
    master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions": "-Dprobe.flag=1 -Xms512m"},
)
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
diag = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
internal = getattr(getattr(jvm.org.apache.spark.sql.catalyst.analysis,
                           "FunctionRegistry$"), "MODULE$").internal()
print(json.dumps({
    **{k: jvm.java.lang.System.getProperty(k)
       for k in ("user.timezone", "user.language", "probe.flag")},
    "tiered_stop": diag.getVMOption("TieredStopAtLevel").getValue(),
    "load_from_cp": spark.conf.get("spark.sql.extensions.test.loadFromCp"),
    "internal_functions": sorted(
        str(f.funcName()) for f in
        jvm.scala.jdk.javaapi.CollectionConverters.asJava(internal.listFunction())),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def probed_session():
    """What a fresh 2g driver JVM built by the factory reports. A fresh
    JVM is needed: JVM options and static SQL confs only apply at
    launch. One JVM serves the tests below."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="2g")
    res = subprocess.run(
        [sys.executable, "-c", _PROBE_SESSION],
        capture_output=True, text=True, timeout=240, env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_session_java_options_merge_with_caller_extras(probed_session):
    """The factory's driver options (locale, timezone, and for a 2g
    driver C1-only compilation) sit in defaultJavaOptions, so a caller's
    extraJavaOptions adds to them instead of replacing them. The
    compiler level is read back from HotSpot, not from the argument
    list — Spark adds -XX:+IgnoreUnrecognizedVMOptions, so a misspelt
    flag would be dropped silently."""
    seen = {k: probed_session[k] for k in (
        "user.timezone", "user.language", "probe.flag", "tiered_stop")}
    assert seen == {"user.timezone": "UTC", "user.language": "en",
                    "probe.flag": "1", "tiered_stop": "1"}


def test_session_skips_classpath_extensions(probed_session):
    """The factory turns off loading SparkSessionExtensionsProviders
    from the classpath, so spark-mllib's InternalFunctionRegistration,
    whose Scala reflection set-up cost every session start about a third
    of its driver CPU, does not register pyspark.ml's vector_to_array/
    array_to_vector in the internal registry. Spark calls the flag
    test-only: a Spark that drops it ignores the conf, the extension
    loads again, and the registry read here shows it."""
    assert probed_session["load_from_cp"] == "false"
    internal = set(probed_session["internal_functions"])
    assert internal  # the registry was read
    assert not internal & {"vector_to_array", "array_to_vector"}


def test_c1_only_for_a_short_work_heap():
    """A driver heap of at most 4 GiB compiles with C1 only; a driver
    sized for scale (8g, the 24g default, a 1t cluster driver) keeps the
    JDK's tiered compilation, whose C2 pays back over long local-mode
    row loops."""
    from dwds_livestream_spark.session import _driver_java_options

    locale = "-Duser.language=en -Duser.country=US -Duser.timezone=UTC"
    for mem in ("512m", "2g", "2048", "4g", "4096m", "4G"):
        assert _driver_java_options(mem) == (
            locale + " -XX:TieredStopAtLevel=1"), mem
    for mem in ("4097m", "8g", "24g", "1t"):
        assert _driver_java_options(mem) == locale, mem


def _fork_shim(tmp_path, names):
    """A PATH directory whose ``names`` log each call to a file and
    then run the real command; returns (directory, log path)."""
    shim = tmp_path / "shim"
    shim.mkdir()
    log = tmp_path / "forks.log"
    for name in names:
        exe = shim / name
        exe.write_text(f'#!/bin/sh\necho "{name} $*" >> "{log}"\n'
                       f'exec "{shutil.which(name)}" "$@"\n')
        exe.chmod(exe.stat().st_mode | stat.S_IXUSR)
    return shim, log


def test_serve_checkpoints_fork_no_readlink(tmp_path):
    """A local session writes streaming checkpoints through the
    FileSystem manager: over three micro-batches of serve.py the driver
    forks no ``readlink`` (FileContext's rename on the local file
    system forks one per link-status lookup without libhadoop). The
    ``chmod`` forks that checkpoint files still cost show the shim is
    on the driver JVM's PATH."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = tmp_path / "dim.parquet"
    pq.write_table(pa.table({"lemma": ["obskur"], "hidx": pa.array([None], pa.int32()),
                             "source": ["WDG"]}), dim)
    logs = tmp_path / "logs"
    logs.mkdir()
    ckpt = tmp_path / "ckpt"
    shim, forks = _fork_shim(tmp_path, ("readlink", "chmod"))

    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               PATH=f"{shim}{os.pathsep}{os.environ['PATH']}")
    stderr = tmp_path / "stderr.txt"
    with open(stderr, "w") as err_file:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "scripts", "serve.py"),
             str(logs), str(dim), "--port", "0", "--trigger", "0.2 seconds",
             "--checkpoint", str(ckpt)],
            stdout=subprocess.PIPE, stderr=err_file, text=True, env=env,
        )
    watchdog = threading.Timer(120, proc.kill)
    watchdog.start()
    try:
        ready = proc.stdout.readline()
        assert ready.startswith("serving http://"), stderr.read_text()[-2000:]
        for batch in range(3):
            # written under a hidden name, then renamed: the file source
            # never lists a half-written file
            part = logs / f".{batch}.log"
            part.write_text(
                f'10.0.0.1 - - [08/Dec/2024:23:00:0{batch} +0000] '
                f'"GET /wb/obskur HTTP/1.1" 200 100 "-" "Mozilla/5.0"\n')
            part.rename(logs / f"{batch}.log")
            while not (ckpt / "commits" / str(batch)).exists():
                assert proc.poll() is None, stderr.read_text()[-2000:]
                time.sleep(0.05)
        proc.send_signal(signal.SIGTERM)
        proc.communicate(timeout=60)
    finally:
        watchdog.cancel()
        proc.kill()
    assert proc.returncode == 0, stderr.read_text()[-2000:]
    calls = forks.read_text().splitlines() if forks.exists() else []
    # the launcher's own scripts may fork readlink; the checkpoint's not
    assert [c for c in calls if c.startswith("readlink") and str(ckpt) in c] == []
    assert any(c.startswith("chmod") and str(ckpt) in c for c in calls)
