"""The session factory's dynamic CDS archive: the selection function on a
fake JDK and Spark install (no JVM), and one end-to-end pair of fresh
driver JVMs, the first recording the archive at exit and the second
mapping it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

from dwds_livestream_spark.session import _CDS_MAGIC, _class_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# above any pid_max: no live process has it
_GONE = (1 << 22) + 1


def _install(tmp_path, conf_files=("spark-defaults.conf.template",)):
    """A fake JDK, Spark install and cache root; returns the launcher env
    and SPARK_HOME."""
    java = tmp_path / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (java / "lib" / "modules").write_bytes(b"m")
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"j")
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark / "conf").mkdir()
    for name in conf_files:
        (spark / "conf" / name).write_text("# not read\n")
    env = {"JAVA_HOME": str(java), "XDG_CACHE_HOME": str(tmp_path / "xdg")}
    return env, str(spark)


def _cache(tmp_path):
    return tmp_path / "xdg" / "dwds-livestream-spark" / "cds"


def _flag(options: str, name: str) -> str | None:
    for opt in options.split():
        if opt.startswith(f"-XX:{name}="):
            return opt.split("=", 1)[1]
    return None


def _finish_dump(path: str, size: int = 4096) -> None:
    """What the JDK 17 writer leaves: regions, then the header, magic first."""
    with open(path, "wb") as fh:
        fh.write(_CDS_MAGIC.to_bytes(4, "little") + b"\1" * (size - 4))


def test_cold_cache_records_an_archive_at_exit(tmp_path):
    env, spark_home = _install(tmp_path)
    options, conf_dir = _class_archive(env, spark_home, "2g", 4242)
    tmp = _flag(options, "ArchiveClassesAtExit")
    assert tmp is not None and _flag(options, "SharedArchiveFile") is None
    assert os.path.dirname(tmp) == str(_cache(tmp_path))
    assert tmp.endswith(".4242.tmp")
    # cds logging stays off the Python process's stdout
    assert "-Xlog:cds*=off" in options.split()
    # a templates-only conf dir is swapped for an empty one
    assert conf_dir == str(_cache(tmp_path) / "conf")
    assert os.listdir(conf_dir) == []


def test_finished_dump_is_published_under_its_size(tmp_path):
    env, spark_home = _install(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", 1)[0], "ArchiveClassesAtExit")
    _finish_dump(tmp, 5000)
    options, _ = _class_archive(env, spark_home, "2g", 2)
    archive = _flag(options, "SharedArchiveFile")
    key = os.path.basename(tmp).split(".")[0]
    assert archive == str(_cache(tmp_path) / f"{key}-5000.jsa")
    assert _flag(options, "ArchiveClassesAtExit") is None
    assert not os.path.exists(tmp)
    # a later session maps the same archive
    assert _flag(_class_archive(env, spark_home, "24g", 3)[0],
                 "SharedArchiveFile") == archive


def test_truncated_or_zeroed_archive_is_never_mapped_and_redumped(tmp_path):
    env, spark_home = _install(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", 1)[0], "ArchiveClassesAtExit")
    _finish_dump(tmp, 5000)
    archive = _flag(_class_archive(env, spark_home, "2g", 2)[0], "SharedArchiveFile")
    # cut short with its header intact: the JVM would die with SIGBUS
    os.truncate(archive, 1000)
    options, _ = _class_archive(env, spark_home, "2g", 3)
    assert _flag(options, "SharedArchiveFile") is None
    assert _flag(options, "ArchiveClassesAtExit").endswith(".3.tmp")
    assert not os.path.exists(archive)
    # the right size with a zeroed header is not mapped either
    _finish_dump(_flag(options, "ArchiveClassesAtExit"), 5000)
    archive = _flag(_class_archive(env, spark_home, "2g", 4)[0], "SharedArchiveFile")
    with open(archive, "r+b") as fh:
        fh.write(b"\0\0\0\0")
    options, _ = _class_archive(env, spark_home, "2g", 5)
    assert _flag(options, "SharedArchiveFile") is None
    assert _flag(options, "ArchiveClassesAtExit").endswith(".5.tmp")


def test_concurrent_cold_sessions_dump_once(tmp_path):
    env, spark_home = _install(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", 11)[0], "ArchiveClassesAtExit")
    # while the first JVM runs, sessions that start keep the plain command
    assert _class_archive(env, spark_home, "2g", 12) == ("", None)
    assert _class_archive(env, spark_home, "2g", 13) == ("", None)
    _finish_dump(tmp, 6000)
    key = os.path.basename(tmp).split(".")[0]
    # a finished dump of the key from elsewhere is dropped, not published
    _finish_dump(str(_cache(tmp_path) / f"{key}.99.tmp"), 5000)
    options, _ = _class_archive(env, spark_home, "2g", 14)
    archive = _flag(options, "SharedArchiveFile")
    assert archive is not None
    # a stale probe of a JVM that never dumped is dropped once the key
    # has its archive
    probe = _cache(tmp_path) / f"{key}.{_GONE}.tmp"
    probe.write_bytes(b"")
    old = time.time() - 3600
    os.utime(probe, (old, old))
    assert _flag(_class_archive(env, spark_home, "2g", 15)[0],
                 "SharedArchiveFile") == archive
    assert sorted(os.listdir(_cache(tmp_path))) == sorted(
        ["conf", "publish.lock", os.path.basename(archive)])


def _select_at(start, env, spark_home, pid):
    time.sleep(max(0.0, start - time.time()))
    return _class_archive(env, spark_home, "2g", pid)


def test_racing_publishers_agree_on_one_archive(tmp_path):
    """Eight processes (more than the cores) start sessions at once over
    six finished dumps of one key: each maps the same archive, and it is
    the only one left."""
    env, spark_home = _install(tmp_path)
    cache = _cache(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", 31)[0], "ArchiveClassesAtExit")
    key = os.path.basename(tmp).split(".")[0]
    for pid, size in zip(range(31, 37), (9000, 5000, 7000, 6000, 8000, 4000)):
        _finish_dump(str(cache / f"{key}.{pid}.tmp"), size)
    n = 8
    with ProcessPoolExecutor(n, mp_context=get_context("spawn")) as pool:
        # released together once every worker has started
        start = time.time() + 10
        results = list(pool.map(_select_at, [start] * n, [env] * n,
                                [spark_home] * n, range(40, 40 + n), timeout=120))
    archives = {_flag(options, "SharedArchiveFile") for options, _ in results}
    assert len(archives) == 1 and None not in archives
    assert [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp"))] == [
        os.path.basename(archives.pop())]


def test_failed_dump_is_not_retried(tmp_path, caplog):
    """A JVM killed while it dumped leaves a zero-header tmp: no later
    session dumps again for that key, and once its session is gone and
    the tmp is stale, it is emptied into a record, with one warning."""
    env, spark_home = _install(tmp_path)
    cache = _cache(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", _GONE)[0], "ArchiveClassesAtExit")
    with open(tmp, "wb") as fh:
        fh.write(b"\0" * 4096)
    other_key = cache / f"0123abcd.{_GONE}.tmp"
    other_key.write_bytes(b"\0" * 64)  # an interrupted dump of another install
    # fresh: it may still be written, and is left alone
    assert _class_archive(env, spark_home, "2g", 22) == ("", None)
    assert os.path.getsize(tmp) == 4096
    old = time.time() - 3600
    os.utime(tmp, (old, old))
    os.utime(other_key, (old, old))
    with caplog.at_level("WARNING", logger="dwds_livestream_spark.session"):
        for pid in (23, 24):
            assert _class_archive(env, spark_home, "2g", pid) == ("", None)
    assert len([r for r in caplog.records if tmp in r.getMessage()]) == 1
    assert sorted(n for n in os.listdir(cache) if n != "conf") == sorted([
        os.path.basename(tmp)[:-4] + ".failed", f"0123abcd.{_GONE}.failed",
        "publish.lock"])
    assert os.path.getsize(tmp[:-4] + ".failed") == 0


def test_long_session_is_not_taken_for_a_failed_dump(tmp_path):
    """The probe of a session that runs for hours stays: its JVM dumps
    when it exits, and the next session publishes that."""
    env, spark_home = _install(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", os.getpid())[0],
                "ArchiveClassesAtExit")
    old = time.time() - 3600
    os.utime(tmp, (old, old))
    assert _class_archive(env, spark_home, "2g", 2) == ("", None)
    assert os.path.exists(tmp)
    _finish_dump(tmp, 5000)
    assert _flag(_class_archive(env, spark_home, "2g", 3)[0], "SharedArchiveFile")


def test_archives_of_other_installs_are_dropped_when_unused(tmp_path):
    env, spark_home = _install(tmp_path)
    cache = _cache(tmp_path)
    tmp = _flag(_class_archive(env, spark_home, "2g", 1)[0], "ArchiveClassesAtExit")
    _finish_dump(tmp, 5000)
    unused, recent = cache / "0123abcd-4096.jsa", cache / "4567ef01-4096.jsa"
    for path in (unused, recent):
        _finish_dump(str(path))
    month = time.time() - 30 * 24 * 3600
    os.utime(unused, (month, month))
    os.utime(recent, (time.time() - 24 * 3600,) * 2)
    archive = _flag(_class_archive(env, spark_home, "2g", 2)[0], "SharedArchiveFile")
    assert not unused.exists() and recent.exists()
    # mapping an archive marks it used
    os.utime(archive, (month, month))
    _class_archive(env, spark_home, "2g", 3)
    assert time.time() - os.path.getmtime(archive) < 3600


def test_key_follows_the_install_and_the_oops_mode(tmp_path):
    env, spark_home = _install(tmp_path)

    def key(mem, pid=1):
        tmp = _flag(_class_archive(env, spark_home, mem, pid)[0], "ArchiveClassesAtExit")
        os.remove(tmp)  # no attempt left behind for the next call
        return os.path.basename(tmp).split(".")[0]

    small = key("2g")
    assert key("24g") == small
    assert key("32g") != small  # no compressed oops at 32 GiB
    jar = os.path.join(spark_home, "jars", "spark-core.jar")
    with open(jar, "ab") as fh:
        fh.write(b"more")
    assert key("2g") != small


def test_conf_dir_with_real_files_keeps_the_plain_command(tmp_path):
    env, spark_home = _install(
        tmp_path, conf_files=("spark-defaults.conf.template", "spark-defaults.conf"))
    assert _class_archive(env, spark_home, "2g", 1) == ("", None)
    # a SPARK_CONF_DIR that holds real files, too
    conf = tmp_path / "myconf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("")
    env, spark_home = _install(tmp_path / "b")
    assert _class_archive({**env, "SPARK_CONF_DIR": str(conf)},
                          spark_home, "2g", 1) == ("", None)
    # so does any other directory the launcher puts on the classpath
    assert _class_archive({**env, "HADOOP_CONF_DIR": str(conf)},
                          spark_home, "2g", 1) == ("", None)
    assert not _cache(tmp_path / "b").exists()


def test_empty_conf_dir_is_used_as_is(tmp_path):
    env, spark_home = _install(tmp_path, conf_files=())
    options, conf_dir = _class_archive(env, spark_home, "2g", 1)
    assert _flag(options, "ArchiveClassesAtExit") and conf_dir is None


def test_unwritable_cache_dir_gives_no_flags(tmp_path):
    env, spark_home = _install(tmp_path)
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert _class_archive({**env, "XDG_CACHE_HOME": str(blocker)},
                          spark_home, "2g", 1) == ("", None)


_ARCHIVE_SESSION = """
import json, sys
from dwds_livestream_spark.session import build_session

spark = build_session(
    master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions":
                f"-Xlog:class+load=info:file={sys.argv[1]}"},
)
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean() \\
    .getInputArguments()
print(json.dumps({"n": spark.range(3).count(),
                  "args": [str(a) for a in args if "Archive" in a]}))
gateway = spark.sparkContext._gateway
spark.stop()
# close the gateway JVM's stdin and wait: it writes the archive at exit
gateway.proc.stdin.close()
gateway.proc.wait()
"""


def test_second_session_maps_the_archive_the_first_recorded(tmp_path):
    """Two fresh 2g driver JVMs over an empty cache: the first records an
    archive at exit and prints nothing but its own line; the second
    publishes it and loads SparkContext from it."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="2g",
               XDG_CACHE_HOME=str(tmp_path / "xdg"))
    env.pop("SPARK_CONF_DIR", None)
    cache = _cache(tmp_path)
    seen = []
    for run in (1, 2):
        res = subprocess.run(
            [sys.executable, "-c", _ARCHIVE_SESSION, str(tmp_path / f"load{run}.log")],
            capture_output=True, text=True, timeout=240, env=env,
        )
        assert res.returncode == 0, res.stderr[-2000:]
        assert "[cds" not in res.stdout and "[cds" not in res.stderr
        lines = res.stdout.strip().splitlines()
        assert len(lines) == 1, res.stdout[-2000:]
        seen.append(json.loads(lines[0]))
    assert seen[0]["n"] == seen[1]["n"] == 3

    (dump,) = seen[0]["args"]
    assert dump.startswith(f"-XX:ArchiveClassesAtExit={cache}/")
    (mapped,) = seen[1]["args"]
    tmp = dump.split("=", 1)[1]
    key = os.path.basename(tmp).split(".")[0]
    archive = mapped.split("=", 1)[1]
    assert mapped.startswith("-XX:SharedArchiveFile=")
    assert os.path.basename(archive).startswith(key + "-")
    assert os.path.getsize(archive) == int(archive[:-4].rsplit("-", 1)[1])
    assert sorted(os.listdir(cache)) == sorted(
        ["conf", "publish.lock", os.path.basename(archive)])
    loads = (tmp_path / "load2.log").read_text()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads
