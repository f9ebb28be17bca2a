"""SparkSession factory.

Reference behavior being mirrored: the Clojure engine pins all timestamp
handling to UTC instants (access_log.clj:49-54 parses the Apache
``dd/MMM/yyyy:HH:mm:ss Z`` offset and renders ISO-8601 instants), so the
session timezone is pinned to UTC. Everything else is Spark-native
tuning for the target deployment: a large cluster scanning ~100 TB, with
AQE doing runtime re-planning (skew joins, partition coalescing).
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import logging
import os
import shutil
import time
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Timestamp parsing of English month abbreviations (dd/MMM/yyyy) must
# not depend on the JVM default locale (SURVEY.md §7 risk list).
_LOCALE_JAVA_OPTIONS = "-Duser.language=en -Duser.country=US -Duser.timezone=UTC"

# C1 only, in a driver whose work is short: no C2 compiles and no
# profiled tier-3 code. Live micro-batches and short batch jobs run
# Spark methods (planning, codegen source generation, closure cleaning,
# task serialization) that get warm but never hot, so C2's compiles
# never pay back within the work. Measured against
# the JDK's C2 with each Tier-4 threshold at 10x its default (4-core
# host, perfbench's 2g driver, alternating pairs, medians): live_tail
# driver CPU per 1,000 lines 1,710 -> 1,112 ms (12/12 pairs lower),
# setup 17.3 -> 13.8 CPU-s, JIT compile time at the end of the run
# 12.6 -> 6.7 s; batch_queries 2,041 -> 1,264 ms per query (10/10),
# setup 7.7 -> 6.0 CPU-s, JIT 17.8 -> 6.5 s. The saving is warm-up, so
# it belongs to short-lived JVMs. C1 code is slower once warm: over 300 s
# live runs (301 micro-batches) driver CPU per 1,000 lines still fell
# (586 -> 521 and 485 -> 479 ms), but in steady state each micro-batch
# planned and ran slower (planning p50 31/33 -> 40/45 ms, trigger p50
# 286/306 -> 316/351 ms, driver CPU over the second half +15%/+18%; two
# traced pairs), and long row loops run slower: sf0.1 registry queries
# at local[4], third of 3 passes, 2 runs a side, access_log_parse
# 2.16/2.07 -> 2.74/2.71 s, triangle_count 7.26/6.80 -> 9.76/9.46 s,
# dedup_clusters 6.10/5.51 -> 5.59/5.68 s, while their driver CPU summed
# over the 3 passes fell (triangle_count 90.7/78.7 -> 76.3/75.4 s);
# bench.py's 236-query sf0.01 inventory in one 2g session took 192.6 ->
# 255.7 s (one run a side). Hence the heap gate: the package's own
# entry points run at the 24g default and keep tiered C1+C2.
# Rejected: the 10x Tier-4 thresholds (the baseline of the figures
# above); -XX:CICompilerCount=2 on top of them
# (1,474/1,514/1,522 -> 1,477/1,426/1,540 ms per 1,000 lines, three
# pairs); Parallel or Serial GC instead of G1 (inside the noise).
_C1_ONLY_OPTIONS = " -XX:TieredStopAtLevel=1"

# The driver heap is the factory's measure of how much work its JVM is
# meant for: a local[N] driver is sized like the executor it is (24g by
# default), and one of at most 4 GiB only fits short work. The package's
# own entry points (CLIs, bench.py, the test session) use the default
# heap and keep the JDK's tiered C1+C2.
_SHORT_WORK_HEAP_MIB = 4096


def _heap_mib(mem: str) -> float:
    """A Spark memory string ("2g", "512m", "1t"; no suffix = MiB) in MiB."""
    mem = mem.strip().lower().removesuffix("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if mem[-1:] in scale:
        return float(mem[:-1]) * scale[mem[-1]]
    return float(mem)


def _driver_java_options(driver_mem: str) -> str:
    """The driver JVM's option string for a driver heap of ``driver_mem``:
    the locale flags always, C1-only compilation only for a short-work
    heap. Executors keep the JDK defaults: on a cluster they run the
    long row loops, and local[N] has no separate executor JVM."""
    if _heap_mib(driver_mem) <= _SHORT_WORK_HEAP_MIB:
        return _LOCALE_JAVA_OPTIONS + _C1_ONLY_OPTIONS
    return _LOCALE_JAVA_OPTIONS


# Class-data sharing: what JDK 19's -XX:+AutoCreateSharedArchive does,
# done by hand for JDK 17. The first driver JVM records the classes it
# loaded into a dynamic CDS archive at exit (-XX:ArchiveClassesAtExit);
# later drivers map them (-XX:SharedArchiveFile) instead of parsing,
# defining and verifying them from $SPARK_HOME/jars. Measured on a 4-core
# host, perfbench's 2g driver, at session-ready (HotSpot perf counters,
# two runs a side): class-loading time (sun.cls.time) 5.7 -> 2.2-2.5 s,
# verification 1.4 -> 0.02 s, classes loaded outside an archive
# 9,347 -> 1,398, driver JVM CPU 11.4-11.6 -> 6.8-7.8 s; perfbench
# batch_queries setup_s 12.4 -> 7.0 CPU-s (medians of 10 pairs). That
# needs a warm cache. The session that records pays more: with an empty
# cache, batch_queries setup_s 14.2 -> 17.4 CPU-s and cpu_ms_per_unit
# +13% (medians of 10 pairs, every pair worse), as JDK 17's dump mode
# makes each class dearer to define (2.3 -> 5.8 s at session-ready) and
# verify (1.8 -> 3.2 s); then several seconds at JVM exit and 140-170 MB
# of disk. Hence one attempt per key (below).
#
# Guards, each for a failure seen:
# - The JVM checks a dynamic archive against the JDK, the classpath and
#   the compressed-oops mode, so the archive's name carries a key hashed
#   from all of them (_archive_key).
# - The dump goes to a per-process <key>.<pid>.tmp. The JDK 17 writer
#   writes the header (magic first) last, so a tmp that starts with the
#   magic is complete; the next session renames it to <key>-<bytes>.jsa,
#   under a lock, and drops the other finished tmps of the key.
# - A key gets one dump attempt. While its tmp is unfinished (being
#   written, or left by a JVM killed before or during the dump) sessions
#   run without CDS flags: a failed dump costs as much as a good one,
#   and retrying it would make every later session pay that. A tmp whose
#   session is gone and that nothing wrote to for 10 min failed: it is
#   emptied into a <key>.<pid>.failed record, with one logged warning,
#   and stays until the cache dir is deleted. So concurrent cold
#   sessions dump once.
# - Archives of other keys (another JDK, Spark install or conf dir) that
#   no session mapped for 14 days are deleted; mapping one touches it.
# - Only an archive whose size equals the <bytes> in its name is mapped:
#   one cut short with its header intact killed the JVM at start with
#   SIGBUS (FileMapInfo::relocate_pointers_in_core_regions); JDK 17 does
#   not check the regions of a dynamic archive for truncation.
# - A dump fails ("Cannot have non-empty directory in paths") when a
#   non-empty directory leads the classpath, and Spark's launcher puts
#   the conf dir there. One holding only *.template files, which Spark
#   never reads, is swapped for an empty one; one holding anything else
#   keeps the JVM command without CDS flags, as does any other directory
#   on the classpath or an unusable cache.
# - A cold JVM logs hundreds of [warning][cds] lines ("Skipping ...:
#   Signed JAR") to stdout, which is the Python process's stdout; cds
#   logging is switched off.
_CDS_MAGIC = 0xF00BABA8  # JDK 17 dynamic archive, little-endian on disk
_CDS_LOG_OFF = "-Xlog:cds*=off"
# launcher inputs that add directories or jars to the driver classpath
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)
# a tmp that is neither finished nor being written (writes touch mtime)
_STALE_TMP_S = 600
# an archive of another key (another JDK, Spark install or conf dir)
# that no session mapped for this long is deleted
_UNUSED_S = 14 * 24 * 3600
# HotSpot turns compressed oops off for heaps of 32 GiB and more
_COMPRESSED_OOPS_MAX_MIB = 32 * 1024


def _has_magic(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return int.from_bytes(fh.read(4), "little") == _CDS_MAGIC
    except OSError:
        return False


def _archive_key(java_home: str, spark_home: str, conf_dir: str,
                 heap_mib: float) -> str:
    """A hash of what the JVM validates a dynamic archive against."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    parts: list = [os.path.realpath(java_home), os.path.realpath(spark_home),
                   conf_dir, heap_mib < _COMPRESSED_OOPS_MAX_MIB]
    for rel in ("lib/modules", "lib/server/libjvm.so"):
        st = os.stat(os.path.join(java_home, rel))
        parts.append((rel, st.st_size, st.st_mtime_ns))
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        parts.append((name, st.st_size, st.st_mtime_ns))
    h.update(repr(parts).encode())
    return h.hexdigest()[:24]


def _sound(archive: str) -> bool:
    """An archive's size equals the <bytes> in its name, header intact."""
    try:
        size = int(archive[:-len(".jsa")].rsplit("-", 1)[1])
        return os.path.getsize(archive) == size and _has_magic(archive)
    except (OSError, ValueError):
        return False


def _exited(tmp_name: str) -> bool:
    """The process that named dump ``<key>.<pid>.tmp`` is gone."""
    try:
        os.kill(int(tmp_name.split(".")[1]), 0)
    except ProcessLookupError:
        return True
    except (ValueError, PermissionError):
        pass
    return False


def _record_failed(tmp: str, cache: str) -> None:
    failed = tmp[:-len(".tmp")] + ".failed"
    os.replace(tmp, failed)
    os.truncate(failed, 0)
    logging.getLogger(__name__).warning(
        "class-data-sharing dump %s never finished; its JDK/Spark install "
        "gets no archive until %s is deleted", tmp, cache)


def _publish(cache: str, key: str) -> tuple[str | None, bool]:
    """Publish a finished dump of ``key``. Returns the one archive to
    map, or None, and whether ``key`` had a dump attempt that did not
    finish: one still being written, or one that failed. Drops unsound
    archives, finished dumps once the key has an archive and archives of
    other keys unused for _UNUSED_S. An unfinished dump whose process is
    gone and that nothing wrote to for _STALE_TMP_S failed: it becomes
    an empty ``.failed`` record of the attempt (or is dropped if the key
    has an archive)."""
    now = time.time()
    names = sorted(os.listdir(cache))
    jsas = [os.path.join(cache, n) for n in names
            if n.startswith(key + "-") and n.endswith(".jsa")]
    archives = [p for p in jsas if _sound(p)]
    drop = [p for p in jsas if p not in archives]
    attempted = False
    for name in names:
        path = os.path.join(cache, name)
        mine = name.startswith((key + "-", key + "."))
        try:
            age = now - os.path.getmtime(path)
            if name.endswith(".failed"):
                attempted |= mine
            elif name.endswith(".jsa"):
                if not mine and age > _UNUSED_S:
                    drop.append(path)
            elif not name.endswith(".tmp"):
                continue
            elif not _has_magic(path):
                attempted |= mine
                if age > _STALE_TMP_S and _exited(name):
                    if mine and archives:
                        drop.append(path)
                    else:
                        _record_failed(path, cache)
            elif not mine:
                if age > _UNUSED_S:
                    drop.append(path)
            elif archives:
                drop.append(path)
            else:
                dst = os.path.join(cache, f"{key}-{os.path.getsize(path)}.jsa")
                os.replace(path, dst)
                archives.append(dst)
        except FileNotFoundError:  # dropped by a concurrent session
            pass
    for path in drop + archives[1:]:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
    return (archives[0] if archives else None), attempted


def _class_archive(env: Mapping[str, str], spark_home: str, driver_mem: str,
                   pid: int) -> tuple[str, str | None]:
    """The driver's class-data-sharing options and the SPARK_CONF_DIR to
    launch it with (None: leave it as is), for launcher environment
    ``env``. ("", None) keeps the JVM command without CDS flags."""
    java_home = env.get("JAVA_HOME")
    if not java_home:  # the launcher's fallback: the java on PATH
        java = shutil.which("java", path=env.get("PATH"))
        java_home = java and os.path.dirname(os.path.dirname(os.path.realpath(java)))
    if not java_home or any(env.get(k) for k in _CLASSPATH_ENV):
        return "", None
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf_dir)
    except OSError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return "", None
    cache = os.path.join(
        env.get("XDG_CACHE_HOME")
        or os.path.join(env.get("HOME") or os.path.expanduser("~"), ".cache"),
        "dwds-livestream-spark", "cds")
    empty_conf = os.path.join(cache, "conf") if names else None
    try:
        os.makedirs(empty_conf or cache, exist_ok=True)
        key = _archive_key(java_home, spark_home, empty_conf or conf_dir,
                           _heap_mib(driver_mem))
        with open(os.path.join(cache, "publish.lock"), "a") as lock:
            # one session at a time publishes and claims a dump, so a key
            # keeps one archive and gets one dump attempt
            fcntl.flock(lock, fcntl.LOCK_EX)
            archive, attempted = _publish(cache, key)
            if archive:
                with contextlib.suppress(OSError):
                    os.utime(archive)  # in use: the prune of other keys keeps it
                flag = f"-XX:SharedArchiveFile={archive}"
            elif attempted:
                return "", None
            else:
                tmp = os.path.join(cache, f"{key}.{pid}.tmp")
                open(tmp, "ab").close()  # write probe; the JVM replaces it at exit
                flag = f"-XX:ArchiveClassesAtExit={tmp}"
    except OSError:
        return "", None
    return f"{flag} {_CDS_LOG_OFF}", empty_conf


def build_session(
    app_name: str = "dwds-livestream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    Defaults are sized for the local test harness (``local[N]``); on a
    real cluster the same factory is used with ``master=None`` (resource
    manager decides) and ``shuffle_partitions`` sized to ~2-3x total
    cores, or left to AQE coalescing from a high initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # local[N] keeps everything in the driver JVM, whose default 1g heap
    # starves 32 concurrent tasks (window sorts OOM ~20M rows). Size it
    # like the executor it actually is; harness override via env.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    heap = (extra_conf or {}).get("spark.driver.memory", driver_mem)
    driver_options = _driver_java_options(heap)
    # JVM options apply at launch only: skip the archive once the
    # gateway JVM of this process runs.
    archive_options, conf_dir = (
        ("", None) if SparkContext._gateway
        else _class_archive(os.environ, _find_spark_home(), heap, os.getpid()))
    if archive_options:
        driver_options += " " + archive_options

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # Determinism: the reference serializes UTC instants everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime re-planning: coalesce post-shuffle partitions, split
        # skewed partitions (the 100 TB story: skewed lemma/user keys).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the (rare) pandas_udf paths — vectorized transfer.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # JVM options go in defaultJavaOptions, which Spark puts AHEAD
        # of a caller's extraJavaOptions instead of being replaced by
        # them (perfbench, e.g., sets its own driver extraJavaOptions).
        .config("spark.driver.defaultJavaOptions", driver_options)
        .config("spark.executor.defaultJavaOptions", _LOCALE_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # InferFiltersFromGenerate turns explode(f(x)) into a pushed
        # Filter(size(f(x)) > 0) with f(x) fully inlined — the whole
        # array pipeline (tokenize -> shingle -> distinct) then runs
        # TWICE per row, the second copy in an interpreted Filter node
        # (measured 14x on the decontamination scan: 0.4s -> 6.9s at
        # sf0.1). Skipping empty-array rows before Generate is worth
        # far less than one extra full evaluation of the generator arg.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Driver testdata stores events.ts as TIMESTAMP(NANOS), which
        # Spark has no native type for; read as epoch-nanos long and
        # convert in the loader (plans/io.py) — same ns->µs truncation
        # DuckDB applies internally.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master.startswith("local"):
        # Single-JVM local mode has no data locality to wait for, but
        # the scheduler still honors spark.locality.wait when a task's
        # preferred locations can't be matched — measured as a flat
        # ~3 s stall on every coalesce(1) write of a parallelized
        # local relation (16-row centroid table: 4.2 s -> 0.5 s).
        # Cluster deployments keep the Spark default (or tune via
        # extra_conf); this only fires for local[N] masters.
        builder = builder.config("spark.locality.wait", "0s")
        # Streaming checkpoints through FileSystem, not FileContext.
        # Without libhadoop, FileContext's rename on the local file
        # system asks getFileLinkStatus, which forks `readlink` on the
        # `file:` URI string (it always fails): about 26 forks per live
        # micro-batch, and walCommit p50 ~47 ms against ~13 ms without
        # them (perfbench live_tail, 4-core host). The FileSystem
        # manager's rename is an exists check plus a POSIX rename,
        # which is atomic on a local disk; cluster masters keep
        # Spark's default for their object stores and HDFS.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    # the launcher reads SPARK_CONF_DIR from the environment it inherits
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def drop_leftover_state(spark: SparkSession) -> int:
    """Free per-query engine state between measured runs: the catalog
    cache AND leftover persisted RDD blocks. ``clearCache()`` alone
    misses ``localCheckpoint`` blocks (they are RDD-level, not catalog
    entries), so long measurement sessions accumulate them — measured
    (r6): dedup_clusters_ann, which checkpoints its edge/label frames,
    swings 5.5-70 s across identical sf1 runs as blocks pile up, and
    is a stable 4-5 s once they are dropped per run. Returns the
    number of RDDs unpersisted.
    """
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in jmap.values():
        jrdd.unpersist()
        n += 1
    return n
