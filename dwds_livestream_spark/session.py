"""SparkSession factory.

Reference behavior being mirrored: the Clojure engine pins all timestamp
handling to UTC instants (access_log.clj:49-54 parses the Apache
``dd/MMM/yyyy:HH:mm:ss Z`` offset and renders ISO-8601 instants), so the
session timezone is pinned to UTC. Everything else is Spark-native
tuning for the target deployment: a large cluster scanning ~100 TB, with
AQE doing runtime re-planning (skew joins, partition coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Timestamp parsing of English month abbreviations (dd/MMM/yyyy) must
# not depend on the JVM default locale (SURVEY.md §7 risk list).
_LOCALE_JAVA_OPTIONS = "-Duser.language=en -Duser.country=US -Duser.timezone=UTC"

# C2 (Tier 4) for truly hot code only, each threshold 10x its JDK 17
# default, in a driver whose work is short. Live micro-batches and short
# batch jobs run Spark methods that get warm but never hot; at the
# defaults the C2 compiler threads burned 17.9 of 38.2 driver CPU-s on a
# live_tail perfbench run and 28.8 of 54.9 on batch_queries. With these
# thresholds (4-core host, 2g driver) the run's JIT compile time fell
# 26.3 -> 10.4 s on live_tail and 31.6 -> 14.2 s on batch_queries, and
# driver CPU per 1,000 live lines fell 2,132 -> 1,339 ms (medians of 10
# runs). The saving is warm-up, so it belongs to short-lived JVMs: a
# long-lived session keeps lukewarm code in profiled C1 code and pays
# for it. With a 2g driver, 300 s live runs planned each micro-batch
# 5-9 ms slower (planning p50 18 -> 27 and 21 -> 26 ms, trigger p50
# 298 -> 362 and 310 -> 317 ms, two traced pairs), and bench.py's
# 236-query sf0.01 inventory took 12% longer (sum of per-query bests,
# 2 runs a side).
# Where the driver is also the executor at scale they cost time too:
# the 10 sf1 smoke queries at local[4] with an 8g driver took 6% longer
# in sum (dedup_ngram_jaccard 6.0 -> 7.4 s, dedup_clusters 8.0 -> 9.5 s
# medians), and 5x or 3x did not remove that.
# Rejected: C1 only (-XX:TieredStopAtLevel=1) cut live_tail CPU 55% but
# made the warm sf0.1 passes of heavy registry queries 1.6-1.9x slower
# (access_log_parse 2.55 s, triangle_count 7.3-8.3 s);
# -XX:CICompilerCount=2 cut only 22%.
_C2_HOT_ONLY_OPTIONS = (
    " -XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)

# The driver heap is the factory's measure of how much work its JVM is
# meant for: a local[N] driver is sized like the executor it is (24g by
# default), and one of at most 4 GiB only fits short work. The package's
# own entry points (CLIs, bench.py, the test session) use the default
# heap and keep the JDK thresholds.
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
    the locale flags always, the C2 thresholds only for a short-work
    heap. Executors keep the JDK defaults: on a cluster they run the
    long row loops, and local[N] has no separate executor JVM."""
    if _heap_mib(driver_mem) <= _SHORT_WORK_HEAP_MIB:
        return _LOCALE_JAVA_OPTIONS + _C2_HOT_ONLY_OPTIONS
    return _LOCALE_JAVA_OPTIONS


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
        .config(
            "spark.driver.defaultJavaOptions",
            _driver_java_options(
                (extra_conf or {}).get("spark.driver.memory", driver_mem)
            ),
        )
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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
