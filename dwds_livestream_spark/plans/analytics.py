"""Batch analytics over the driver testdata (SURVEY.md §7 Phase 5 and
§2 operator parity queries).

The ``events`` table stands in for the reference's persisted impression
stream (FIXTURES.md §6); ``customer``/``nation``/``region`` play the
dimension role. Each query documents the reference operator(s) it
exercises. Scale notes inline: what the plan does at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.access_log import access_log_to_events
from ..localrel import local_df
from ..operators.asof import asof_join
from ..operators.dedup_dim import argmin_dedup
from ..operators.enrich import enrich
from ..operators.range_join import range_join
from ..operators.ranking import distributed_rank, ntile_from_rank
from ..operators.skew import salted_join
from .io import load_table as _t


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------- pipeline
def q_events_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3+P6 parity: cheap predicates then projection.

    Reference: status/lemma predicates before projection
    (access_log.clj:83, 66-68, 90-91). Both filters and the 4-column
    projection push into the parquet scan (PushedFilters/ReadSchema).
    """
    ev = _t(spark, sf_dir, "events")
    return ev.where((F.col("event_type") == "click") & (F.col("value") > 100.0)).select(
        "event_id", "ts", "user_id", "value"
    )


ORACLE_EVENTS_FILTER_PROJECT = """
SELECT event_id, ts, user_id, value
FROM events WHERE event_type = 'click' AND value > 100.0
"""


def q_events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 parity: stream-static broadcast LEFT equi-join
    (server.clj:12-14). The customer dimension is broadcast — the fact
    side never shuffles, which is the whole game at 100 TB.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "user_id")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return enrich(ev, dim, on="user_id")


ORACLE_EVENTS_ENRICH = """
SELECT e.event_id, e.ts, e.event_type, e.user_id, c.c_name, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


def q_argmin_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 parity: per-key argmin via one min_by aggregate —
    reference keeps the min-hidx homograph per lemma (wbdb.clj:20-28).
    Here: per order, the lowest line number's row. min_by's struct
    buffer is not HashAggregate-eligible, so the plan is Sort ->
    SortAggregate(partial) -> Exchange -> Sort -> SortAggregate: one
    shuffle on the group key, map-side partial agg, no window
    (operators/dedup_dim.py).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    # l_linenumber is not unique per order in the synthetic data, so the
    # tie-break must be total (reference ties are arrival-order,
    # wbdb.clj:20-22 — not reproducible distributed; see dedup_dim).
    return argmin_dedup(
        li,
        key="l_orderkey",
        order_col="l_linenumber",
        tie_breakers=["l_partkey", "l_suppkey", "l_quantity"],
    ).select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")


ORACLE_ARGMIN_DEDUP = """
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
FROM (
  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 parity: throughput metering as time-bucketed counts
    (metrics.clj:16-26 as a query). Partial aggregation map-side; at
    scale the (hour, type) key space is tiny so the shuffle is trivial.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n_events"))


ORACLE_EVENTS_PER_HOUR = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly per-key series over the 30-day events span with
    last-observation-carried-forward on the gaps (operators/gapfill.py
    — the time_bucket_gapfill/locf analog)."""
    from ..operators.gapfill import gap_fill_locf

    ev = _t(spark, sf_dir, "events")
    return gap_fill_locf(
        ev,
        [F.col("user_id") % 20],
        "ts",
        {"avg_value": F.round(F.avg("value"), 6)},
        step="hour",
    ).select(
        F.col("k0").alias("k"),
        "bucket",
        "avg_value",
        "avg_value_filled",
        "is_gap",
    )


ORACLE_GAP_FILL_LOCF = """
WITH b AS (SELECT user_id % 20 AS k, date_trunc('hour', ts) AS bucket,
                  ROUND(avg(value), 6) AS avg_value
           FROM events GROUP BY 1, 2),
ext AS (SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY k),
spine AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
          FROM ext),
j AS (SELECT s.k, s.bucket, b.avg_value
      FROM spine s LEFT JOIN b ON b.k = s.k AND b.bucket = s.bucket)
SELECT k, bucket, avg_value,
       last_value(avg_value IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_filled,
       avg_value IS NULL AS is_gap
FROM j
"""


def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps (the interpolate() companion to
    locf()); edges fall back to the nearest observation."""
    from ..operators.gapfill import gap_fill_interpolate

    ev = _t(spark, sf_dir, "events")
    return gap_fill_interpolate(
        ev,
        [F.col("user_id") % 20],
        "ts",
        F.round(F.avg("value"), 6),
        value_name="v",
        step="hour",
    ).withColumnRenamed("k0", "k")


ORACLE_GAP_FILL_INTERPOLATE = """
WITH b AS (SELECT user_id % 20 AS k, date_trunc('hour', ts) AS bucket,
                  ROUND(avg(value), 6) AS v
           FROM events GROUP BY 1, 2),
ext AS (SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY k),
spine AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
          FROM ext),
j AS (SELECT s.k, s.bucket, b.v
      FROM spine s LEFT JOIN b ON b.k = s.k AND b.bucket = s.bucket),
wnd AS (SELECT k, bucket, v,
  last_value(v IGNORE NULLS) OVER back AS prev_v,
  last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER back AS prev_t,
  first_value(v IGNORE NULLS) OVER fwd AS next_v,
  first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER fwd AS next_t
  FROM j
  WINDOW back AS (PARTITION BY k ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fwd AS (PARTITION BY k ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT k, bucket, v,
  CASE WHEN v IS NOT NULL THEN v
       WHEN prev_v IS NULL THEN next_v
       WHEN next_v IS NULL THEN prev_v
       ELSE prev_v + (next_v - prev_v) *
              ((epoch(bucket) - epoch(prev_t)) / (epoch(next_t) - epoch(prev_t)))
  END AS v_interp,
  v IS NULL AS is_gap
FROM wnd
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    counts at stage N only with an event strictly after their stage
    N-1 entry. Three keyed aggregations chained on user_id — every
    join and groupBy shares the same hash key, so the whole funnel is
    ONE shuffle lineage of the fact table (no re-partitioning between
    stages), then a 3-row summary."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.select(F.lit("1_view").alias("stage"), "user_id")
        .unionByName(s2.select(F.lit("2_click").alias("stage"), "user_id"))
        .unionByName(s3.select(F.lit("3_purchase").alias("stage"), "user_id"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_users"))
    )


ORACLE_FUNNEL = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT stage, count(*) AS n_users FROM (
  SELECT '1_view' AS stage, user_id FROM s1
  UNION ALL SELECT '2_click', user_id FROM s2
  UNION ALL SELECT '3_purchase', user_id FROM s3
) GROUP BY stage
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    distinct-active counted per week offset. Two aggregations on
    user_id + one join on the same key; the (cohort, offset) matrix is
    tiny at any scale."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    # .cast("date"): week-and-coarser truncation is a calendar date on
    # both engines (DuckDB's date_trunc('week') returns DATE)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "cohort",
            (F.datediff("w", "cohort") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


ORACLE_RETENTION_COHORTS = """
WITH first AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
               FROM events GROUP BY user_id),
active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
SELECT cohort,
       CAST(date_diff('day', cohort, w) / 7 AS INT) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
"""


def q_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k over sliding windows — the reference's viz use
    case ("what's hot right now", viz.cljs) as a first-class query:
    1-hour windows sliding every 15 minutes, top-3 event types per
    window, deterministic tie-break.

    Scale: the sliding window multiplies rows by overlap factor 4
    BEFORE the aggregate, but partial (map-side) combine collapses each
    partition to its local (window, type) counts, so the shuffle
    carries the tiny aggregated key space, not 4x the fact table. The
    rank partitions by window — bounded cardinality, no skew.
    """
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    rnk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n_events"), F.asc("event_type"))
    )
    return (
        counts.withColumn("rnk", rnk)
        .where(F.col("rnk") <= 3)
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events", "rnk"
        )
    )


# Spark's sliding window assigns each event to the 4 epoch-aligned
# 15-minute starts in (ts-1h, ts]; the oracle reproduces that directly.
ORACLE_TRENDING_TOPK = """
WITH wins AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) - (i * INTERVAL '15 minutes') AS win_start,
         event_type
  FROM events, unnest([0, 1, 2, 3]) AS t(i)
),
cnt AS (SELECT win_start, event_type, count(*) AS n_events
        FROM wins GROUP BY 1, 2),
r AS (SELECT *, CAST(row_number() OVER (
        PARTITION BY win_start ORDER BY n_events DESC, event_type) AS INT) AS rnk
      FROM cnt)
SELECT win_start, event_type, n_events, rnk FROM r WHERE rnk <= 3
"""


def q_key_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 parity: composite key encoding (lemma#hidx,
    collector.clj:82-84) — pure codegen projection, no shuffle."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.concat_ws("#", "event_type", "user_id").alias("event_key")
    )


ORACLE_KEY_ENCODE = """
SELECT event_id, concat(event_type, '#', CAST(user_id AS VARCHAR)) AS event_key
FROM events
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 parity: JSON payload extraction (from_json,
    collector.clj:32-34) with a post-extraction predicate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).where(F.col("k") >= 90)


ORACLE_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 90
"""


# ------------------------------------------------------------- analytics
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation, the headline
    batch-analytics query. Money math in DECIMAL (exact, engine-
    independent); averages as rounded doubles. Map-side partial agg +
    4-row result: at 100 TB this is bandwidth-bound scan, no skew.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    price, disc, tax = _dec("l_extendedprice"), _dec("l_discount"), _dec("l_tax")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money math stays DECIMAL (exact) through the aggregate; the
            # final cast to DOUBLE canonicalizes the *output type* so every
            # engine/driver renders the value identically (no trailing-zero
            # DECIMAL scale). Same exact decimal -> same double on both
            # engines, so the comparison is still exact.
            F.sum(_dec("l_quantity")).cast("decimal(18,2)").cast("double").alias("sum_qty"),
            F.sum(price).cast("decimal(18,2)").cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
  ROUND(AVG(l_quantity), 4) AS avg_qty,
  ROUND(AVG(l_discount), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> join -> grouped agg ->
    deterministic top-k. customer is broadcast (small side); lineitem
    never shuffles for the join. Top-k ties broken on o_orderkey so the
    LIMIT is total-order deterministic across engines.
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("decimal(18,4)").cast("double")
    return (
        li.join(
            F.broadcast(
                orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


ORACLE_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join across 6 tables. All dimensions
    (region->nation->supplier, customer) broadcast; the single shuffle
    is the orders⋈lineitem equi-join + final tiny agg.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nations_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(nations_in_region),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("decimal(18,4)").cast("double")
    return (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


ORACLE_Q5 = """
SELECT n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (SURVEY.md §7 Phase 5: top lemmata per source).
    Window ranking with deterministic tie-break; at scale this shuffles
    once on the group key — skewed brands are handled by AQE.
    """
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_name", "p_retailprice")
    )


ORACLE_TOP_PARTS = """
SELECT p_brand, rank, p_partkey, p_name, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rank
  FROM part
) WHERE rank <= 3
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (SURVEY.md §7 Phase 5): 30-minute inactivity gap.
    Two stacked windows over the same (user_id, ts) partitioning — one
    shuffle total; Spark reuses the exchange for both window frames.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap > 1800, 1).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts,
    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM g
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY user_id, session_no
"""


def q_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation per time bucket — not in the reference
    (§2.5 'not present'), added for the batch-analytics layer."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


ORACLE_USER_DAILY = """
SELECT user_id, date_trunc('day', ts) AS day,
       COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY 1, 2
"""


def q_access_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 + F1/F2/F5/F7 parity, oracle-checked end-to-end: synthesize
    Apache combined log lines from `events` (deterministically), then
    run the real parse/filter/project pipeline over them. The DuckDB
    oracle computes the surviving (timestamp, lemma) set directly from
    `events` — ground truth without re-implementing the regex.

    Exercised: typeahead pre-filter drop (user_id%7), non-200 drop
    (value<50 -> 404), bot-UA drop (user_id%10 -> Googlebot), timestamp
    roundtrip through dd/MMM/yyyy:HH:mm:ss Z.
    """
    # Partition-floor the scan (operators/spread.spread, no-op on a
    # multi-split source at scale): the sf-sized events parquet is ONE
    # split, so the synth + 9-group regex parse ran as a single task
    # (measured 2.5-3.7 s on one core at sf0.1). The parse pipeline
    # stays above this exchange because parse_log_lines routes its
    # field array through a Generate, which downstream predicates
    # cannot cross (plain projections/repartitions do not block the
    # pushdown — measured, see operators/spread.py note).
    from ..operators.spread import spread

    ev = spread(_t(spark, sf_dir, "events"))
    uri = F.when(
        F.col("user_id") % 7 == 0, F.lit("/wb/typeahead?q=x")
    ).otherwise(F.concat(F.lit("/wb/"), F.col("event_type")))
    status = F.when(F.col("value") < 50, F.lit(404)).otherwise(F.lit(200))
    ua = F.when(
        F.col("user_id") % 10 == 0,
        F.lit("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"),
    ).otherwise(F.lit("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101"))
    lines = ev.select(
        F.concat(
            F.lit('10.0.0.1 - - ['),
            F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
            F.lit(' +0000] "GET '),
            uri,
            F.lit(' HTTP/1.1" '),
            status.cast("string"),
            F.lit(' 1234 "-" "'),
            ua,
            F.lit('"'),
        ).alias("value")
    )
    return access_log_to_events(lines)


ORACLE_ACCESS_LOG_PARSE = """
SELECT date_trunc('second', ts) AS timestamp, event_type AS lemma
FROM events
WHERE user_id % 7 != 0        -- typeahead pre-filter (F1)
  AND value >= 50             -- synthesized 404s (F2)
  AND user_id % 10 != 0       -- bot user agents (F5)
"""


def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table scan + conjunctive filter + one
    global agg. All four predicates and the 3-column ReadSchema push
    into the parquet scan; at 100 TB this is pure scan bandwidth with a
    one-row partial-agg merge.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("decimal(18,4)")
        .cast("double")
        .alias("revenue")
    )


ORACLE_Q6 = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> LEFT SEMI join. The semi join needs
    only l_orderkey from lineitem (ReadSchema: 3 cols), dedups on the
    build side, and never widens rows — the scalable form of EXISTS.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    # synthetic lineitem has no commit/receipt dates; "has a returned
    # line" plays the EXISTS predicate role
    late = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: NOT EXISTS -> LEFT ANTI join, grouped. The anti
    join's build side is just o_custkey (deduped); the probe side never
    shuffles when the build side broadcasts.
    """
    cust = _t(spark, sf_dir, "customer")
    # "no RECENT orders" — every synthetic customer has some order, so
    # the unfiltered anti join would be a degenerate 0-row check
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec("c_acctbal"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_acctbal"),
        )
    )


ORACLE_CUSTOMERS_NO_ORDERS = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (hierarchical grouping sets) — multi-resolution pre-agg,
    the batch analog of a hypertable rollup. Spark computes all levels
    in one pass (Expand + single shuffle), not one scan per level.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("order_year", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
    )


ORACLE_ROLLUP_REVENUE = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderpriority)
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — matches
    quantile_cont). Exact percentile is the oracle baseline; at 100 TB
    the same query swaps to approx_percentile (t-digest sketch,
    mergeable map-side) with a documented error bound.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event matched to the same
    user's most recent order at-or-before the event time. The right
    side is pre-deduped to one row per (user, date) so the match is
    total-order deterministic across engines.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    dim = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("odate"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    return asof_join(
        ev, dim, on="user_id", left_ts="ts", right_ts="odate",
        payload=["last_orderkey"],
    )


ORACLE_ASOF_LATEST_ORDER = """
WITH d AS (
  SELECT o_custkey AS user_id, o_orderdate AS odate,
         MAX(o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.ts, e.user_id,
       d.odate AS matched_ts, d.last_orderkey
FROM events e ASOF LEFT JOIN d
  ON e.user_id = d.user_id AND e.ts >= d.odate
"""


def q_range_join_order_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/range_join.py): events falling in
    the 7 days after one of the same user's orders, counted per order.
    The oracle is the naive inequality join; the engine plan is the
    bin-quantized equi join (no nested loop).
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    # events live in 2024; shift order windows into the event epoch so
    # the join is non-degenerate (synthetic-data alignment, not an
    # operator concern).
    ords = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("user_id"),
        (F.col("o_orderdate") + F.expr("INTERVAL 26 YEARS"))
        .cast("timestamp")
        .alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 26 YEARS")
         + F.expr("INTERVAL 7 DAYS"))
        .cast("timestamp")
        .alias("w_end"),
    )
    joined = range_join(
        ev, ords, ts_col="ts", start_col="w_start", end_col="w_end",
        bin_width_seconds=7 * 86_400, equi=["user_id"],
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("*").alias("n_events"), F.min("ts").alias("first_event_ts")
    )


ORACLE_RANGE_JOIN_ORDER_WEEK = """
SELECT o_orderkey, COUNT(*) AS n_events, MIN(e.ts) AS first_event_ts
FROM events e
JOIN orders o
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate + INTERVAL 26 YEAR
 AND e.ts <  o.o_orderdate + INTERVAL 26 YEAR + INTERVAL 7 DAY
GROUP BY o_orderkey
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation x customer-nation shipping
    volume by year. Both nation dims broadcast onto supplier/customer,
    which broadcast onto the fact join; the only big shuffle is
    lineitem ⋈ orders.
    """
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    volume = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("decimal(18,4)").cast("double")
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(volume.alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
) GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    deterministic top-20. Selective returnflag filter reaches the scan;
    customer broadcast onto the aggregated result, not the fact table.
    """
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    ).cast("decimal(18,4)").cast("double")
    lost = (
        li.join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(revenue.alias("revenue"))
    )
    return (
        lost.join(F.broadcast(cust), lost.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_cube_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (all grouping-set combinations) over (event_type, day-of-
    week): like rollup, one Expand pass + a single shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", F.dayofweek("ts").cast("int"))
        .cube("event_type", "dow")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


ORACLE_CUBE_ACTIVITY = """
SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS INT))
"""


def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: reconcile per-user event counts with
    per-customer order counts — rows survive from either side."""
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count("*").alias("n_events"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("n_orders"))
    )
    return ev.join(orders, "key", "full_outer").select(
        "key", "n_events", "n_orders"
    )


ORACLE_FULL_OUTER_RECONCILE = """
WITH e AS (SELECT user_id AS key, COUNT(*) AS n_events FROM events GROUP BY 1),
o AS (SELECT o_custkey AS key, COUNT(*) AS n_orders FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1)
SELECT COALESCE(e.key, o.key) AS key, e.n_events, o.n_orders
FROM e FULL OUTER JOIN o ON e.key = o.key
"""


def q_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): the hot-key mitigation
    executes as (key, salt) join with a replicated dimension, and must
    produce exactly the plain-join result — which is the oracle."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(ev, dim, on="user_id", how="inner", salt=8).select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )


ORACLE_SALTED_HOT_KEY_JOIN = """
SELECT event_id, user_id, event_type, c_mktsegment
FROM events JOIN customer ON user_id = c_custkey
"""


def q_normalize_abbreviate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 parity (viz.cljs:89-98): string replace-normalize, truncate
    long names with an ellipsis, and build a 'name – yyyy' description.
    Pure codegen projection."""
    part = _t(spark, sf_dir, "part")
    name = F.regexp_replace(F.col("p_name"), "_[0-9]+$", "")
    short = F.when(
        F.length(name) > 25, F.concat(F.substring(name, 1, 24), F.lit("…"))
    ).otherwise(name)
    return part.select(
        "p_partkey",
        short.alias("short_name"),
        F.concat_ws(
            " – ", F.col("p_brand"), F.lower(F.trim(F.col("p_type")))
        ).alias("descr"),
    )


ORACLE_NORMALIZE_ABBREVIATE = """
WITH n AS (
  SELECT p_partkey, regexp_replace(p_name, '_[0-9]+$', '') AS name,
         p_brand, p_type
  FROM part
)
SELECT p_partkey,
       CASE WHEN length(name) > 25
            THEN substr(name, 1, 24) || '…' ELSE name END AS short_name,
       concat_ws(' – ', p_brand, lower(trim(p_type))) AS descr
FROM n
"""


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts, one column per event type. Spark
    pivot with an explicit value list compiles to conditional
    aggregates — one shuffle, no per-value scans."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


ORACLE_EVENT_TYPE_PIVOT = """
SELECT date_trunc('day', ts) AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events GROUP BY 1
"""


def q_active_buyer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation coverage: INTERSECT of two derived key sets
    (users with purchase events ∩ customers with 1998+ orders).
    Spark plans intersect as a left-semi over distinct sets."""
    buyers = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("key"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("key"))
    )
    return buyers.intersect(recent)


ORACLE_ACTIVE_BUYER_OVERLAP = """
SELECT user_id AS key FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT o_custkey AS key FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
"""


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame coverage: 7-row trailing moving average + cumulative
    count of daily order totals. One shuffle on the (empty) partition
    key... partitioned per priority so it scales by key."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.to_date("o_orderdate").alias("day")
        )
        .agg(
            F.sum(_dec("o_totalprice"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("day")
    return daily.select(
        "o_orderpriority",
        "day",
        "total",
        F.round(
            F.avg(F.col("total").cast("double")).over(w.rowsBetween(-6, 0)), 4
        ).alias("ma7"),
        F.count("*").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("n_days_so_far"),
    )


ORACLE_MOVING_AVG = """
WITH daily AS (
  SELECT o_orderpriority, CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, day, total,
       ROUND(AVG(CAST(total AS DOUBLE)) OVER (PARTITION BY o_orderpriority
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
       COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS n_days_so_far
FROM daily
"""


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): the four lineitem measures melted into
    (measure, amount) rows — the inverse of q_event_type_pivot. Spark's
    unpivot is a pure Expand projection (rows x 4, no shuffle, no
    join); the date filter still prunes the scan beforehand.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "amount",
    )


ORACLE_LINEITEM_UNPIVOT = """
SELECT l_orderkey, l_linenumber, measure, amount FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS amount FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
)
"""


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling: per-column stats (rows, nulls, distinct, typed
    min/max) over events in ONE aggregation pass — the ingest-QA step
    of a training-data pipeline. All per-column aggregates run in a
    single agg (multi-distinct compiles to one Expand); the long
    per-column layout comes from exploding an inline struct array, not
    from re-scanning per column.
    """
    ev = _t(spark, sf_dir, "events")
    nul = lambda t: F.lit(None).cast(t)  # noqa: E731
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"cnt_{c}") for c in ["event_id", "user_id", "value", "ts", "event_type"]],
        *[F.countDistinct(c).alias(f"dis_{c}") for c in ["event_id", "user_id", "value", "ts", "event_type"]],
        F.min("event_id").cast("double").alias("min_event_id"),
        F.max("event_id").cast("double").alias("max_event_id"),
        F.min("user_id").cast("double").alias("min_user_id"),
        F.max("user_id").cast("double").alias("max_user_id"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("event_type").alias("min_str"),
        F.max("event_type").alias("max_str"),
    )

    def row(col, min_num, max_num, min_ts, max_ts, min_s, max_s):
        return F.struct(
            F.lit(col).alias("column"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"cnt_{col}")).alias("n_null"),
            F.col(f"dis_{col}").alias("n_distinct"),
            min_num.alias("min_num"), max_num.alias("max_num"),
            min_ts.alias("min_ts"), max_ts.alias("max_ts"),
            min_s.alias("min_str"), max_s.alias("max_str"),
        )

    rows = F.array(
        row("event_id", F.col("min_event_id"), F.col("max_event_id"),
            nul("timestamp"), nul("timestamp"), nul("string"), nul("string")),
        row("user_id", F.col("min_user_id"), F.col("max_user_id"),
            nul("timestamp"), nul("timestamp"), nul("string"), nul("string")),
        row("value", F.col("min_value"), F.col("max_value"),
            nul("timestamp"), nul("timestamp"), nul("string"), nul("string")),
        row("ts", nul("double"), nul("double"),
            F.col("min_ts"), F.col("max_ts"), nul("string"), nul("string")),
        row("event_type", nul("double"), nul("double"),
            nul("timestamp"), nul("timestamp"), F.col("min_str"), F.col("max_str")),
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


ORACLE_EVENTS_PROFILE = """
SELECT 'event_id' AS column, count(*) AS n_rows,
       count(*) - count(event_id) AS n_null, count(DISTINCT event_id) AS n_distinct,
       CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
       CAST(NULL AS TIMESTAMP) AS min_ts, CAST(NULL AS TIMESTAMP) AS max_ts,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM events
UNION ALL
SELECT 'user_id', count(*), count(*) - count(user_id), count(DISTINCT user_id),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
       NULL, NULL, NULL, NULL
FROM events
UNION ALL
SELECT 'value', count(*), count(*) - count(value), count(DISTINCT value),
       min(value), max(value), NULL, NULL, NULL, NULL
FROM events
UNION ALL
SELECT 'ts', count(*), count(*) - count(ts), count(DISTINCT ts),
       NULL, NULL, min(ts), max(ts), NULL, NULL
FROM events
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type), count(DISTINCT event_type),
       NULL, NULL, NULL, NULL, min(event_type), max(event_type)
FROM events
"""


# ------------------------------------------------------- anomaly detection
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection over the event stream: hourly count per
    event_type scored against its trailing-24h mean/stddev; |z| >= 2
    flags a spike or dropout. The batch form of what the reference's
    throughput meters (metrics.clj:16-26) would alert on.

    Scale: one shuffle to (event_type, hour) — cardinality ~types x
    hours, tiny vs input — then a keyed window per event_type.
    Pre-aggregation makes the window input small no matter how large
    the raw stream is; at 100 TB the scan dominates and is
    column-pruned to (ts, event_type)."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "hour",
        "n",
        F.count("*").over(w).alias("n_hist"),
        F.avg(F.col("n").cast("double")).over(w).alias("mean_n"),
        F.stddev(F.col("n").cast("double")).over(w).alias("sd_n"),
    )
    return (
        scored.where(
            (F.col("n_hist") >= 12)
            & (F.col("sd_n") > 0)
            & (F.abs((F.col("n") - F.col("mean_n")) / F.col("sd_n")) >= 2.0)
        )
        .select(
            "event_type",
            "hour",
            "n",
            F.round("mean_n", 4).alias("mean_n"),
            F.round(
                (F.col("n") - F.col("mean_n")) / F.col("sd_n"), 4
            ).alias("z"),
        )
    )


ORACLE_ANOMALY_ZSCORE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n,
         count(*) OVER w AS n_hist,
         avg(CAST(n AS DOUBLE)) OVER w AS mean_n,
         stddev_samp(CAST(n AS DOUBLE)) OVER w AS sd_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n, round(mean_n, 4) AS mean_n,
       round((n - mean_n) / sd_n, 4) AS z
FROM scored
WHERE n_hist >= 12 AND sd_n > 0 AND abs((n - mean_n) / sd_n) >= 2.0
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style next-event transition counts: per user, order events
    by time and count (event_type -> next event_type) pairs — the
    behavioral-model companion to q_funnel.

    Scale: ONE shuffle on user_id feeds both the ordering window and
    (via partial aggregation) the tiny transition matrix; no
    self-join. Deterministic tie-break on event_id."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions
FROM pairs WHERE to_type IS NOT NULL
GROUP BY 1, 2
"""


# ------------------------------------------------------------- histogram
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of event values per type: 20 bins over
    [0, 200), out-of-range clamped to edge bins. Single-pass (no
    min/max pre-scan), pure arithmetic binning -> one shuffle on the
    tiny (type, bin) key space with map-side partial aggregation."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.least(
        F.greatest(F.floor(F.col("value") / 10.0), F.lit(0)), F.lit(19)
    ).cast("int")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
        )
    )


ORACLE_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(least(greatest(floor(value / 10.0), 0), 19) AS INT) AS bin,
       count(*) AS n,
       round(min(value), 2) AS min_v,
       round(max(value), 2) AS max_v
FROM events GROUP BY 1, 2
"""


def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user event sample: 3 events per user chosen by
    content-addressed md5 order — rerun-stable, engine-independent, no
    RNG state (the distributed analog of reservoir sampling; same
    content-hash trick as mixture_sample / stratified_split).

    One shuffle on user_id; the window's per-partition top-k never
    materializes more than k rows per key past the sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= 3)
        .select("user_id", "pick", "event_id", "event_type")
    )


ORACLE_SAMPLE_PER_KEY = """
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS pick
  FROM events
)
SELECT user_id, pick, event_id, event_type FROM ranked WHERE pick <= 3
"""


def q_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate battery per event type: Pearson
    correlation, sample covariance/stddev, and the OLS trend
    (regr_slope/intercept) of value against hour-of-day.

    One hash aggregate — every moment accumulates map-side in the same
    pass (no second scan, no window); at 100 TB this is a pure
    partial/final aggregate keyed by the 5-value event_type."""
    ev = _t(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr("value", x), 6).alias("corr_hour"),
            F.round(F.covar_samp("value", x), 6).alias("covar_hour"),
            F.round(F.stddev_samp("value"), 6).alias("stddev_value"),
            F.round(F.regr_slope(F.col("value"), x), 6).alias("slope"),
            F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        )
    )


ORACLE_STATS_REGRESSION = """
SELECT event_type,
       count(*) AS n,
       round(corr(value, CAST(hour(ts) AS DOUBLE)), 6) AS corr_hour,
       round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6) AS covar_hour,
       round(stddev_samp(value), 6) AS stddev_value,
       round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6) AS slope,
       round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 6) AS intercept
FROM events GROUP BY event_type
"""


def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile summary of value per event type: ntile(10) over a TOTAL
    order (value, event_id tie-break — deterministic on any engine),
    then per-decile count/min/max. One shuffle keyed by event_type for
    the window + one keyed aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


ORACLE_VALUE_DECILES = """
WITH d AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events)
SELECT event_type, decile, count(*) AS n,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM d GROUP BY 1, 2
"""


def q_spend_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend distribution position: percent_rank and cume_dist
    of each buyer's total purchase value (top-1% / long-tail analysis).

    Scale: the per-user aggregate is the corpus-sized shuffle; the rank
    itself comes from operators/ranking.distributed_rank (equi-depth
    bucketed, hash-partitioned windows) — NOT a bare global window, so
    no single task ever sorts all users. The ordering key
    (spend desc, user_id) is total, so percent_rank/cume_dist collapse
    to (rn-1)/(n-1) and rn/n — identical values to the window
    built-ins, as the oracle proves.
    """
    ev = _t(spark, sf_dir, "events")
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("spend"))
    )
    ranked = distributed_rank(
        spend,
        "spend",
        descending=True,
        tiebreakers=[F.asc("user_id")],
        rank_col="__rn",
        total_col="__n",
    )
    rn, n = F.col("__rn"), F.col("__n")
    return ranked.select(
        "user_id",
        "spend",
        F.round(
            F.when(n > 1, (rn - 1) / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rn / n, 6).alias("cume"),
    )


ORACLE_SPEND_PERCENT_RANK = """
WITH spend AS (
  SELECT user_id, round(sum(value), 6) AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT user_id, spend,
       round(percent_rank() OVER (ORDER BY spend DESC, user_id ASC), 6) AS pct_rank,
       round(cume_dist() OVER (ORDER BY spend DESC, user_id ASC), 6) AS cume
FROM spend
"""


# ------------------------------------------------------- time-series battery
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resample: per (event_type, hour) open/high/low/close bars
    over the event value — the classic time-series downsampling shape
    (reference's persisted table exists for exactly this kind of
    longer-period analysis, README.md:9-12).

    Scale: one hash shuffle on (event_type, hour); the two row_number
    windows and the final groupBy share that partitioning, so Catalyst
    reuses a single Exchange. Bars/hour is bounded, so the result is
    tiny regardless of input size.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour"),
        "ts", "event_id", "value",
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "*",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
    )


ORACLE_OHLC_BARS = """
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, hour,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events
FROM r GROUP BY event_type, hour
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation is held
    until the next one, so it is weighted by its holding duration
    (standard irregular-time-series mean; plain AVG over-weights
    bursts). Integer microsecond weights keep the arithmetic exact
    until the final division.

    Scale: one shuffle on user_id shared by the lead() window and the
    groupBy; per-user state is a running sum, never a buffer.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    seg = ev.select(
        "user_id", "value", (F.lead(t_us).over(w) - t_us).alias("dt_us")
    ).where(F.col("dt_us").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            (F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us")).alias("twa_raw"),
            F.sum("dt_us").alias("span_us"),
            F.count("*").alias("n_segments"),
        )
        .where(F.col("span_us") > 0)
        .select(
            "user_id",
            F.round("twa_raw", 4).alias("twa"),
            "span_us",
            "n_segments",
        )
    )


ORACLE_TIME_WEIGHTED_AVG = """
WITH seg AS (
  SELECT user_id, value,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt_us
  FROM events)
SELECT user_id, ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS twa,
       CAST(SUM(dt_us) AS BIGINT) AS span_us, COUNT(*) AS n_segments
FROM seg WHERE dt_us IS NOT NULL
GROUP BY user_id HAVING SUM(dt_us) > 0
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type: clamp values to the exact
    [p05, p95] band (F.percentile — exact linear interpolation, the
    same definition as SQL percentile_cont) and compare the clamped
    mean against the raw mean — the robust-mean step of an outlier-
    tolerant metrics pipeline.

    Scale: percentiles aggregate to one tiny frame (rows = #types)
    that is broadcast back; the base table is scanned twice but never
    shuffled on a wide key. Exact percentile needs a per-group sort at
    scale — swap F.percentile for percentile_approx when the group
    cardinality makes that sort the bottleneck (documented trade).
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    j = ev.join(F.broadcast(pct), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg(clamped), 4).alias("mean_winsorized"),
        F.round(F.min("p05"), 4).alias("p05"),
        F.round(F.min("p95"), 4).alias("p95"),
    )


ORACLE_WINSORIZE = """
WITH pct AS (
  SELECT event_type,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS p05,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS p95
  FROM events GROUP BY event_type)
SELECT e.event_type, COUNT(*) AS n,
       ROUND(AVG(e.value), 4) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(e.value, p.p05), p.p95)), 4) AS mean_winsorized,
       ROUND(MIN(p.p05), 4) AS p05, ROUND(MIN(p.p95), 4) AS p95
FROM events e JOIN pct p USING (event_type)
GROUP BY e.event_type
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind cube/rollup,
    which q_cube_activity / q_rollup_revenue already cover): per
    (type, day), per type, per day, and grand total in ONE pass with
    GROUPING() flags disambiguating real NULLs from subtotal rows.

    Scale: Spark plans this as a single Expand (4x row multiply)
    followed by one hash aggregate — one shuffle, no self-union of
    four scans.
    """
    ev = _t(spark, sf_dir, "events")
    ev.select(
        "event_type", F.to_date("ts").alias("day"), "value"
    ).createOrReplaceTempView("gs_events")
    return spark.sql(
        """
        SELECT event_type, day,
               CAST(GROUPING(event_type) AS INT) AS g_type,
               CAST(GROUPING(day) AS INT) AS g_day,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM gs_events
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(GROUPING(event_type) AS INT) AS g_type,
       CAST(GROUPING(CAST(ts AS DATE)) AS INT) AS g_day,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)), (event_type),
                        (CAST(ts AS DATE)), ())
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median absolute
    deviation (MAD), flagging values beyond 3 scaled MADs
    (1.4826 * MAD estimates sigma under normality) — the robust
    alternative to the z-score battery in q_anomaly_zscore.

    Scale: two aggregate passes over the base frame with the tiny
    per-type medians broadcast back between them; nothing wide ever
    shuffles. F.median is exact (interpolated) to hash-match the
    oracle; at extreme group sizes swap for approx_percentile(0.5).
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value").where(
        F.col("value").isNotNull()
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    stats = dev.groupBy("event_type").agg(
        F.median("adev").alias("mad"),
        F.min("med").alias("med"),
        F.count("*").alias("n"),
    )
    out = (
        dev.join(F.broadcast(stats.select("event_type", "mad")), "event_type")
        .where(F.col("adev") > 3 * 1.4826 * F.col("mad"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_out"))
    )
    return stats.join(out, "event_type", "left").select(
        "event_type",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n",
        F.coalesce("n_out", F.lit(0)).cast("long").alias("n_outliers"),
    )


ORACLE_MAD_OUTLIERS = """
WITH base AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
med AS (SELECT event_type, median(value) AS med FROM base GROUP BY event_type),
dev AS (SELECT b.event_type, m.med, abs(b.value - m.med) AS adev
        FROM base b JOIN med m USING (event_type)),
stats AS (SELECT event_type, median(adev) AS mad, MIN(med) AS med,
                 COUNT(*) AS n
          FROM dev GROUP BY event_type)
SELECT s.event_type, ROUND(s.med, 4) AS med, ROUND(s.mad, 4) AS mad, s.n,
       COALESCE(o.n_out, 0) AS n_outliers
FROM stats s LEFT JOIN (
  SELECT d.event_type, COUNT(*) AS n_out
  FROM dev d JOIN stats t USING (event_type)
  WHERE d.adev > 3 * 1.4826 * t.mad GROUP BY d.event_type) o
USING (event_type)
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (CDC apply): read `events` as an
    upsert/delete stream keyed by (user_id, event_type) — a row is a
    DELETE when value < 10, else an UPSERT; the last writer by
    (ts, event_id) wins. Output is the live keyed state, i.e. the
    MERGE INTO / log-structured-table compaction primitive.

    Scale: one shuffle on the state key; row_number keeps only the
    head per key, so the output is bounded by key cardinality. At
    100 TB this is exactly how a snapshot is derived from a CDC log —
    partition the log by key-hash and compact per partition.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = ev.select("*", F.row_number().over(w).alias("rn")).where(
        F.col("rn") == 1
    )
    return latest.where(F.col("value") >= 10).select(
        "user_id",
        "event_type",
        F.col("ts").alias("updated_at"),
        F.col("value").alias("state_value"),
    )


ORACLE_CDC_APPLY = """
WITH r AS (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, ts AS updated_at, value AS state_value
FROM r WHERE rn = 1 AND value >= 10
"""


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval analytics: each event opens an interval of
    floor(value) seconds; report the peak number of simultaneously
    open intervals per event_type and the first instant it is reached
    (max-concurrent-sessions / capacity planning shape).

    Scale: +1/-1 endpoint deltas are pre-aggregated per (type, t) —
    map-side combinable — then ONE keyed shuffle feeds the running
    sum and the peak ranking (same partitioning, exchange reused).
    Integer-microsecond arithmetic end to end; floor() pinned on both
    sides because SQL CAST(double AS INT) rounds where Spark truncates.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.unix_micros("ts").alias("s_us"),
            (
                F.unix_micros("ts")
                + F.floor("value").cast("long") * F.lit(1_000_000)
            ).alias("e_us"),
        )
    )
    deltas = ev.select(
        "event_type", F.col("s_us").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        ev.select("event_type", F.col("e_us").alias("t"), F.lit(-1).alias("d"))
    )
    per_t = deltas.groupBy("event_type", "t").agg(F.sum("d").alias("net"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = per_t.select("event_type", "t", F.sum("net").over(w).alias("open"))
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("open").desc(), F.col("t").asc()
    )
    return (
        run.select("*", F.row_number().over(w2).alias("rn"))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("open").alias("peak_concurrency"),
            F.timestamp_micros("t").alias("peak_at"),
        )
    )


ORACLE_MAX_CONCURRENCY = """
WITH iv AS (
  SELECT event_type, epoch_us(ts) AS s_us,
         epoch_us(ts) + CAST(FLOOR(value) AS BIGINT) * 1000000 AS e_us
  FROM events WHERE value IS NOT NULL),
d AS (SELECT event_type, s_us AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e_us AS t, -1 AS d FROM iv),
per_t AS (SELECT event_type, t, SUM(d) AS net FROM d GROUP BY 1, 2),
run AS (SELECT event_type, t,
               SUM(net) OVER (PARTITION BY event_type ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS open
        FROM per_t),
rk AS (SELECT event_type, t, open,
              row_number() OVER (PARTITION BY event_type
                                 ORDER BY open DESC, t ASC) AS rn
       FROM run)
SELECT event_type, CAST(open AS BIGINT) AS peak_concurrency, make_timestamp(t) AS peak_at
FROM rk WHERE rn = 1
"""


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive active days per
    user (the canonical streak/retention shape). Island anchor =
    day - row_number(), constant exactly along a consecutive run.

    Scale: distinct() and both windows all hash on user_id — one
    logical partitioning reused; per-user state is day-count sized.
    """
    days = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    streaks = (
        days.select(
            "user_id",
            "day",
            F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
        )
        .groupBy("user_id", "anchor")
        .agg(F.count("*").alias("streak_days"), F.min("day").alias("start_day"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("start_day").asc()
    )
    return (
        streaks.select("*", F.row_number().over(w2).alias("rn"))
        .where(F.col("rn") == 1)
        .select("user_id", "streak_days", "start_day")
    )


ORACLE_ACTIVITY_STREAKS = """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS anchor
      FROM days),
s AS (SELECT user_id, anchor, COUNT(*) AS streak_days, MIN(day) AS start_day
      FROM g GROUP BY 1, 2),
r AS (SELECT user_id, streak_days, start_day,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, start_day ASC) AS rn
      FROM s)
SELECT user_id, streak_days, start_day FROM r WHERE rn = 1
"""


def q_regex_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-driven bot filter (SURVEY.md §2.4): when the 173 rlike
    alternations (F5) become a *table* of patterns, the scalable form
    is a broadcast ANTI join with an rlike theta-condition — new
    patterns deploy as data, no plan change. Demonstrated over UAs
    synthesized deterministically from `events`.

    Scale: the pattern side is tiny and broadcast; the fact side
    streams through a BroadcastNestedLoopJoin — no shuffle, no
    collect. (RE2-safe patterns here so DuckDB can mirror the
    predicate; the Java-dialect lookaround patterns live in
    functions/bots.py and are covered by access_log_parse.)
    """
    ev = _t(spark, sf_dir, "events")
    ua = (
        F.when(F.col("user_id") % 5 == 0, F.lit("Googlebot/2.1"))
        .when(F.col("user_id") % 5 == 1, F.lit("curl/8.0"))
        .otherwise(F.lit("Mozilla/5.0 (X11; Linux x86_64)"))
    )
    uas = ev.select("event_id", ua.alias("user_agent"))
    patterns = local_df(
        spark, [("Googlebot",), ("^curl/",), ("spider",)], "pattern string"
    )
    return uas.join(
        F.broadcast(patterns),
        F.expr("user_agent rlike pattern"),
        "left_anti",
    )


ORACLE_REGEX_ANTIJOIN = """
WITH uas AS (
  SELECT event_id,
         CASE WHEN user_id % 5 = 0 THEN 'Googlebot/2.1'
              WHEN user_id % 5 = 1 THEN 'curl/8.0'
              ELSE 'Mozilla/5.0 (X11; Linux x86_64)' END AS user_agent
  FROM events),
p AS (SELECT * FROM (VALUES ('Googlebot'), ('^curl/'), ('spider')) t(pattern))
SELECT event_id, user_agent FROM uas u
WHERE NOT EXISTS (SELECT 1 FROM p WHERE regexp_matches(u.user_agent, p.pattern))
"""


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (the dbt-test / Deequ shape): one row per
    declared constraint with its violation count — primary-key
    uniqueness, not-null, referential integrity, and a domain check,
    over the star schema.

    Scale: each check is an independent aggregate/anti-join;
    violation counts aggregate to one tiny row per check. The FK
    checks broadcast the PK side when it fits, else hash-join —
    either way output stays O(#checks).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    pk_dups = (
        orders.groupBy("o_orderkey")
        .count()
        .where(F.col("count") > 1)
        .agg(F.count("*").alias("n"))
        .select(F.lit("orders_pk_unique").alias("check"), "n")
    )
    fk_orders = (
        orders.join(
            customer.select("c_custkey"),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(F.count("*").alias("n"))
        .select(F.lit("orders_custkey_fk").alias("check"), "n")
    )
    fk_lineitem = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        )
        .agg(F.count("*").alias("n"))
        .select(F.lit("lineitem_orderkey_fk").alias("check"), "n")
    )
    ev_nulls = ev.where(F.col("event_type").isNull()).agg(
        F.count("*").alias("n")
    ).select(F.lit("events_type_not_null").alias("check"), "n")
    qty_domain = lineitem.where(
        (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
    ).agg(F.count("*").alias("n")).select(
        F.lit("lineitem_qty_domain").alias("check"), "n"
    )
    return pk_dups.unionAll(fk_orders).unionAll(fk_lineitem).unionAll(
        ev_nulls
    ).unionAll(qty_domain)


ORACLE_DQ_CHECKS = """
SELECT 'orders_pk_unique' AS check, COUNT(*) AS n FROM (
  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'orders_custkey_fk', COUNT(*) FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_orderkey_fk', COUNT(*) FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'events_type_not_null', COUNT(*) FROM events WHERE event_type IS NULL
UNION ALL
SELECT 'lineitem_qty_domain', COUNT(*) FROM lineitem
WHERE l_quantity <= 0 OR l_quantity > 50
"""


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue —
    the percent-of-total window shape (sum over the enclosing
    partition) layered on a q5-style star join.

    Scale: dimensions broadcast onto the lineitem scan; the share
    window runs over the tiny aggregated frame (#nations rows), so the
    second pass is free.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(F.broadcast(orders.join(F.broadcast(cust),
                                        orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name",
        "n_name",
        "revenue",
        F.round(
            F.col("revenue").cast("double")
            / F.sum(F.col("revenue").cast("double")).over(w),
            6,
        ).alias("share"),
    )


ORACLE_REVENUE_SHARE = """
WITH rev AS (
  SELECT r_name, n_name,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4))
           AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, revenue,
       ROUND(CAST(revenue AS DOUBLE) /
             SUM(CAST(revenue AS DOUBLE)) OVER (PARTITION BY r_name),
             6) AS share
FROM rev
"""


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU per day): count of distinct
    users active in [day-6, day] for every active day — the retention
    dashboard shape that resists plain windows because COUNT(DISTINCT)
    does not decompose over sliding frames.

    Scale: the corpus collapses to distinct (day, user) pairs FIRST
    (one shuffle, map-side combinable); the day-spine side of the
    range join is #days rows and broadcast, so the 7x row multiply
    happens on the already-tiny distinct frame, never on raw events.
    """
    du = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("active_day"), "user_id")
        .distinct()
    )
    spine = du.select(F.col("active_day").alias("day")).distinct()
    joined = du.join(
        F.broadcast(spine),
        (F.col("active_day") <= F.col("day"))
        & (F.col("active_day") >= F.date_sub(F.col("day"), 6)),
    )
    return joined.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )


ORACLE_ROLLING_ACTIVE_USERS = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS active_day, user_id
            FROM events),
spine AS (SELECT DISTINCT active_day AS day FROM du)
SELECT s.day, COUNT(DISTINCT d.user_id) AS wau
FROM spine s JOIN du d
  ON d.active_day BETWEEN s.day - 6 AND s.day
GROUP BY s.day
"""


def q_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent prior view by the same user, but only within a 1-hour
    lookback — the marketing-attribution shape, an as-of SELF-join on
    the event stream with a tolerance filter composed on top.

    Scale: same single-shuffle union+window as-of plan as
    q_asof_latest_order (operators/asof.py) — no candidate-pair
    explosion; the tolerance is a post-filter, costs nothing.
    """
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("event_id").alias("view_id"))  # dedup ties for determinism
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="vts",
        payload=["view_id"],
    )
    within = (F.col("matched_ts").isNotNull()) & (
        F.unix_micros("ts") - F.unix_micros("matched_ts") <= 3600 * 1_000_000
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(within, F.col("view_id")).alias("attributed_view_id"),
        F.when(within, F.col("matched_ts")).alias("view_ts"),
    )


ORACLE_ATTRIBUTION_ASOF = """
WITH v AS (
  SELECT user_id, ts AS vts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
j AS (
  SELECT p.event_id, p.user_id, p.ts, p.value, v.view_id, v.vts
  FROM (SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase') p
  ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.vts
)
SELECT event_id, user_id, ts, value,
       CASE WHEN vts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(vts) <= 3600000000::BIGINT
            THEN view_id END AS attributed_view_id,
       CASE WHEN vts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(vts) <= 3600000000::BIGINT
            THEN vts END AS view_ts
FROM j
"""


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    ordered together (same order), with support counts — the
    relational analog of the text-side PMI collocations query.

    Scale: the self-join shuffles once on l_orderkey; pair explosion
    is quadratic only in ORDER SIZE (~7 lines -> ~21 pairs), so total
    pairs stay linear in lineitems. The pair-count aggregate partial-
    combines map-side; top-k is a TakeOrdered, never a full sort.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Partition-floor the PROBE side only (operators/spread.spread —
    # no-op on a multi-split source at scale): the sf-sized lineitem
    # parquet arrives as ~1 split, so the broadcast-join probe + pair
    # explosion + map-side pair aggregate all ran on ONE core
    # (measured: partial-agg max task 1.3 s vs 7 ms median at sf0.1).
    # The un-spread alias stays the (exchange-free) broadcast side.
    from ..operators.spread import spread

    a, b = spread(li).alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


ORACLE_BASKET_PAIRS = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


def q_churned_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op coverage (the INTERSECT twin of
    q_active_buyer_overlap): buyers active in the first half of the
    event window who never purchased in the second half — the churn
    cohort.

    Scale: EXCEPT plans as a left-anti hash aggregate over the two
    pre-filtered scans — one shuffle on the (tiny, distinct) user
    sets, not on raw events.
    """
    ev = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("value") > 190.0)
    )
    mid = F.lit("2024-01-16").cast("timestamp")
    first_half = ev.where(F.col("ts") < mid).select("user_id")
    second_half = ev.where(F.col("ts") >= mid).select("user_id")
    return first_half.distinct().subtract(second_half)  # EXCEPT (distinct)


ORACLE_CHURNED_BUYERS = """
SELECT DISTINCT user_id FROM events
WHERE event_type = 'purchase' AND value > 190.0
  AND ts < TIMESTAMP '2024-01-16'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'purchase' AND value > 190.0
  AND ts >= TIMESTAMP '2024-01-16'
"""


def q_nth_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value window coverage: each user's first and
    third event (type + time) over their full history — the onboarding-
    funnel inspection shape.

    Scale: one keyed window over user_id; the unbounded frame is safe
    because only two positions are read per partition.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_user = ev.select(
        "user_id",
        F.first_value("event_type").over(w).alias("first_type"),
        F.first_value("ts").over(w).alias("first_ts"),
        F.nth_value("event_type", 3).over(w).alias("third_type"),
        F.nth_value("ts", 3).over(w).alias("third_ts"),
    )
    return per_user.distinct()


ORACLE_NTH_EVENT_PER_USER = """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_type,
       first_value(ts) OVER w AS first_ts,
       nth_value(event_type, 3) OVER w AS third_type,
       nth_value(ts, 3) OVER w AS third_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window aggregate —
    the idiomatic form of q_sessionize (which keeps the windows/
    gaps-and-islands formulation for SQL-engine parity). Same 30-min
    gap; session end is last-event + gap by definition of the
    operator, and it works unchanged on a streaming frame with a
    watermark.

    Scale: one shuffle on (user_id), sessions merged per key by the
    aggregate itself — no ordered window pass at all.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


ORACLE_SESSIONIZE_NATIVE = """
WITH g AS (
  SELECT user_id, ts, event_id,
    -- >= : session_window windows are [t, t+gap), so an event landing
    -- exactly at the gap boundary opens a NEW session (ADVICE r1)
    CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) >= 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_no
"""


def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: each user's first five event types as
    an ordered path string (view>click>purchase...) — the sequence-
    mining input shape (collect_list is unordered by contract, so the
    order is made explicit by sorting (rn, type) structs).

    Scale: the row_number window and the groupBy share the user_id
    partitioning (one exchange); the rn <= 5 filter bounds per-user
    state before aggregation.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 5)
    return seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("first5"),
        F.max("rn").alias("n"),
    )


ORACLE_USER_EVENT_SEQUENCES = """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS first5,
       MAX(rn) AS n
FROM r WHERE rn <= 5 GROUP BY user_id
"""


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) on the undirected
    customer<->supplier trade graph (distinct pairs that share an
    order) — the iterative-graph shape beyond connected components,
    oracle-checked against the same recurrence unrolled in SQL.

    Scale: each iteration is one join + one keyed aggregate (the
    standard map-reduce PageRank). The adjacency is joined with its
    degrees ONCE, hash-partitioned on the join key, and cached — the
    cached InMemoryTableScan keeps that partitioning, so per iteration
    only the node-sized rank table shuffles to meet it, plus the
    (node, contribution) aggregate; the edge set itself never moves
    again. At 100 TB the cache becomes a bucketed table on `a`.
    Bidirectional edges mean no dangling mass to redistribute.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Long node ids internally (guide §2.3 "narrower types"): customer
    # k -> 2k, supplier k -> 2k+1. Every exchange, distinct, cache
    # write and per-iteration aggregate runs over two longs instead of
    # two ~6-char strings (measured: the whole string-keyed query read
    # 5.3-6.3 s steady / up to 29 s first-run at sf0.1; this layout
    # 2.4-2.8 s steady). The "c###"/"s###" labels of the declared
    # result are re-attached to the 50 output rows only.
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("a"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # cache the mirrored edge set, PARTITIONED BY THE AGGREGATION KEY
    # b (guide §2.4 "share one exchange"): each iteration groups
    # contributions by b, so a b-partitioned cache lets every
    # iteration's aggregate run WITHOUT an exchange — with broadcast
    # rank joins below, one iteration is a single map-side stage over
    # the cache. Materialized eagerly (spread.pinned semantics): the
    # iteration stages and the rank broadcast subtrees all consume it,
    # and lazy-cache consumers race under AQE (r12 measured pattern).
    edges = (
        e0.unionAll(
            e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .repartition("b")
        .cache()
    )
    # deg has exactly one row per node (every node appears as a source
    # after mirroring), so it doubles as the node table: n and the
    # uniform rank init read the 16k-row deg cache instead of running
    # two distinct() shuffles over the edge set
    deg = edges.groupBy("a").agg(F.count("*").alias("deg")).cache()
    n = deg.count()
    # per-iteration join side is the NODE-sized (a, r/deg) table —
    # broadcast it (guide §3.1) so the edge cache never moves: no ed
    # frame, no per-iteration shuffle of edge-sized rows at all. At
    # 100 TB the node table is |V|*16 bytes (well under the broadcast
    # cap for graphs whose edge set needs a cluster); if |V| ever
    # outgrows it, the fallback is the co-partitioned sort-merge form
    # this replaced.
    rank = deg.select("a", F.lit(1.0 / n).alias("r"))
    for _ in range(3):
        rd = rank.join(deg, "a").select(
            rank["a"].alias("a"), (F.col("r") / F.col("deg")).alias("rd")
        )
        rank = (
            edges.join(F.broadcast(rd), "a")
            .groupBy(F.col("b").alias("a"))
            .agg((F.lit(0.15 / n) + F.lit(0.85) * F.sum("rd")).alias("r"))
        )
    return (
        rank.select(
            F.concat(
                F.when(F.col("a") % 2 == 0, F.lit("c")).otherwise(
                    F.lit("s")
                ),
                F.shiftright(F.col("a"), 1).cast("string"),
            ).alias("a"),
            F.round("r", 10).alias("rank"),
        )
        .orderBy(F.desc("rank"), "a")
        .limit(50)
    )


ORACLE_PAGERANK_TRADE = """
WITH e0 AS (
  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT a, 1.0 / (SELECT n FROM nn) AS r FROM deg),
r1 AS (SELECT e.b AS a,
              0.15 / (SELECT n FROM nn) + 0.85 * SUM(r0.r / deg.deg) AS r
       FROM edges e JOIN r0 ON e.a = r0.a JOIN deg ON e.a = deg.a
       GROUP BY e.b),
r2 AS (SELECT e.b AS a,
              0.15 / (SELECT n FROM nn) + 0.85 * SUM(r1.r / deg.deg) AS r
       FROM edges e JOIN r1 ON e.a = r1.a JOIN deg ON e.a = deg.a
       GROUP BY e.b),
r3 AS (SELECT e.b AS a,
              0.15 / (SELECT n FROM nn) + 0.85 * SUM(r2.r / deg.deg) AS r
       FROM edges e JOIN r2 ON e.a = r2.a JOIN deg ON e.a = deg.a
       GROUP BY e.b)
SELECT a, ROUND(r, 10) AS rank FROM r3
ORDER BY rank DESC, a LIMIT 50
"""


def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day (users-to-date) — running
    COUNT(DISTINCT) is not window-expressible, so it becomes the
    first-seen trick: each user's first active day marks one "new
    user", and the running total of new users IS the distinct count.

    Scale: one shuffle to (user, first_day), one tiny per-day
    aggregate, and the cumulative window runs over #days rows.
    """
    first_day = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
    )
    daily_new = first_day.groupBy("day").agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("users_to_date"),
    )


ORACLE_CUMULATIVE_UNIQUE_USERS = """
WITH fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
            FROM events GROUP BY user_id),
dn AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS users_to_date
FROM dn
"""


def q_hourly_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly p50/p90/p99 value bands per event_type — the latency-
    dashboard shape (exact percentiles, one grouped aggregate; at
    extreme group counts swap F.percentile for percentile_approx,
    whose sketch is mergeable map-side).

    Scale: one hash shuffle on (type, hour); exact percentile holds a
    per-group sorted buffer, bounded here by events/hour/type.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
    )


ORACLE_HOURLY_PERCENTILE_BANDS = """
SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
       ROUND(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS p50,
       ROUND(percentile_cont(0.9)  WITHIN GROUP (ORDER BY value), 6) AS p90,
       ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY event_type, date_trunc('hour', ts)
"""


def q_next_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (the mirror of q_asof_latest_order): for each
    purchase event, the user's NEXT order on-or-after the event —
    the time-to-conversion shape. Same one-shuffle union+window plan
    with the frame reversed (operators/asof.py::asof_join_forward).
    """
    from ..operators.asof import asof_join_forward

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id")
    )
    d = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("odate"),
        )
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    return asof_join_forward(
        ev, d, on="user_id", left_ts="ts", right_ts="odate",
        payload=["next_orderkey"],
    )


ORACLE_NEXT_ORDER_ASOF = """
WITH d AS (
  SELECT o_custkey AS user_id, o_orderdate AS odate,
         MAX(o_orderkey) AS next_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.ts, e.user_id,
       d.odate AS matched_ts, d.next_orderkey
FROM (SELECT event_id, ts, user_id FROM events
      WHERE event_type = 'purchase') e
ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.ts <= d.odate
"""


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: users ranked into spend deciles, each decile's
    share of total revenue and cumulative share (the Lorenz-curve /
    campaign-targeting shape on top of ntile + ratio-to-total).

    Scale: the corpus collapses to per-user spend first; decile
    assignment is arithmetic over a distributed_rank (ntile_from_rank
    replicates SQL ntile semantics exactly from the global row number),
    so no global single-partition sort anywhere — the oracle's plain
    ntile proves value parity. The cumulative/total windows after that
    run over 10 rows.
    """
    spend = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("spend"))
    )
    ranked = distributed_rank(
        spend,
        "spend",
        descending=True,
        tiebreakers=[F.asc("user_id")],
        rank_col="__rn",
        total_col="__n",
    )
    deciled = ranked.select(
        "spend",
        ntile_from_rank(F.col("__rn"), F.col("__n"), 10).alias("decile"),
    )
    per_decile = deciled.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("spend").alias("decile_spend")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    return per_decile.select(
        "decile",
        "n_users",
        F.round("decile_spend", 4).alias("decile_spend"),
        F.round(
            F.col("decile_spend") / F.sum("decile_spend").over(total), 6
        ).alias("share"),
        F.round(
            F.sum("decile_spend").over(wc)
            / F.sum("decile_spend").over(total),
            6,
        ).alias("cum_share"),
    )


ORACLE_DECILE_LIFT = """
WITH spend AS (
  SELECT user_id, ROUND(SUM(value), 6) AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
deciled AS (
  SELECT spend, ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
  FROM spend),
pd AS (
  SELECT decile, COUNT(*) AS n_users, SUM(spend) AS decile_spend
  FROM deciled GROUP BY decile)
SELECT decile, n_users, ROUND(decile_spend, 4) AS decile_spend,
       ROUND(decile_spend / SUM(decile_spend) OVER (), 6) AS share,
       ROUND(SUM(decile_spend) OVER (ORDER BY decile
                                     ROWS UNBOUNDED PRECEDING)
             / SUM(decile_spend) OVER (), 6) AS cum_share
FROM pd
"""


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap input: mean value and volume per
    (event_type, day-of-week, hour-of-day) — the calendar-profile
    shape (extract functions + one grouped aggregate).

    Scale: one shuffle to a bounded 7x24x#types result; partial
    aggregation does the heavy lifting map-side.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(
        F.count("*").alias("n"),
        # DECIMAL sum: exact, so no engine-dependent rounding boundary
        # (a rounded double AVG differed in the 4th decimal on one cell)
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("sum_value"),
    )


ORACLE_SEASONAL_PROFILE = """
SELECT event_type, dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_ship_lag_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment aging: days from order date to the order's LAST
    shipment, distributed per order priority (join + per-order max +
    percentile over the derived lag — an operations-SLA shape).

    Scale: the lineitem->orders equi-join shuffles once on orderkey;
    the lag percentiles aggregate per priority (5 rows out).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    lag = orders.join(
        last_ship, orders.o_orderkey == last_ship.l_orderkey
    ).select(
        "o_orderpriority",
        F.datediff("last_ship", "o_orderdate").alias("lag_days"),
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("lag_days"), 4).alias("avg_lag"),
        F.round(F.percentile("lag_days", F.lit(0.5)), 4).alias("p50_lag"),
        F.round(F.percentile("lag_days", F.lit(0.95)), 4).alias("p95_lag"),
    )


ORACLE_SHIP_LAG_BY_PRIORITY = """
WITH ls AS (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
            FROM lineitem GROUP BY l_orderkey),
lag AS (SELECT o_orderpriority,
               date_diff('day', o_orderdate, last_ship) AS lag_days
        FROM orders JOIN ls ON o_orderkey = l_orderkey)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(AVG(lag_days), 4) AS avg_lag,
       ROUND(percentile_cont(0.5)  WITHIN GROUP (ORDER BY lag_days), 4)
         AS p50_lag,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY lag_days), 4)
         AS p95_lag
FROM lag GROUP BY o_orderpriority
"""


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration (Herfindahl-Hirschman) index of supplier
    revenue per nation: sum of squared revenue shares — the
    ratio-to-total window squared and re-aggregated.

    Scale: revenue collapses to (nation, supplier) first; both windows
    and the final aggregate run over supplier-count-sized frames.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
            ).cast("double").alias("rev")
        )
    )
    w = Window.partitionBy("n_name")
    share = rev.select(
        "n_name", (F.col("rev") / F.sum("rev").over(w)).alias("share")
    )
    return share.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
    )


ORACLE_SUPPLIER_HHI = """
WITH rev AS (
  SELECT n_name, s_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey),
share AS (SELECT n_name, rev / SUM(rev) OVER (PARTITION BY n_name) AS share
          FROM rev)
SELECT n_name, COUNT(*) AS n_suppliers,
       ROUND(SUM(share * share), 6) AS hhi
FROM share GROUP BY n_name
"""


def q_trailing_window_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window coverage (every other window here uses ROWS):
    for each purchase, the user's total spend over the trailing 7
    DAYS — a value-based frame over event-time seconds, which ROWS
    frames cannot express when events are irregularly spaced.

    Scale: one keyed shuffle; the range frame keeps a sliding
    event-time buffer per user, bounded by events/7-days. Frame bounds
    use MICROsecond epochs on both sides (ADVICE r1): unix_timestamp
    truncates to whole seconds while DuckDB epoch() is fractional, so
    second-truncated frames can diverge on boundary rows.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select("event_id", "user_id", "ts", "value")
    )
    micros = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 4).alias("spend_7d"),
    )


ORACLE_TRAILING_WINDOW_SPEND = """
SELECT event_id, user_id, ts,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 604800000000::BIGINT PRECEDING AND CURRENT ROW), 4) AS spend_7d
FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part CO-PURCHASE graph (parts on the same
    order are adjacent) — degree-ordered orientation (operators/
    graph.py) vs the oracle's independent id-ordered 3-way join. The
    part graph stays sparse as data grows (~0.4% density at sf0.1,
    vs the supplier co-order graph which saturates to a clique and
    makes triangle counting a silly n³); pairs per order are a small
    quadratic (orders hold ~4-7 lineitems)."""
    from ..operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pairs built IN-ROW from each order's part set (one groupBy
    # shuffle + C(k,2) per order, k ~ 4-7) instead of a lineitem
    # self-join — 2x faster edge construction at sf0.1
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ps"),
                            i + 2,
                            F.greatest(
                                F.size("ps") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda z: F.struct(
                            x.alias("a"), z.alias("b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return triangle_count(pairs)


ORACLE_TRIANGLE_COUNT = """
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
)
SELECT count(*) AS n_triangles
FROM pairs e1
JOIN pairs e2 ON e1.u = e2.u AND e1.v < e2.v
JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
"""


def q_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, answered from persisted
    per-day HLL sketches (operators/hll.py, DataSketches JVM funcs) —
    the window unions |days| KB-sized blobs, never rescans events.
    Rows-only (sketch estimates); ±5% gates vs exact in
    tests/test_hll.py."""
    from ..operators.hll import daily_sketches, rolling_distinct

    ev = _t(spark, sf_dir, "events")
    return rolling_distinct(daily_sketches(ev), window_days=7).orderBy("day")


_EXP_NOW = "2024-02-01 00:00:00"


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over events (operators/expectations.py): five
    rule families — all row rules fused into ONE groupless aggregate
    pass (conditional counts), uniqueness as its own keys-only
    aggregate. The freshness clock is pinned for determinism."""
    from ..operators.expectations import (
        freshness,
        in_range,
        matches,
        not_null,
        unique,
        validate,
    )

    ev = _t(spark, sf_dir, "events")
    return validate(
        ev,
        [
            not_null("user_id"),
            in_range("value", 0, 900),
            matches("event_type", "^[a-z]+$"),
            unique("event_id"),
            freshness("ts", 30 * 86400, _EXP_NOW),
        ],
    )


ORACLE_EXPECTATIONS = f"""
WITH rows_pass AS (
  SELECT
    count(*) FILTER (user_id IS NULL) AS nn,
    count(*) FILTER (value IS NOT NULL AND NOT (value BETWEEN 0 AND 900)) AS ir,
    count(*) FILTER (event_type IS NOT NULL
                     AND NOT regexp_matches(event_type, '^[a-z]+$')) AS mt,
    CASE WHEN epoch(TIMESTAMP '{_EXP_NOW}') - epoch(max(ts)) > {30 * 86400}
         THEN 1 ELSE 0 END AS fr
  FROM events
), uq AS (
  SELECT count(*) AS u FROM (
    SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)
), stacked AS (
  SELECT 'not_null(user_id)' AS rule, CAST(nn AS BIGINT) AS n_violations FROM rows_pass
  UNION ALL
  SELECT 'in_range[0,900](value)', CAST(ir AS BIGINT) FROM rows_pass
  UNION ALL
  SELECT 'matches[^[a-z]+$](event_type)', CAST(mt AS BIGINT) FROM rows_pass
  UNION ALL
  SELECT 'freshness[{30 * 86400}s@{_EXP_NOW}](ts)', CAST(fr AS BIGINT) FROM rows_pass
  UNION ALL
  SELECT 'unique(event_id)', CAST(u AS BIGINT) FROM uq
)
SELECT rule, n_violations, n_violations = 0 AS passed
FROM stacked ORDER BY rule
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/diff.py): customer vs a derived
    'next version' (every 97th key dropped, every 11th acctbal bumped,
    a shifted clone block added) — one full-outer join, |delta|-sized
    output with per-row changed-column lists. The registry view joins
    the (already array_sort-canonical) changed_cols array to a
    comma-separated string — array-typed output columns kill the
    driver's pandas canonicalizer (VERDICT r5 #3)."""
    from ..operators.diff import snapshot_diff

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    new = (
        cust.where(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 100
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                "c_name",
                "c_nationkey",
                "c_acctbal",
            )
        )
    )
    d = snapshot_diff(cust, new, keys=["c_custkey"])
    return d.select(
        "c_custkey",
        "change",
        F.concat_ws(",", "changed_cols").alias("changed_cols"),
    ).orderBy("c_custkey")


ORACLE_SNAPSHOT_DIFF = """
WITH old_s AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
), new_s AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 != 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0
), j AS (
  SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
         o.c_custkey IS NULL AS added,
         n.c_custkey IS NULL AS removed,
         list_sort(list_filter([
           CASE WHEN o.c_name IS DISTINCT FROM n.c_name THEN 'c_name' END,
           CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey THEN 'c_nationkey' END,
           CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'c_acctbal' END
         ], x -> x IS NOT NULL)) AS diffs
  FROM old_s o FULL OUTER JOIN new_s n USING (c_custkey)
)
SELECT c_custkey,
       CASE WHEN added THEN 'added' WHEN removed THEN 'removed'
            WHEN len(diffs) > 0 THEN 'changed' END AS change,
       CASE WHEN added OR removed THEN ''
            ELSE array_to_string(diffs, ',') END AS changed_cols
FROM j
WHERE added OR removed OR len(diffs) > 0
ORDER BY c_custkey
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-customer order sample (operators/curation.py
    weighted_sample_per_key; Efraimidis-Spirakis keys from
    content-addressed u) — reproducible cross-engine, so the oracle
    replays the identical draw in SQL."""
    from ..operators.curation import weighted_sample_per_key

    orders = _t(spark, sf_dir, "orders")
    return weighted_sample_per_key(
        orders, key_col="o_custkey", weight_col="o_totalprice",
        id_col="o_orderkey", k=3,
    ).orderBy("key", "rank")


ORACLE_WEIGHTED_SAMPLE = """
WITH s AS (
  SELECT o_custkey AS key, o_orderkey AS id,
         CAST(o_totalprice AS DOUBLE) AS weight,
         ROUND(
           ln(CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
                   AS BIGINT) / 281474976710656.0)
           / CAST(o_totalprice AS DOUBLE), 6) + 0.0 AS es_score
  FROM orders
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY key ORDER BY es_score DESC, id) AS INT) AS rank
  FROM s
)
SELECT key, id, weight, es_score, rank FROM r WHERE rank <= 3
ORDER BY key, rank
"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: two-proportion z-test on purchase rate
    between variants (assignment = user_id parity — deterministic
    stand-in for an assignment column). ONE groupless aggregate pass
    (conditional counts, map-side partials); the test statistic is
    arithmetic on the 1-row result. |z| > 1.96 ⇒ significant at 5%."""
    ev = _t(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    conv = F.col("event_type") == "purchase"
    agg = ev.agg(
        F.count_if(a).cast("long").alias("n_a"),
        F.count_if(a & conv).cast("long").alias("conv_a"),
        F.count_if(~a).cast("long").alias("n_b"),
        F.count_if(~a & conv).cast("long").alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_pool * (1 - p_pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    z = F.round((p_a - p_b) / se, 6)
    return agg.select(
        "n_a",
        "conv_a",
        F.round(p_a, 6).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round(p_b, 6).alias("rate_b"),
        z.alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


ORACLE_AB_TEST = """
WITH agg AS (
  SELECT
    CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS n_a,
    CAST(count(*) FILTER (user_id % 2 = 0 AND event_type = 'purchase') AS BIGINT) AS conv_a,
    CAST(count(*) FILTER (user_id % 2 != 0) AS BIGINT) AS n_b,
    CAST(count(*) FILTER (user_id % 2 != 0 AND event_type = 'purchase') AS BIGINT) AS conv_b
  FROM events
), m AS (
  SELECT *,
         conv_a * 1.0 / n_a AS p_a,
         conv_b * 1.0 / n_b AS p_b,
         (conv_a + conv_b) * 1.0 / (n_a + n_b) AS p_pool
  FROM agg
)
SELECT n_a, conv_a, ROUND(p_a, 6) AS rate_a,
       n_b, conv_b, ROUND(p_b, 6) AS rate_b,
       ROUND((p_a - p_b) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
       abs(ROUND((p_a - p_b) / sqrt(p_pool * (1 - p_pool) * (1.0 / n_a + 1.0 / n_b)), 6)) > 1.96 AS significant
FROM m
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ELT via Spark 4's VARIANT type: parse_json on
    the raw props string, typed field extraction with
    try_variant_get — the open-schema path (vs from_json's declared
    schema in `json_extract`). Oracle: DuckDB JSON operators."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return (
        ev.select(
            "event_id",
            F.try_variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.missing", "string").alias("missing"),
        )
        .where(F.col("k").isNotNull())
        .orderBy("event_id")
    )


ORACLE_VARIANT_EXTRACT = """
SELECT event_id,
       CAST(props::JSON ->> 'k' AS INT) AS k,
       props::JSON ->> 'missing' AS missing
FROM events
WHERE props::JSON ->> 'k' IS NOT NULL
ORDER BY event_id
"""


def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance (operators/incremental_join.py):
    orders/lineitem split deterministically into old + delta halves;
    the emitted rows are exactly the delta of the joined view —
    verified by the oracle computing (full ⋈) MINUS (old ⋈)."""
    from ..operators.incremental_join import join_delta

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    a_old = orders.where(F.col("o_orderkey") % 10 != 0)
    d_a = orders.where(F.col("o_orderkey") % 10 == 0)
    b_old = li.where(F.col("l_linenumber") > 1)
    d_b = li.where(F.col("l_linenumber") == 1)
    return join_delta(a_old, b_old, d_a, d_b, on="o_orderkey").orderBy(
        "o_orderkey", "l_linenumber"
    )


ORACLE_INCREMENTAL_JOIN = """
WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
l AS (SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity FROM lineitem),
full_j AS (SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
                  l.l_linenumber, l.l_quantity
           FROM o JOIN l USING (o_orderkey)),
old_j AS (SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
                 l.l_linenumber, l.l_quantity
          FROM o JOIN l USING (o_orderkey)
          WHERE o.o_orderkey % 10 != 0 AND l.l_linenumber > 1)
SELECT * FROM full_j
EXCEPT ALL
SELECT * FROM old_j
ORDER BY o_orderkey, l_linenumber
"""


# exact double literals for 0.7**k, k = 0..13 — shared verbatim with
# the DuckDB oracle so neither engine calls pow() (JVM Math.pow and C
# libm pow are each allowed 1-ulp error and need not agree)
_EWMA_W = [
    1.0, 0.7, 0.48999999999999994, 0.3429999999999999,
    0.24009999999999995, 0.16806999999999994, 0.11764899999999996,
    0.08235429999999996, 0.05764800999999997, 0.04035360699999998,
    0.028247524899999984, 0.019773267429999988, 0.01384128720099999,
    0.009688901040699992,
]
_EWMA_LOOKBACK = 14  # alpha = 0.3, truncated at 14 daily points


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of each user's
    daily spend: ewma_t = sum_k w_k x_{t-k} / sum_k w_k over the last
    14 daily points, w_k = 0.7^k — the smoothing primitive behind
    trend dashboards and anomaly baselines.

    Why truncated: the exact recurrence (ewma_t = a·x_t +
    (1-a)·ewma_{t-1}) is a sequential scan — inexpressible as a
    window aggregate and numerically explosive in its closed
    prefix-sum form ((1/(1-a))^rn overflows double precision past a
    few hundred steps). Truncation at 14 points carries >= 99.3% of
    the exact kernel's mass (1 - 0.7^14) and turns the operator into
    a bounded self-join both engines express identically.

    Scale: daily aggregate (one map-side-combined shuffle on
    (user_id, day)) -> row_number per user (partitioned window, never
    global) -> equi-join on user_id with a rank-band predicate — a
    bounded 14x row expansion co-partitioned on the join key. Weights
    come from a 14-element literal array (element_at), not pow():
    zero Python, whole-stage codegen throughout.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.round(F.sum("value"), 6).alias("x")
    )
    d = daily.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("day")),
    )
    a, b = d.alias("a"), d.alias("b")
    j = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.rn") <= F.col("a.rn"))
        & (F.col("b.rn") > F.col("a.rn") - _EWMA_LOOKBACK),
    )
    wgt = F.element_at(
        F.array(*[F.lit(w) for w in _EWMA_W]),
        (F.col("a.rn") - F.col("b.rn") + 1).cast("int"),
    )
    return (
        j.groupBy(
            F.col("a.user_id").alias("user_id"), F.col("a.day").alias("day")
        )
        .agg(
            F.round(
                F.sum(wgt * F.col("b.x")) / F.sum(wgt), 6
            ).alias("ewma")
        )
    )


ORACLE_EWMA_USER_VALUE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ROUND(SUM(value), 6) AS x
  FROM events GROUP BY 1, 2),
d AS (SELECT user_id, day, x,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM daily),
w AS (SELECT [1.0, 0.7, 0.48999999999999994, 0.3429999999999999,
              0.24009999999999995, 0.16806999999999994,
              0.11764899999999996, 0.08235429999999996,
              0.05764800999999997, 0.04035360699999998,
              0.028247524899999984, 0.019773267429999988,
              0.01384128720099999, 0.009688901040699992] AS ws)
SELECT a.user_id, a.day,
       ROUND(SUM(ws[a.rn - b.rn + 1] * b.x)
             / SUM(ws[a.rn - b.rn + 1]), 6) AS ewma
FROM d a
JOIN d b ON a.user_id = b.user_id
        AND b.rn <= a.rn AND b.rn > a.rn - 14, w
GROUP BY 1, 2
"""


def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range percentiles answered from the persisted per-day histogram
    rollup (operators/quantile_hist.py) — the HLL-table pattern for
    quantiles: build (day, bin, cnt) once, then any date-range p50/
    p90/p99 question touches |days| x 64 rollup rows, never the
    events. Unlike HLL sketches the histogram is deterministic
    arithmetic, so this entry carries a full value-hash oracle; the
    error-vs-exact gate lives in tests/test_quantile_hist.py.

    Scale: the rollup is one map-side-combined groupBy(day, bin); the
    reconstruction windows run over <= 64 merged bins (bounded by
    construction — plan-sweep whitelisted) and the quantile join is a
    64-row x 3-row broadcast.
    """
    from ..operators.quantile_hist import histogram_rollup, range_quantiles

    hist = histogram_rollup(_t(spark, sf_dir, "events"))
    return range_quantiles(hist, "2024-01-08", "2024-01-22")


ORACLE_QUANTILE_ROLLUP = """
WITH hist AS (
  SELECT CAST(ts AS DATE) AS day,
         LEAST(63, GREATEST(0, CAST(FLOOR(value / 8.0) AS BIGINT))) AS bin,
         COUNT(*) AS cnt
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2),
merged AS (
  SELECT bin, SUM(cnt) AS cnt FROM hist
  WHERE day BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
  GROUP BY bin),
cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin) AS cum,
         COALESCE(SUM(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(cnt) OVER () AS n
  FROM merged),
qs AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
SELECT q, ROUND(0.0 + 8.0 * (bin + (CEIL(q * n) - cum_before) * 1.0 / cnt),
                6) AS est
FROM cum JOIN qs ON CEIL(q * n) > cum_before AND CEIL(q * n) <= cum
ORDER BY q
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each event type's
    daily-spend series: x = trend + seasonal + residual, with trend =
    centered 7-day moving average (interior days only — the frame must
    be full so the estimate is unbiased), seasonal = per-day-of-week
    mean of the detrended series, residual = what's left. The anomaly
    / forecasting preprocessing step `seasonal_profile` (raw calendar
    means) doesn't provide, since it never removes trend.

    Every shuffle-order-dependent sum runs in EXACT DECIMAL (addition
    is associative there, so partition order cannot move the result);
    doubles appear only at the output boundary, after a single
    deterministic cast/divide/round. Double sums here flaked for real:
    the per-dow seasonal mean of 'purchase' sits exactly on a 6th-
    decimal rounding boundary (….9085715), and the double groupBy AVG
    landed on either side of it depending on shuffle order — one
    VALUE-HASH mismatch in ~3 oracle runs. AVG itself stays banned
    (DuckDB returns DOUBLE for decimal AVG, Spark widens the scale):
    exact SUM, then divide as doubles.

    Scale: daily aggregate (one map-side-combined shuffle, |days| x
    #types rows out), then every window partitions BY EVENT TYPE —
    frames are calendar-bounded per series, never global, and the
    day-of-week seasonal means are a 7 x #types aggregate joined back
    on (event_type, dow).
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).alias("__xd")
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    t = daily.select(
        "event_type",
        "day",
        F.round(F.col("__xd").cast("double"), 6).alias("x"),
        F.when(
            F.count("*").over(w7) == 7,
            F.round(F.sum("__xd").over(w7).cast("double") / 7.0, 6),
        ).alias("trend"),
    ).where(F.col("trend").isNotNull())
    det = t.withColumn("detrended", F.round(F.col("x") - F.col("trend"), 6))
    dow = det.withColumn("dow", F.dayofweek("day"))
    seas = dow.groupBy("event_type", "dow").agg(
        F.round(
            F.sum(F.col("detrended").cast("decimal(28,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("seasonal")
    )
    return (
        dow.join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "x",
            "trend",
            "seasonal",
            F.round(F.col("detrended") - F.col("seasonal"), 6).alias(
                "residual"
            ),
        )
    )


ORACLE_SEASONAL_DECOMPOSE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(28,6))) AS xd
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type, day, ROUND(CAST(xd AS DOUBLE), 6) AS x,
         CASE WHEN COUNT(*) OVER w = 7
              THEN ROUND(CAST(SUM(xd) OVER w AS DOUBLE) / 7.0, 6) END
           AS trend
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
det AS (
  SELECT event_type, day, x, trend,
         ROUND(x - trend, 6) AS detrended,
         dayofweek(day) + 1 AS dow
  FROM t WHERE trend IS NOT NULL),
seas AS (
  SELECT event_type, dow,
         ROUND(CAST(SUM(CAST(detrended AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*), 6) AS seasonal
  FROM det GROUP BY 1, 2)
SELECT d.event_type, d.day, d.x, d.trend, s.seasonal,
       ROUND(d.detrended - s.seasonal, 6) AS residual
FROM det d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
"""


def q_quantile_rollup_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type range percentiles from the KEYED histogram
    rollup (operators/quantile_hist.py histogram_rollup keyed by
    event_type, then range_quantiles) — per-segment p50/p90/p99, the
    grouped form of ``quantile_rollup``. Every window partitions BY
    KEY, so unlike the global variant no stage is single-partition at
    any key cardinality; the quantile join stays a broadcast of the
    3-row q-list.
    """
    from ..operators.quantile_hist import histogram_rollup, range_quantiles

    hist = histogram_rollup(_t(spark, sf_dir, "events"), "event_type")
    return range_quantiles(hist, "2024-01-08", "2024-01-22")


ORACLE_QUANTILE_ROLLUP_BY_TYPE = """
WITH hist AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         LEAST(63, GREATEST(0, CAST(FLOOR(value / 8.0) AS BIGINT))) AS bin,
         COUNT(*) AS cnt
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2, 3),
merged AS (
  SELECT key, bin, SUM(cnt) AS cnt FROM hist
  WHERE day BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'
  GROUP BY key, bin),
cum AS (
  SELECT key, bin, cnt,
         SUM(cnt) OVER (PARTITION BY key ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY key) AS n
  FROM merged),
cb AS (SELECT *, cum - cnt AS cum_before FROM cum),
qs AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
SELECT key, q,
       ROUND(0.0 + 8.0 * (bin + (CEIL(q * n) - cum_before) * 1.0 / cnt),
             6) AS est
FROM cb JOIN qs ON CEIL(q * n) > cum_before AND CEIL(q * n) <= cum
ORDER BY key, q
"""


def q_type_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every PAIR of event types' daily
    spend series — the cross-metric dependence matrix behind "do
    purchases move with views" dashboards. Computed from sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) so the formula is explicit
    and identical in the oracle (DuckDB's corr() builtin would apply
    its own NULL/ddof conventions).

    Scale: daily aggregate (map-side combined), then a self-join ON
    DAY — both sides are |days| x |types| rows, co-partitioned on the
    join key; the matrix itself is C(|types|, 2) rows. Days where
    either series is absent drop out of that pair's statistics (inner
    join), the standard pairwise-complete convention.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    j = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    )
    g = j.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("a.x")).alias("sx"),
        F.sum(F.col("b.x")).alias("sy"),
        F.sum(F.col("a.x") * F.col("b.x")).alias("sxy"),
        F.sum(F.col("a.x") * F.col("a.x")).alias("sxx"),
        F.sum(F.col("b.x") * F.col("b.x")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return g.select(
        "type_a", "type_b", "n", F.round(num / den, 6).alias("corr")
    ).orderBy("type_a", "type_b")


ORACLE_TYPE_CORRELATION_MATRIX = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, ROUND(SUM(value), 6) AS x
  FROM events GROUP BY 1, 2),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.x AS xa, b.x AS xb
  FROM daily a JOIN daily b
    ON a.day = b.day AND a.event_type < b.event_type),
g AS (
  SELECT type_a, type_b, COUNT(*) AS n,
         SUM(xa) AS sx, SUM(xb) AS sy, SUM(xa * xb) AS sxy,
         SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy
  FROM j GROUP BY 1, 2)
SELECT type_a, type_b, n,
       ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
             6) AS corr
FROM g ORDER BY type_a, type_b
"""


def q_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user spend — the standard inequality
    summary ("do 1% of users drive 90% of revenue"). Uses the exact
    rank identity G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n over spend sorted
    ascending (ties broken by user_id, making the rank — and therefore
    the statistic — deterministic).

    Scale: ranks come from operators/ranking.py::distributed_rank
    (equi-depth bucket ranks — NO single-partition sort), then ONE
    groupless aggregate. The oracle computes the identical formula
    with a window row_number.
    """
    from ..operators.ranking import distributed_rank

    ev = _t(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("spend")
    )
    ranked = distributed_rank(
        spend, "spend", tiebreakers=[F.col("user_id")], rank_col="rn"
    )
    return ranked.agg(
        F.count("*").alias("n_users"),
        F.round(
            2.0 * F.sum(F.col("rn") * F.col("spend"))
            / (F.count("*") * F.sum("spend"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


ORACLE_SPEND_GINI = """
WITH spend AS (
  SELECT user_id, ROUND(SUM(value), 6) AS spend
  FROM events GROUP BY user_id),
r AS (SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend, user_id) AS rn
      FROM spend)
SELECT COUNT(*) AS n_users,
       ROUND(2.0 * SUM(rn * spend) / (COUNT(*) * SUM(spend))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM r
"""


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of event values vs
    Benford's law — the classic anomaly/fraud screen for transaction
    amounts. Output per digit 1-9: observed count, observed share,
    Benford's expected share log10(1 + 1/d), and the deviation.

    Scale: the digit is in-row arithmetic (floor(v / 10^floor(log10
    v))), then one 9-row aggregate; the share denominator is a window
    over those 9 rows (bounded by construction)."""
    ev = _t(spark, sf_dir, "events").where(F.col("value") > 0)
    digit = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("int")
    counts = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    total_w = Window.rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ).orderBy("digit")
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.sum("n").over(total_w)
    return counts.select(
        "digit",
        "n",
        F.round(share, 6).alias("observed"),
        F.round(expected, 6).alias("benford"),
        F.round(share - expected, 6).alias("deviation"),
    ).orderBy("digit")


ORACLE_BENFORD_DEVIATION = """
WITH d AS (
  SELECT CAST(FLOOR(value / POWER(10.0, FLOOR(LOG10(value)))) AS INT)
           AS digit
  FROM events WHERE value > 0),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
SELECT digit, n,
       ROUND(n * 1.0 / SUM(n) OVER (), 6) AS observed,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford,
       ROUND(n * 1.0 / SUM(n) OVER () - LOG10(1.0 + 1.0 / digit), 6)
         AS deviation
FROM c ORDER BY digit
"""


# ---------------------------------------------------------------------
# round-6 registry growth (ROADMAP r6 sizing rule: land with oracle +
# determinism + sf1 smoke + shuffle gate BEFORE the window freezes)


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history build (operators/scd2.py): init from the
    customer snapshot at T0, ONE merge of a derived T1 snapshot (the
    same derivation q_snapshot_diff uses — every 97th key dropped,
    every 11th acctbal bumped, a shifted clone block added), output
    the full version history with [valid_from, valid_to) intervals.
    The reference swaps whole dimension snapshots and loses history
    (wbdb.clj:39-49); SCD2 keeps every version. One full-outer join on
    the business key + union with closed history; shuffle is
    |dimension|-sized, independent of fact volume."""
    from ..operators.scd2 import scd2_init, scd2_merge

    t0, t1 = "2024-01-01 00:00:00", "2024-06-01 00:00:00"
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    new = (
        cust.where(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 100
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                "c_name",
                "c_acctbal",
            )
        )
    )
    hist = scd2_merge(
        scd2_init(cust, t0),
        new,
        keys=["c_custkey"],
        attrs=["c_name", "c_acctbal"],
        ts=t1,
    )
    return hist.orderBy("c_custkey", "valid_from")


ORACLE_SCD2_BUILD = """
WITH old_s AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer
), new_s AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 != 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_acctbal
  FROM customer WHERE c_custkey % 13 = 0
), cls AS (
  SELECT coalesce(o.c_custkey, n.c_custkey) AS k,
         o.c_custkey IS NOT NULL AS in_o,
         n.c_custkey IS NOT NULL AS in_n,
         o.c_name AS o_name, o.c_acctbal AS o_bal,
         n.c_name AS n_name, n.c_acctbal AS n_bal,
         (o.c_name IS NOT DISTINCT FROM n.c_name
          AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal) AS same
  FROM old_s o FULL OUTER JOIN new_s n ON o.c_custkey = n.c_custkey
)
SELECT k AS c_custkey, o_name AS c_name, o_bal AS c_acctbal,
       TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
       CASE WHEN in_n AND same THEN NULL
            ELSE TIMESTAMP '2024-06-01 00:00:00' END AS valid_to
FROM cls WHERE in_o
UNION ALL
SELECT k, n_name, n_bal, TIMESTAMP '2024-06-01 00:00:00', NULL
FROM cls WHERE in_n AND (NOT in_o OR NOT same)
"""


def q_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark late-drop semantics as a batch plan
    (operators/stream_twins.watermark_late_drop): arrival order is
    event_id, event time is a deterministically skewed 'device time'
    (ts - (event_id*997 mod 3600) seconds — integer arithmetic, so
    both engines derive identical instants), watermark delay 10 min.
    ~66% of rows at sf0.01 are genuinely late under this skew, so the
    oracle discriminates in both directions. No single-partition sort:
    bucketed prefix-max (see the operator docstring)."""
    from ..operators.stream_twins import watermark_late_drop

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, (event_id * 997) % 3600)"
        ).alias("device_ts"),
    )
    return watermark_late_drop(
        ev, "event_id", "device_ts", delay="10 minutes"
    ).orderBy("event_id")


ORACLE_WATERMARK_LATE_DROP = """
WITH d AS (
  SELECT event_id, user_id, event_type,
         ts - ((event_id * 997) % 3600) * INTERVAL 1 SECOND AS device_ts
  FROM events
), w AS (
  SELECT *, MAX(device_ts) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
  FROM d
)
SELECT event_id, user_id, event_type, device_ts
FROM w
WHERE seen IS NULL OR device_ts >= seen - INTERVAL 10 MINUTE
ORDER BY event_id
"""


def q_emit_on_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-on-change / deduplicate-consecutive as a batch plan
    (operators/stream_twins.emit_on_change): per user in (ts,
    event_id) order, keep a row only when its event_type differs from
    the previous row's — run-length compression of a keyed change
    stream (the batch twin of a stateful streaming dedup). One
    hash-partitioned window, no global sort."""
    from ..operators.stream_twins import emit_on_change

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return emit_on_change(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["event_type"],
    ).orderBy("event_id")


ORACLE_EMIT_ON_CHANGE = """
WITH w AS (
  SELECT event_id, user_id, ts, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, ts, event_type
FROM w WHERE rn = 1 OR prev IS DISTINCT FROM event_type
ORDER BY event_id
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over part (operators/skyline.pareto_frontier):
    the parts no other part beats on BOTH price (minimize) and size
    (maximize). The oracle is the definitional O(n²) NOT EXISTS
    anti-join; the Spark plan is the sort-free distinct-value
    decomposition (histogram -> bucketed exclusive prefix -> join
    back), shuffles distinct-value-sized."""
    from ..operators.skyline import pareto_frontier

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier(
        part, minimize_col="p_retailprice", maximize_col="p_size"
    ).select("p_partkey", "p_retailprice", "p_size").orderBy("p_partkey")


ORACLE_PARETO_FRONTIER = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage (operators/intervals.py): each event
    spans [ts, ts + round(value*60000) ms); the union length of those
    (overlapping) spans and the merged-island count per user.
    Gaps-and-islands per key — hash-partitioned windows, two map-side-
    combined keyed aggregates, no global sort. Epoch-microsecond
    integer arithmetic end to end, so both engines agree exactly."""
    from ..operators.intervals import interval_coverage

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.round(F.col("value") * 60000).cast("bigint") * 1000
        ).alias("end_us"),
    )
    out = interval_coverage(
        ev, key_cols=["user_id"], start_col="start_us", end_col="end_us"
    )
    return out.select(
        "user_id",
        F.col("covered").alias("covered_us"),
        "n_islands",
    ).orderBy("user_id")


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(round(value * 60000) AS BIGINT) * 1000 AS e
  FROM events
), w AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_e
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM w
), m AS (
  SELECT user_id, island, MIN(s) AS s, MAX(e) AS e
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(GREATEST(e - s, 0)) AS BIGINT) AS covered_us,
       COUNT(*) AS n_islands
FROM m GROUP BY user_id ORDER BY user_id
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of l_extendedprice weighted by l_quantity
    per (returnflag, linestatus) (operators/ranking.weighted_median):
    the Spark plan folds to the distinct-value histogram and takes a
    cumulative-weight threshold (integer cumsums — order-exact); the
    oracle UNROLLS the weights with range() and picks the value at
    rank ceil(n/2) — an independent formulation of the same
    definition."""
    from ..operators.ranking import weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return weighted_median(
        li,
        group_cols=["l_returnflag", "l_linestatus"],
        value_col="l_extendedprice",
        weight_col="qty",
    ).orderBy("l_returnflag", "l_linestatus")


ORACLE_WEIGHTED_MEDIAN = """
-- weights unrolled against a constant 1..50 ladder (DuckDB range()
-- takes no lateral args; TPC-H fixes l_quantity in [1, 50] and the
-- testdata generator follows — a domain change would hash-mismatch
-- against Spark's full-weight path, so the bound is self-checking)
WITH n AS (SELECT range + 1 AS i FROM range(50)),
u AS (
  SELECT l_returnflag, l_linestatus, l_extendedprice AS v
  FROM lineitem JOIN n ON n.i <= CAST(l_quantity AS BIGINT)
), r AS (
  SELECT l_returnflag, l_linestatus, v,
         row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
  FROM u
)
SELECT l_returnflag, l_linestatus, v AS weighted_median
FROM r WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
ORDER BY l_returnflag, l_linestatus
"""


def q_session_window_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the two streaming semantics twins: watermark
    late-drop (same deterministic device-time skew as
    q_watermark_late_drop) feeding Spark's NATIVE session_window
    aggregate — i.e. what a watermarked streaming session aggregation
    would emit, driver-checkable as one batch plan. Scale: the
    late-drop is the bucketed prefix-max (no global sort); the
    session aggregate is one shuffle on user_id, sessions merged by
    the aggregate itself."""
    from ..operators.stream_twins import watermark_late_drop

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "ts - make_interval(0, 0, 0, 0, 0, 0, (event_id * 997) % 3600)"
        ).alias("device_ts"),
    )
    kept = watermark_late_drop(ev, "event_id", "device_ts", delay="10 minutes")
    return (
        kept.groupBy(
            "user_id", F.session_window("device_ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


ORACLE_SESSION_WINDOW_LATE = """
WITH d AS (
  SELECT event_id, user_id,
         ts - ((event_id * 997) % 3600) * INTERVAL 1 SECOND AS device_ts
  FROM events
), w AS (
  SELECT *, MAX(device_ts) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
  FROM d
), kept AS (
  SELECT event_id, user_id, device_ts FROM w
  WHERE seen IS NULL OR device_ts >= seen - INTERVAL 10 MINUTE
), g AS (
  SELECT user_id, device_ts, event_id,
    CASE WHEN epoch(device_ts) - LAG(epoch(device_ts)) OVER
              (PARTITION BY user_id ORDER BY device_ts, event_id) >= 1800
         THEN 1 ELSE 0 END AS new_s
  FROM kept
), s AS (
  SELECT user_id, device_ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY device_ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id, MIN(device_ts) AS session_start,
       MAX(device_ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


def q_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-dimension scaling of the embedding corpus:
    (x - median) / IQR per dimension — the outlier-insensitive
    normalization a curation pipeline uses where mean/std (see
    source_zscores) is skew-fragile. Per-dim stats come from ONE
    aggregate: percentile_approx with accuracy >= n is EXACT (the
    value at 1-based rank ceil(p*n) — see the canon notes), so d rows
    of [q1, med, q3] broadcast back and the scaling is map-only; no
    per-dimension sort ever runs. At corpus sizes beyond the accuracy
    budget the same plan degrades gracefully to approximate stats.
    The oracle re-derives the identical ranks with row_number."""
    ex = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .withColumn("x", F.col("x").cast("double"))
    )
    stats = ex.groupBy("dim").agg(
        F.percentile_approx(
            "x", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(1_000_000)
        ).alias("q")
    )
    stats = stats.select(
        "dim",
        F.col("q")[0].alias("q1"),
        F.col("q")[1].alias("med"),
        F.col("q")[2].alias("q3"),
    )
    return (
        ex.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.round(
                F.when(F.col("q3") == F.col("q1"), F.lit(0.0)).otherwise(
                    (F.col("x") - F.col("med")) / (F.col("q3") - F.col("q1"))
                ),
                6,
            ).alias("scaled"),
        )
    )


ORACLE_ROBUST_SCALER = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), r AS (
  SELECT dim, x,
         row_number() OVER (PARTITION BY dim ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY dim) AS n
  FROM ex
), st AS (
  SELECT dim,
         MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN x END) AS q1,
         MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN x END) AS med,
         MIN(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN x END) AS q3
  FROM r GROUP BY dim
)
SELECT e.vec_id, e.dim,
       ROUND(CASE WHEN s.q3 = s.q1 THEN 0.0
                  ELSE (e.x - s.med) / (s.q3 - s.q1) END, 6) AS scaled
FROM ex e JOIN st s ON e.dim = s.dim
"""


def q_topk_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per brand by whole-dollar price with RANK ties — unlike
    q_top_parts_per_brand's row_number cut, every part tied at the
    boundary survives, so the result is deterministic WITHOUT a
    tiebreaker. Spark pushes the rank <= 3 predicate into
    WindowGroupLimit (per-partition partial top-k before the
    exchange), asserted in the plan-quality sweep."""
    part = _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.floor("p_retailprice").cast("bigint").alias("dollars"),
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("dollars"))
    return (
        part.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .orderBy("p_brand", "rnk", "p_partkey")
    )


ORACLE_TOPK_RANK_TIES = """
WITH r AS (
  SELECT p_brand, p_partkey,
         CAST(FLOOR(p_retailprice) AS BIGINT) AS dollars,
         RANK() OVER (PARTITION BY p_brand
                      ORDER BY CAST(FLOOR(p_retailprice) AS BIGINT) DESC)
           AS rnk
  FROM part
)
SELECT p_brand, p_partkey, dollars, rnk
FROM r WHERE rnk <= 3
ORDER BY p_brand, rnk, p_partkey
"""


def q_skyline_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D skyline over part (operators/skyline.skyline_md): the parts
    no other part beats on price (minimize), size (maximize), AND
    name length (maximize) simultaneously. The oracle stays the
    definitional O(n²) NOT EXISTS anti-join; the Spark plan is the
    grid filter-and-refine (distinct tuples -> cell-corner pruning ->
    candidate-pair refine), shuffles distinct-tuple-sized."""
    from ..operators.skyline import skyline_md

    p3 = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.length("p_name").cast("bigint").alias("p_qual"),
    )
    return (
        skyline_md(
            p3,
            minimize_cols=["p_retailprice"],
            maximize_cols=["p_size", "p_qual"],
        )
        .select("p_partkey", "p_retailprice", "p_size", "p_qual")
        .orderBy("p_partkey")
    )


ORACLE_SKYLINE_3D = """
WITH p3 AS (
  SELECT p_partkey, p_retailprice, p_size,
         CAST(length(p_name) AS BIGINT) AS p_qual
  FROM part
)
SELECT p_partkey, p_retailprice, p_size, p_qual
FROM p3 p
WHERE NOT EXISTS (
  SELECT 1 FROM p3 q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size AND q.p_qual >= p.p_qual
    AND (q.p_retailprice < p.p_retailprice
         OR q.p_size > p.p_size OR q.p_qual > p.p_qual))
ORDER BY p_partkey
"""


def q_knearest_preceding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book-style temporal join (ROADMAP r6,
    operators/range_join.knearest_preceding): every purchase joined to
    its 3 nearest preceding clicks by the same user within one hour,
    nearest first. Binned range-join shape: the right side explodes
    into exactly 2 bound-width bins, candidates come from an equi hash
    join on (user_id, bin) — never a nested loop — and a per-purchase
    window keeps rank <= 3. Exact integer microsecond gaps, id
    tiebreak, so both engines agree exactly."""
    from ..operators.range_join import knearest_preceding

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return (
        knearest_preceding(
            purchases,
            clicks,
            k=3,
            bound_seconds=3600,
            equi=["user_id"],
        )
        .select("event_id", "rank", "preceding_id", "gap_us")
        .orderBy("event_id", "rank")
    )


ORACLE_KNEAREST_PRECEDING = """
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS l_us
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT event_id AS preceding_id, user_id, epoch_us(ts) AS r_us
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT l.event_id, r.preceding_id, l.l_us - r.r_us AS gap_us
  FROM l JOIN r ON l.user_id = r.user_id
   AND r.r_us <= l.l_us
   AND l.l_us - r.r_us <= CAST(3600000000 AS BIGINT)
), k AS (
  SELECT event_id, preceding_id, gap_us,
         CAST(row_number() OVER (
           PARTITION BY event_id ORDER BY gap_us, preceding_id
         ) AS INT) AS rank
  FROM j
)
SELECT event_id, rank, preceding_id, gap_us
FROM k WHERE rank <= 3
ORDER BY event_id, rank
"""


def q_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window features (operators/range_join.
    preceding_window_agg): for EVERY purchase, the count and gap
    statistics of the same user's clicks in the preceding hour —
    including purchases with zero preceding clicks (n_preceding=0,
    NULL gaps). The aggregate twin of knearest_preceding: same binned
    candidate join, one map-side-combined aggregate instead of a
    window, one join-back for the zero-match rows. Double sums of
    integer microseconds are exact (< 2^53), so the 6dp mean is
    engine-identical."""
    from ..operators.range_join import preceding_window_agg

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return (
        preceding_window_agg(
            purchases, clicks, bound_seconds=3600, equi=["user_id"]
        )
        .select(
            "event_id",
            "user_id",
            "n_preceding",
            "mean_gap_us",
            "min_gap_us",
            "max_gap_us",
        )
        .orderBy("event_id")
    )


ORACLE_ATTRIBUTION_WINDOW = """
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS l_us
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, epoch_us(ts) AS r_us
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT l.event_id, l.user_id, l.l_us - r.r_us AS gap_us
  FROM l JOIN r ON l.user_id = r.user_id
   AND r.r_us <= l.l_us
   AND l.l_us - r.r_us <= CAST(3600000000 AS BIGINT)
), agg AS (
  SELECT event_id, user_id,
         COUNT(*) AS n_preceding,
         ROUND(SUM(CAST(gap_us AS DOUBLE)) / COUNT(*), 6) AS mean_gap_us,
         MIN(gap_us) AS min_gap_us,
         MAX(gap_us) AS max_gap_us
  FROM j GROUP BY event_id, user_id
)
SELECT l.event_id, l.user_id,
       COALESCE(agg.n_preceding, 0) AS n_preceding,
       agg.mean_gap_us, agg.min_gap_us, agg.max_gap_us
FROM l LEFT JOIN agg ON l.event_id = agg.event_id
ORDER BY l.event_id
"""


def q_rate_limit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaky-bucket sampling as a driver-checkable batch twin
    (operators/stream_twins.rate_limit_twin): per user, at most 2
    events per event-time minute, earliest-first — the reference's W4
    epm throttle semantics (http.clj:74-78) under in-order arrival.
    One keyed window on (user, minute); Spark pushes rn <= 2 into
    WindowGroupLimit. The live stateful form (streaming/stateful.
    rate_limit_stream) is asserted equal on in-order input in
    tests/test_stream_twins_skyline.py."""
    from ..operators.stream_twins import rate_limit_twin

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return rate_limit_twin(
        ev, epm=2, ts_col="ts", key_cols=["user_id"],
        tiebreak_col="event_id",
    ).orderBy("event_id")


ORACLE_RATE_LIMIT_EVENTS = """
WITH r AS (
  SELECT event_id, user_id, ts, event_type,
         row_number() OVER (
           PARTITION BY user_id, CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
)
SELECT event_id, user_id, ts, event_type
FROM r WHERE rn <= 2
ORDER BY event_id
"""


def q_knearest_following(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward twin of knearest_preceding (operators/range_join.
    knearest_following): every click joined to its 3 nearest FOLLOWING
    purchases by the same user within one hour — the "what happened
    next" response-window shape. Same binned plan, same determinism
    contract (exact integer µs gaps, id tiebreak)."""
    from ..operators.range_join import knearest_following

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        knearest_following(
            clicks,
            purchases,
            k=3,
            bound_seconds=3600,
            equi=["user_id"],
        )
        .select("event_id", "rank", "following_id", "gap_us")
        .orderBy("event_id", "rank")
    )


ORACLE_KNEAREST_FOLLOWING = """
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS l_us
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT event_id AS following_id, user_id, epoch_us(ts) AS r_us
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT l.event_id, r.following_id, r.r_us - l.l_us AS gap_us
  FROM l JOIN r ON l.user_id = r.user_id
   AND r.r_us >= l.l_us
   AND r.r_us - l.l_us <= CAST(3600000000 AS BIGINT)
), k AS (
  SELECT event_id, following_id, gap_us,
         CAST(row_number() OVER (
           PARTITION BY event_id ORDER BY gap_us, following_id
         ) AS INT) AS rank
  FROM j
)
SELECT event_id, rank, following_id, gap_us
FROM k WHERE rank <= 3
ORDER BY event_id, rank
"""


def q_skyline_4d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-objective skyline over part (operators/skyline.skyline_md at
    d=4): minimize price; maximize size, name length, and type length.
    Same grid filter-and-refine plan as skyline_3d — the operator is
    dimension-generic; registering d=4 pins that the cell pruning and
    pair refine hold beyond 3 dims against the definitional NOT EXISTS
    oracle."""
    from ..operators.skyline import skyline_md

    p4 = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.length("p_name").cast("bigint").alias("p_qual"),
        F.length("p_type").cast("bigint").alias("p_tlen"),
    )
    return (
        skyline_md(
            p4,
            minimize_cols=["p_retailprice"],
            maximize_cols=["p_size", "p_qual", "p_tlen"],
            n_buckets=6,
        )
        .select("p_partkey", "p_retailprice", "p_size", "p_qual", "p_tlen")
        .orderBy("p_partkey")
    )


ORACLE_SKYLINE_4D = """
WITH p4 AS (
  SELECT p_partkey, p_retailprice, p_size,
         CAST(length(p_name) AS BIGINT) AS p_qual,
         CAST(length(p_type) AS BIGINT) AS p_tlen
  FROM part
)
SELECT p_partkey, p_retailprice, p_size, p_qual, p_tlen
FROM p4 p
WHERE NOT EXISTS (
  SELECT 1 FROM p4 q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size AND q.p_qual >= p.p_qual
    AND q.p_tlen >= p.p_tlen
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size
         OR q.p_qual > p.p_qual OR q.p_tlen > p.p_tlen))
ORDER BY p_partkey
"""


def q_decile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bucketed join (ROADMAP r8, rides distributed_rank):
    customers are ranked into spend deciles, then the ORDER FACTS join
    back onto their customer's decile — the "enrich facts with their
    entity's distribution position" shape (decile-targeted cohort
    stats). Output: per (decile, o_orderpriority) order count, member
    count and exact average order value.

    Scale: the per-customer aggregate is the corpus-sized shuffle;
    decile assignment is arithmetic over distributed_rank
    (ntile_from_rank = SQL ntile exactly, no single-partition sort);
    the facts->decile join is a hash join keyed on custkey (both sides
    corpus-scale, never a nested loop). Money sums use DECIMAL(18,2)
    so the per-decile totals are order-exact (the documented decimal
    discipline; doubles would flake the ROUND boundary)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "__p", F.col("o_totalprice").cast("decimal(18,2)")
    )
    spend = orders.groupBy("o_custkey").agg(F.sum("__p").alias("spend"))
    ranked = distributed_rank(
        spend,
        "spend",
        tiebreakers=[F.asc("o_custkey")],
        rank_col="__rn",
        total_col="__n",
    )
    deciled = ranked.select(
        "o_custkey",
        ntile_from_rank(F.col("__rn"), F.col("__n"), 10).alias("decile"),
    )
    j = orders.join(deciled, "o_custkey")
    # decimal math stays internal (plans/canon.py): the exact decimal
    # SUM is cast to double only at the output boundary
    return j.groupBy("decile", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum("__p").cast("double").alias("priority_spend"),
        F.round(
            F.sum("__p").cast("double") / F.count("*"), 6
        ).alias("avg_order"),
    )


ORACLE_DECILE_JOIN = """
WITH o AS (
  SELECT o_custkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders),
spend AS (SELECT o_custkey, SUM(p) AS spend FROM o GROUP BY o_custkey),
deciled AS (
  SELECT o_custkey, ntile(10) OVER (ORDER BY spend, o_custkey) AS decile
  FROM spend)
SELECT decile, o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(p) AS DOUBLE) AS priority_spend,
       ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS avg_order
FROM o JOIN deciled USING (o_custkey)
GROUP BY decile, o_orderpriority
"""
