"""A bounded set of registry queries over seeded synthetic tables, run
in a fixed number of passes with ``drop_leftover_state`` between
queries (bench.py's protocol), then hash-matched against the DuckDB
oracle outside the measured region."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from common import CpuClock, geomean, jvm_gc_ms, peak_rss_mb, quantile

from dwds_livestream_spark.plans.registry import ORACLE_SQL, QUERIES, TABLES
from dwds_livestream_spark.session import drop_leftover_state

# pipeline parity and sub-second analytics: a set whose warm pass takes
# a few seconds on 4 cores, so MIN_PASSES passes fit in a run's share of
# the run-time budget
QUERY_SET = (
    "events_filter_project events_enrich argmin_dedup json_extract "
    "q1_pricing_summary q3_top_revenue_orders sessionize rollup_revenue"
).split()
MIN_PASSES = 2

# rows per table at scale factor 0.01 (the oracle scale of the repo)
_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15_000,
         "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window data column join small big customer query "
          "order group filter vector stream").split()


def write_tables(seed: int, out: str) -> None:
    """The star schema + events/documents/embeddings, shaped like the
    repo's test tables (FIXTURES.md §6)."""
    rng = np.random.default_rng([seed, 5])
    n = _ROWS
    day = np.timedelta64(1, "D")

    def ts(start: str, days: int, size: int):
        return (np.datetime64(start, "us") + rng.integers(0, days, size) * day).astype("datetime64[us]")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    colors, nouns = "red blue green small large".split(), "ring widget bolt gear nut".split()
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                        "FURNITURE"], n["customer"])}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n["part"]),
            "p_name": [f"{colors[i % 5]} {nouns[(i // 5) % 5]}" for i in rng.integers(0, 25, n["part"])],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"],
                                 n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
            "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["P", "O", "F"], n["orders"]),
            "o_totalprice": money(1000, 500_000, n["orders"]),
            "o_orderdate": ts("1995-01-01", 2404, n["orders"]),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], n["orders"])}),
    }
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    frames["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], li),
        "l_partkey": rng.integers(0, n["part"], li),
        "l_suppkey": rng.integers(0, n["supplier"], li),
        "l_linenumber": rng.integers(1, 8, li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": ts("1995-01-02", 2498, li)})
    ev = n["events"]
    # whole-second event times: q_sessionize truncates gaps to whole
    # seconds while its oracle compares fractional epochs, so a sub-second
    # timestamp can land a gap on different sides of the 1800 s cut
    gaps = rng.integers(1, 2 * 30 * 86_400 // ev, ev)
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(ev),
        "ts": (np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[s]")),
        "user_id": rng.integers(0, 150, ev),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ev),
        "value": np.clip(np.round(rng.exponential(60, ev), 2), 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(m))) for m in rng.integers(10, 100, nd)]
    frames["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd), "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts])})
    ne = n["embeddings"]
    frames["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(ne),
        "embedding": list(rng.normal(0, 0.1, (ne, 64)).astype("float32")),
        "label": rng.integers(0, 10, ne).astype("int32")})
    for name, df in frames.items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)


def _run_pass(spark, clock, sf_dir: str, tracer, tag: str, warm: bool):
    """Every query once (plan function + ``collect()``), bench.py's
    protocol: ``drop_leftover_state`` before each. Returns per-query
    (wall, plan-function seconds, rows, columns, JVM CPU, Python CPU)
    and the errors."""
    sc = spark.sparkContext
    out, errors = {}, {}
    for name in QUERY_SET:
        drop_leftover_state(spark)
        if tracer.enabled:
            sc.setJobGroup(f"{name}@{tag}", name)
        try:
            cpu0 = clock.read()
            t0 = time.perf_counter()
            with tracer.span("plan", query=name, warm=warm):
                df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span("collect", query=name, warm=warm):
                rows = df.collect()
            t2 = time.perf_counter()
            cpu1 = clock.read()
            out[name] = (t2 - t0, t1 - t0, [tuple(r) for r in rows], df.columns,
                         cpu1[0] - cpu0[0], cpu1[1] - cpu0[1])
        except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
            errors[name] = repr(e)[:300]
    return out, errors


def _oracle_hashes(sf_dir: str) -> dict:
    """Per query with an ORACLE_SQL: (sorted columns, row count, value
    hashes under both cell renderings) of the DuckDB result."""
    import duckdb

    from scripts.check_oracle import norm_cell, norm_cell_coerced, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    want = {}
    for name in QUERY_SET:
        if name in ORACLE_SQL:
            rel = con.sql(ORACLE_SQL[name])
            rows, cols = rel.fetchall(), rel.columns
            want[name] = (sorted(cols), len(rows), [
                value_hash(rows, [cols.index(c) for c in sorted(cols)], norm)
                for norm in (norm_cell, norm_cell_coerced)])
    con.close()
    return want


def _matches(want: tuple, rows: list, cols: list) -> bool:
    """The repo's oracle gate: same columns, row count, and
    order-insensitive value hash under both cell renderings."""
    from scripts.check_oracle import norm_cell, norm_cell_coerced, value_hash

    return want == (sorted(cols), len(rows), [
        value_hash(rows, [cols.index(c) for c in sorted(cols)], norm)
        for norm in (norm_cell, norm_cell_coerced)])


def batch_queries(session, work: str, seed: int, seconds: int, tracer) -> dict:
    sf_dir = os.path.join(work, "tables")
    os.makedirs(sf_dir)
    write_tables(seed, sf_dir)
    spark, session_s = session()

    # ready once the session is up (the queries read freshly written
    # files, so there are no pages to warm): the driver JVM's CPU so far
    clock = CpuClock(spark)
    setup_s = clock.read()[0]
    tracer.mark("setup")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    gc0 = jvm_gc_ms(spark)
    cpu0 = clock.read()
    # a fixed number of passes over the whole set; the first pays each
    # query's codegen and JIT warm-up, and is counted like the others so
    # that every run does the same work
    passes = [_run_pass(spark, clock, sf_dir, tracer, str(i), i > 0)
              for i in range(max(MIN_PASSES, seconds // 3))]
    cpu1 = clock.read()
    gc_ms = jvm_gc_ms(spark) - gc0
    tracer.mark("passes")
    drop_leftover_state(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)

    want = _oracle_hashes(sf_dir)
    errors, mismatched = {}, set()
    for res, errs in passes:
        errors.update(errs)
        for name, (_, _, rows, cols, _, _) in res.items():
            if name in want and not _matches(want[name], rows, cols):
                mismatched.add(name)

    # per-query figures: the median over the passes after the first
    later = passes[1:]

    def med(i):
        return {n: statistics.median(r[n][i] for r, _ in later)
                for n in QUERY_SET if all(n in r for r, _ in later)}

    wall, setup, jvm, py = med(0), med(1), med(4), med(5)
    n_runs = len(QUERY_SET) * len(passes)
    jvm_s, py_s = (b - a for a, b in zip(cpu0, cpu1))
    # CPU of all passes (drop_leftover_state and collect() included) per
    # query execution
    e2e = {"setup_s": setup_s, "cpu_ms_per_unit": 1000 * (jvm_s + py_s) / n_runs}
    times = list(wall.values())
    total = sum(times)
    wall_e2e = {
        "setup_s": session_s,
        "query_p50_s": quantile(times, 0.5),
        "query_geomean_s": geomean(times),
        "batch_total_s": total,
    }
    layers = {"session.gc_ms": float(gc_ms), "session.peak_rss_mb": peak_rss_mb(spark),
              "cpu.jvm_ms_per_unit": 1000 * jvm_s / n_runs,
              "cpu.python_ms_per_unit": 1000 * py_s / n_runs}
    for name in QUERY_SET:
        layers[f"plans.{name}.wall_s"] = wall.get(name, 0.0)
        layers[f"plans.{name}.setup_s"] = setup.get(name, 0.0)
        layers[f"plans.{name}.cpu_ms"] = 1000 * (jvm.get(name, 0.0) + py.get(name, 0.0))
        if tracer.enabled:
            layers[f"plans.{name}.jobs"] = float(statistics.median(
                len(tracker.getJobIdsForGroup(f"{name}@{i}")) for i in range(1, len(passes))))
    return {
        "e2e": e2e, "wall": wall_e2e, "layers": layers, "attempted": n_runs,
        "failed": sum(len(e) for _, e in passes) + sum(
            1 for res, _ in passes for n in res if n in mismatched),
        "check": {"errors": errors, "oracle_mismatch": sorted(mismatched),
                  "oracle_checked": len(want), "passes": len(passes)},
        "load": {"queries": QUERY_SET, "table_rows": _ROWS},
    }
