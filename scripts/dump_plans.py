"""Regenerate PLANS.md: executed physical plans of the headline
queries — the plan shapes tests/test_plan_quality.py pins, committed
as reviewable evidence. Run after any plan-affecting change:

  PYTHONPATH=/root/repo python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dwds_livestream_spark.plans.registry import QUERIES  # noqa: E402
from dwds_livestream_spark.session import build_session  # noqa: E402

HEADLINE = {
    "q1_pricing_summary": "TPC-H Q1: partial+final agg, shipdate filter pushed to scan",
    "events_enrich": "stream-static dimension enrich: broadcast left join, fact never shuffles",
    "argmin_dedup": "min_by argmin dedup: partial+final sort aggregate, one shuffle, no window",
    "spend_percent_rank": "global percent_rank WITHOUT a global sort (distributed_rank buckets)",
    "ppl_buckets": "perplexity terciles: percentile bounds broadcast, map-only bucketing",
    "dedup_minhash_lsh": "banded MinHash-LSH: one Arrow signature kernel, bucket-key shuffle only",
    "embedding_covariance": "one-pass covariance: MapInPandas partials, d^2 shuffle",
    "embedding_quantize": "int8 quantize: broadcast bounds, in-row transform, zero corpus shuffle",
    "asof_latest_order": "as-of join: union + one keyed window, no pair explosion",
    "rollup_revenue": "rollup: one Expand, one shuffle",
    "gopher_quality": "Gopher rule battery: map-only, zero Exchange",
    "paragraph_dedup": "paragraph dedup: partial-combined min-struct election, 3-key join-back",
    "bloom_semi_join": "Bloom prefilter: 3 broadcast position joins, no probe shuffle before exact semi",
    "countmin_words": "count-min cells: one map-side-combined shuffle, bounded grid",
    "triangle_count": "triangles: degree-ordered orientation + array_intersect closing, edge-sized joins",
    "weighted_sample": "ES weighted sample: WindowGroupLimit pushdown on per-key rank",
    "quantile_rollup": "range percentiles from the day-bin rollup: map-side-combined hist, 64-row reconstruction",
    "ewma_user_value": "truncated EWMA: partitioned rank windows + bounded co-partitioned self-join, literal weights",
    "seasonal_decompose": "trend/seasonal/residual: per-series windows, 7x#types seasonal join-back",
    "cluster_representative": "fuzzy-dedup ledger: inverted-index pairs, pointer-jump components, per-cluster windows in one exchange",
    "bm25_index_topk": "persisted BM25: postings scan pruned to the query's term buckets",
    "lm_artifact_ppl": "persisted LM scoring: count-table left joins, vocab-sized broadcasts",
    "watermark_late_drop": "watermark twin: bucketed prefix-max, no single-partition running max",
    "pareto_frontier": "2-D skyline: distinct-value histogram, bucket prefix, value join-back",
    "weighted_median": "weighted median: histogram fold, per-group cumsum over distinct values",
    "scd2_build": "SCD2 merge: one dimension-keyed full-outer join + history union",
    "skyline_3d": "3-D skyline: cached distinct-tuple fold, cell pruning, broadcast pair refine",
    "knearest_preceding": "k-nearest-preceding: 2-bin explode, equi hash join, per-left rank window",
    "attribution_window": "attribution window: binned candidates, ONE map-side agg, outer join-back",
    "rate_limit_events": "leaky-bucket twin: keyed (user, minute) window under WindowGroupLimit",
    "knearest_following": "k-nearest-following: forward twin, same binned shape",
    "decile_join": "percentile-bucketed join: distributed_rank deciles -> keyed facts join",
    "domain_dedup": "registered-domain rollup: map-only normalize, one keyed aggregate",
    "quantile_normalize": "quantile normalization: grouped bucketed rank, no per-dim global window",
    "ngram_novelty": "n-gram novelty: train distinct-hash set, probe join, per-doc count",
    "group_quantile_normalize": "per-label quantile normalization: same bucketed rank, (label, dim) keys",
    "url_path_neardup": "URL path near-dup: (domain, segment) inverted-index join, pair-fold Jaccard",
    "rbo_drift": "RBO drift: per-day top-k leaderboards, broadcast pair+tail frames, k-bounded join",
    "rbo_source_panel": "RBO panel: vocab-sized count folds, WindowGroupLimit top-k, broadcast reference",
    "quota_sample_ks": (
        "two-sample KS: (value, count) histogram folds, ECDF cumsum on the "
        "histogram. CAVEAT (VERDICT r8 #8): the ordered ECDF pass is a "
        "SinglePartition window over the merged histogram — bounded by the "
        "DISTINCT-VALUE domain (lengths, scores, counts), not the corpus. "
        "Pointing ks_distance at a continuous high-cardinality column "
        "(raw floats, embeddings norms) makes the histogram corpus-sized; "
        "quantize value_col first (width_bucket / round) — the standard "
        "binned-KS audit — before the fold. Degenerate inputs (either side "
        "empty/all-NULL) return one row with true counts and NULL ks"
    ),
    "temporal_path_drift": (
        "per-domain URL-set Jaccard across consecutive snapshots: one "
        "distinct (domain, snapshot, path) fold, calendar-bounded broadcast "
        "pair frame, one equi intersection join, jaccard-0 births/deaths"
    ),
    "path_novelty": (
        "per-snapshot first-seen fraction: the prefix scan collapses into a "
        "min() keyed on (domain, path) — Window-free, all aggregates "
        "map-side combined"
    ),
    "ks_source_panel": (
        "grouped KS panel: per-source histograms + broadcast reference "
        "histogram, union evaluation grid, ECDF windows PARTITIONED BY "
        "GROUP — no single-partition pass (contrast quota_sample_ks)"
    ),
    "ks_value_binned": (
        "binned KS on a continuous column: both sides bucket onto one "
        "32-bin grid (1-row min/max broadcast, engine-identical double "
        "arithmetic) — histogram and ECDF passes bins-bounded on any "
        "value domain; the quantize-first caveat as a one-arg path"
    ),
    "content_drift": (
        "per-source n-gram-set drift: md5-digest fold, shared set_drift "
        "assembly (calendar-bounded broadcast pair frame, one equi "
        "intersection join) — the content twin of temporal_path_drift"
    ),
    "dup_rate_drift": (
        "per-source dup-rate drift: composite-key digest fold, broadcast "
        "pair frame, one keyed join — the exact-dup leg of the temporal "
        "audit family"
    ),
    "ks_drift": (
        "per-source KS between consecutive snapshots: histogram fold, "
        "per-(group, pair) grids, group-pair-partitioned ECDF windows — "
        "the distributional leg of the temporal audit family"
    ),
    "ks_drift_binned": (
        "binned KS drift: the shared 32-bin quantize grid threaded into "
        "the temporal leg — bins-bounded per-cell histograms on any "
        "value domain"
    ),
    "drift_anomaly": (
        "drift anomaly panel: per-pair population z-scores from exact "
        "integer sums, broadcast stats join over path_drift's fold"
    ),
    "centroid_drift": (
        "embedding centroid drift: map-side-combined (label, snapshot, "
        "dim) avg fold, broadcast pair frame, (group, dim)-keyed drift "
        "reduction — vectors never shuffle"
    ),
    "minhash_ledger_replay": (
        "incremental near-dup ledger: cached signatures, (id, band, "
        "key) bucket joins per step, id-list ledger checkpointed per "
        "batch — text never crosses an exchange"
    ),
    "token_js_divergence": (
        "lexical JS divergence: (group, token) fold pinned for three "
        "consumers, vocab-sized global re-fold, 1-row corpus total "
        "broadcast — exact-support algebra, nothing group x vocab"
    ),
    "novelty_half_life": (
        "novelty decay fit: Window-free first-seen min(), keyed "
        "novelty counts, one domain-keyed regression fold"
    ),
    "domain_drift_panel": (
        "domain drift dashboard: path_drift fold + (domain, snapshot) "
        "digest dup rates, (domain, period)-keyed LEFT joins"
    ),
    "psi_drift": (
        "PSI drift: quantize grid broadcast, shared paired-histogram "
        "assembly, (pair x bins) densify, one keyed fold"
    ),
    "js_drift": (
        "lexical JS drift: digest fold, union-support grid, one "
        "(group, pair)-keyed fold"
    ),
    "token_novelty": (
        "vocabulary novelty: distinct digest fold + set_novelty "
        "(keyed min first-seen, Window-free)"
    ),
    "embedding_drift_anomaly": (
        "embedding anomaly panel: exact-integer population z over "
        "centroid_drift, stats broadcast"
    ),
    "unigram_entropy": (
        "per-doc Shannon entropy: in-row histogram, map-only "
        "projection, zero Exchange"
    ),
    "paragraph_ledger_replay": (
        "span-level exact ledger: xxhash64 digests at the scan, "
        "first-seen min(batch) fold, digest re-join, per-doc fold — "
        "order-free, no driver loop"
    ),
    "conformal_outlier_bounds": (
        "split-conformal gate: group-keyed rank window over the "
        "calibration side, GROUP-sized bound frame broadcast into "
        "the test gate"
    ),
    "dedup_yield_curve": (
        "dedup yield curve: ledger replay + groupBy(batch) map-side "
        "fold + |batches|-row cumulative window"
    ),
    "drift_panel_join": (
        "distributional drift panel: PSI/KS on one shared 32-bin "
        "grid + lexical JS, joined on (group, pair) keys"
    ),
    "paragraph_yield_curve": (
        "span-ledger yield curve: pinned span/first-seen digest "
        "frames, per-batch fold, calendar cumulative window"
    ),
    "conformal_drift_gate": (
        "temporal conformal gate: (group, period)-partitioned rank "
        "window, broadcast pair + bound frames, keyed flag fold"
    ),
    "logbucket_quantiles": (
        "log-bucket quantile sketch: one map-side-combined (group, "
        "octave, sub-bucket) fold, group-partitioned cumulative, "
        "key-sized rank-target join"
    ),
}


def main() -> None:
    spark = build_session(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — executed physical plans of headline queries",
        "",
        "Generated by `python scripts/dump_plans.py` at sf0.001 (plan shape is",
        "scale-invariant; row counts aren't). Each plan is the one",
        "`tests/test_plan_quality.py` pins — regenerate after plan-affecting",
        "changes.",
        "",
    ]
    for name, why in HEADLINE.items():
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln.rstrip()[:120] for ln in plan.splitlines() if ln.strip()]
        out += [f"## {name}", "", f"_{why}_", "", "```", *lines, "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
