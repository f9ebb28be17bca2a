"""Measured shuffle audit: execute headline queries and report what
each Exchange ACTUALLY moved (records + bytes from the SQL metrics
store), next to the table sizes scanned.

The plan gates (tests/test_plan_sweep.py, PLANS.md) pin plan SHAPE;
this script pins plan VOLUME — the difference between "the join is a
BroadcastHashJoin" and "the 6M-row fact scan shuffled 0 bytes". Each
audited query carries a docstring claim about its shuffle behavior
(map-side combine, keys-only shuffle, broadcast, pair-fold); the
numbers here are those claims measured, written to SHUFFLE.md.

Usage: python scripts/shuffle_audit.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dwds_livestream_spark.session import build_session  # noqa: E402
from dwds_livestream_spark.plans.registry import QUERIES  # noqa: E402
from dwds_livestream_spark.measure import measure_execution  # noqa: E402

# query -> the scale claim being measured (kept next to the numbers in
# the generated report so each row is an auditable statement)
AUDITS: dict[str, str] = {
    "events_enrich": (
        "stream-static broadcast LEFT join: the events scan must "
        "shuffle ZERO rows (dimension broadcast, no Exchange on the "
        "fact side)"
    ),
    "q1_pricing_summary": (
        "map-side partial aggregation: shuffle records ~= groups x "
        "map partitions, thousands of times smaller than the lineitem "
        "scan"
    ),
    "events_per_hour": (
        "hour-bucket counts: partial agg folds the events scan to "
        "bucket rows before the exchange"
    ),
    "q21_sole_returner": (
        "pair-fold rewrite: lineitem folds to distinct (order,supp) "
        "pairs before any multi-supplier logic, so the SUM across all "
        "exchanges (pairs + order/supplier joins + final agg) stays "
        "~1.7x the fact scan where the countDistinct Expand "
        "formulation shuffled 2-3x the fact rows"
    ),
    "dedup_minhash_lsh": (
        "banded LSH: only (id, band, key) bucket rows ever feed the "
        "self-join - the 128-long signatures never cross an exchange; "
        "at this sf the bucket frame is small enough that AQE "
        "broadcasts it outright (0-row shuffle)"
    ),
    "dedup_simhash": (
        "simhash banding: signatures are a pure projection; what "
        "shuffles is bucket rows plus the pigeonhole candidate pairs "
        "(collision-bounded by the 16-bit block keys), never the "
        "corpus text"
    ),
    "decontaminate": (
        "broadcast bench-shingle probe: the corpus scan is map-only; "
        "the only exchanges aggregate the (small) benchmark shingle "
        "set and per-doc overlap counts"
    ),
    "spend_gini": (
        "distributed exact rank: equi-depth bucketing shuffles each "
        "row once to a bounded bucket - no single-partition global "
        "sort"
    ),
    "pagerank_trade": (
        "iterative rank: shuffled rows / iterations ~= node count - "
        "per iteration only the node-sized rank table moves; the "
        "cached adjacency is hash-partitioned once"
    ),
    "embedding_covariance": (
        "one-pass covariance: mapInPandas emits per-batch partial Gram "
        "matrices, so the exchange carries d^2-scaled cells regardless "
        "of corpus row count"
    ),
    "asof_latest_order": (
        "as-of join as union + running last_value: both inputs cross "
        "ONE exchange once - no per-row probe, no range explosion"
    ),
    "triangle_count": (
        "degree-oriented wedges: edges shuffle as (lo, hi) pairs; "
        "orientation caps wedge fan-out before the join"
    ),
    "dedup_minhash_levenshtein": (
        "at-scale edit-distance composition: banded-LSH candidates "
        "shuffle as (id, band, key) rows, then only the candidate "
        "pairs re-join the corpus text for the Levenshtein verify - "
        "candidates stay linear in the corpus at fixed near-dup "
        "density (1.9x time at 10x data vs the length-banded "
        "baseline's 42x, SCALE_SF1.md)"
    ),
    "contamination_matrix": (
        "source x bench-source telemetry: bench (shingle, source) "
        "pairs broadcast; only per-doc hit rows + the matrix cells "
        "cross an exchange - the corpus scan never shuffles"
    ),
    "dedup_ledger_replay": (
        "incremental keeper-ledger replay: each batch step exchanges "
        "(key, keeper) candidates only; the corpus crosses one "
        "exchange for the final keeper join"
    ),
    "multimodal_resize": (
        "mapInPandas resize is a pure per-row transform: ZERO rows "
        "shuffled off the asset scan"
    ),
    "frame_sample": (
        "columnar frame-timestamp plan (explode over an in-row "
        "sequence): ZERO rows shuffled"
    ),
    # the Expand class (r4 q21 lesson): rollup/cube/grouping-sets and
    # countDistinct plan an Expand that multiplies rows BEFORE the
    # exchange - but partial aggregation runs under it, so a healthy
    # plan still folds the scan first. These four measure that the
    # multiplier never reaches the exchange.
    "rollup_revenue": (
        "Expand class: rollup's 3 grouping sets expand rows map-side, "
        "but partial agg folds them to group rows before the exchange "
        "(measured ~0.03x the scan)"
    ),
    "cube_activity": (
        "Expand class: cube's 4 grouping sets, same partial-agg fold "
        "(~0.05x the scan)"
    ),
    "grouping_sets": (
        "Expand class: explicit GROUPING SETS, partial-agg fold "
        "(~0.2x the scan)"
    ),
    "q16_supplier_part_count": (
        "Expand class: countDistinct over a filtered part-supplier "
        "join - distinct folds map-side, exchanges stay ~0.4x the scan"
    ),
    "cross_doc_spans": (
        "cross-document span dedup: exchanges carry (gram-hash, doc, "
        "pos) triples and the distinct (gram, doc) pre-fold - the "
        "8-byte xxhash64 key rides the wide shuffle, never the gram "
        "text, and the dup-gram set broadcasts back"
    ),
    "lineitem_unpivot": (
        "Expand class: unpivot IS a 4x Expand but purely map-side - a "
        "projection with no aggregate or join behind it, so NOTHING "
        "shuffles; the date filter prunes the scan first"
    ),
    "events_profile": (
        "Expand class: the 5-column multi-countDistinct compiles to "
        "one 6-way Expand, but per-column distinct folds map-side - "
        "the exchange carries distinct partials, not 6x the scan"
    ),
    "trending_topk": (
        "Expand class: the 4x sliding-window assignment expands "
        "map-side BEFORE partial agg - the exchange carries (window, "
        "type) count rows, and top-3 runs under WindowGroupLimit"
    ),
    # round-6 additions (landed with their shuffle gates, ROADMAP rule)
    "watermark_late_drop": (
        "bucketed prefix-max watermark: rows shuffle once into bucket "
        "windows plus a bucket-count-sized summary - the naive global "
        "running max would be a single-partition sort"
    ),
    "emit_on_change": (
        "one keyed window exchange (= scan) plus the output-sized "
        "final sort; no global ordering"
    ),
    "scd2_build": (
        "SCD2 merge: one full-outer join on the business key over "
        "dimension-sized inputs - fact volume never appears"
    ),
    "pareto_frontier": (
        "skyline via distinct-value histogram: everything after the "
        "first aggregate is distinct-value- or bucket-summary-sized"
    ),
    "interval_coverage": (
        "gaps-and-islands per key: hash-partitioned windows + two "
        "map-side-combined keyed aggregates"
    ),
    "weighted_median": (
        "distinct-value histogram fold: the corpus folds to (group, "
        "value, weight) partials before the exchange; the cumsum "
        "re-shuffles histogram rows only"
    ),
    "session_window_late": (
        "watermark twin -> native session_window: bucketed prefix "
        "late-drop, then ONE user_id shuffle merged by the aggregate"
    ),
    "robust_scaler": (
        "per-dim quantiles from ONE mergeable percentile_approx "
        "aggregate, broadcast back - the corpus-side scaling is "
        "map-only"
    ),
    "topk_rank_ties": (
        "rank()-with-ties top-k: WindowGroupLimit partial top-k "
        "prefilters before the exchange"
    ),
    "dedup_containment": (
        "asymmetric containment: candidates meet in shingle postings "
        "lists (inverted-index join) - never all-pairs; what shuffles "
        "is (doc, shingle) rows + candidate-pair counts"
    ),
    "ann_index_topk_fullprobe": (
        "persisted-IVF full probe (exact): queries broadcast into the "
        "cell-partitioned index scan; the exchange carries scored "
        "candidates + the per-query top-k window, never the index "
        "build's corpus"
    ),
    "skyline_3d": (
        "grid filter-and-refine skyline: the corpus folds to distinct "
        "objective tuples first; cell summaries and the survivor "
        "refine are tuple-/survivor-sized, join-back is broadcast"
    ),
    "knearest_preceding": (
        "binned k-nearest-preceding join: the right side explodes "
        "into exactly 2 bound-width bins; candidates come from an "
        "equi hash join (broadcast at this sf) and only candidates "
        "cross the rank-window exchange - never a nested loop"
    ),
    "attribution_window": (
        "aggregate twin of knearest_preceding: same binned candidate "
        "join, one map-side-combined aggregate (no window), one "
        "join-back for zero-match rows"
    ),
    "rate_limit_events": (
        "epm rate-limit batch twin: one keyed (user, minute) window "
        "under WindowGroupLimit - at most epm rows per group survive "
        "the exchange's pre-sort, no global sort"
    ),
    "knearest_following": (
        "forward twin of knearest_preceding: identical 2-bin explode "
        "+ equi hash join + per-left top-k window"
    ),
    "skyline_4d": (
        "grid filter-and-refine at d=4: shuffles are distinct-tuple- "
        "and survivor-sized; the corpus crosses once for the final "
        "semi join"
    ),
    "decile_join": (
        "percentile-bucketed join: per-customer aggregate + "
        "distributed_rank bucketing + keyed facts join - every "
        "exchange keyed, no single-partition sort"
    ),
    "domain_dedup": (
        "registered-domain rollup: map-only URL normalization, one "
        "groupBy(domain) with two-phase distincts - text never "
        "shuffles"
    ),
    "ngram_novelty": (
        "corpus-vs-corpus membership on 8-byte shingle hashes: train "
        "distinct + eval probe join + per-doc count; records are "
        "hash+id sized, document text never crosses an exchange"
    ),
    "quantile_normalize": (
        "grouped distributed-rank recipe: each exploded (dim, value) "
        "cell crosses a constant number of keyed exchanges; NO "
        "per-dim single-partition window"
    ),
    "length_band_filter": (
        "exact rank-convention percentile bands: only mergeable "
        "sketch partials shuffle; bounds broadcast back, filter is "
        "map-only"
    ),
    "zipf_slope": (
        "two-phase (lang, word) count: map-side combine folds each "
        "partition to its local vocabulary before the single word "
        "shuffle; OLS is a built-in aggregate over g*k rows"
    ),
    "minhash_jaccard_error": (
        "sketch accuracy audit: banded-LSH candidates (signatures "
        "never cross an exchange) + exact Jaccard routed through the "
        "candidate list - shingle-count-sized, never all-pairs"
    ),
    "dup_rate_by_source": (
        "per-group duplicate mass: one groupBy(source) over "
        "(source, digest) pairs - text never shuffles"
    ),
    "domain_quota_sample": (
        "per-domain quota: WindowGroupLimit prefilters to <= quota "
        "rows per domain before the exchange's final sort - a hot "
        "domain never materializes whole in one task"
    ),
    "suffix_prefix_join": (
        "concatenation-artifact pairs: one map stage (head/tail "
        "n-gram keys) + one equi hash join - never a nested loop"
    ),
    "rbo_rankings": (
        "rank-biased overlap: both rankings are top-k lists; the "
        "tail-sum table is depth rows; everything past the two top-k "
        "stages is k-bounded"
    ),
    "group_quantile_normalize": (
        "per-label grouped rank: same constant-passes-per-cell "
        "invariant as quantile_normalize - the group key widens the "
        "broadcast split-point/offset frames (g*d rows), never the "
        "per-cell exchange count"
    ),
    "url_path_neardup": (
        "per-site URL near-dup: candidates meet in (domain, segment) "
        "posting lists - ids + short segment strings on the wire, "
        "never an in-domain all-pairs and never text"
    ),
    "rbo_drift": (
        "leaderboard drift: daily counts fold map-side to (day, user) "
        "keys; everything past the per-day top-k is k*P-bounded (tail "
        "table and pair frame broadcast)"
    ),
    "rbo_source_panel": (
        "per-source term-profile drift: (source, word) and corpus "
        "counts fold map-side to vocabulary-sized partials; the panel "
        "join is k-bounded per source - text never shuffles"
    ),
    "quota_sample_ks": (
        "two-sample KS audit: both ECDFs fold to (value, count) "
        "histograms before the merge; the ordered pass runs on the "
        "histogram, never corpus rows"
    ),
    "temporal_path_drift": (
        "snapshot drift: one distinct (domain, snapshot, path) fold; "
        "pair frame broadcast; intersection is an equi join on short "
        "strings - text never shuffles, no all-pairs"
    ),
    "path_novelty": (
        "crawl novelty: the distinct fold plus keyed min()/count() "
        "aggregates only - Window-free, every exchange key-sized"
    ),
    "ks_source_panel": (
        "grouped KS panel: per-source histograms shuffle; reference "
        "histogram + totals broadcast; ECDF windows partitioned by "
        "group over the (group x value) grid"
    ),
    "ks_value_binned": (
        "binned KS: continuous values bucket onto one 32-bin grid "
        "(1-row min/max broadcast) before the fold - histograms and "
        "ECDF passes bins-bounded on any value domain"
    ),
    "content_drift": (
        "content drift: gram text reduces to md5 digests before the "
        "distinct fold; all exchanges (group, snapshot, digest)-keyed "
        "- document text never crosses the wire"
    ),
    "dup_rate_drift": (
        "dup-rate drift: one composite-key digest fold (two-phase "
        "distinct); pair frame broadcasts; drift join is (groups x "
        "snapshots)-sized"
    ),
    "ks_drift": (
        "KS drift: one (group, period, value) histogram fold; "
        "per-(group, pair) grids; ECDF windows partitioned by "
        "(group, pair) - no single-partition pass"
    ),
    "ks_drift_binned": (
        "binned KS drift: one shared 32-bin grid (1-row min/max "
        "broadcast) bounds every (group, pair) histogram cell"
    ),
    "drift_anomaly": (
        "drift anomaly panel: path_drift's key-bounded fold plus a "
        "broadcast (pair)-sized exact-integer stats join"
    ),
    "centroid_drift": (
        "embedding centroid drift: one map-side-combined (label, "
        "snapshot, dim) avg fold; pair frame broadcast; drift "
        "reduction is (labels x dims)-sized - vectors never shuffle"
    ),
    "minhash_ledger_replay": (
        "incremental near-dup ledger: signatures cached once; every "
        "exchange is (id, band, key) buckets, candidate pairs or the "
        "id-list ledger - text never crosses the wire"
    ),
    "token_js_divergence": (
        "lexical JS divergence: one (group, token) map-side-combined "
        "fold; global histogram re-folds that frame (vocab-sized); "
        "only the 1-row corpus total crosses as broadcast"
    ),
    "novelty_half_life": (
        "novelty decay fit: the distinct URL fold, keyed novelty "
        "counts, then a domain-keyed regression fold over <= "
        "|snapshots| points - every exchange key-sized"
    ),
    "domain_drift_panel": (
        "domain panel: path_drift's fold + a (domain, snapshot) "
        "digest dup-rate fold, joined on (domain, period) keys"
    ),
    "psi_drift": (
        "PSI drift: the 32-bin quantize grid (1-row broadcast) bounds "
        "every cell; densify is a (pair x bins) sequence explode; PSI "
        "is one (group, pair)-keyed fold"
    ),
    "js_drift": (
        "lexical JS drift: token digests fold to (group, snapshot, "
        "digest) counts; union support is the grid - text never "
        "crosses, nothing group x global-vocab"
    ),
    "token_novelty": (
        "vocabulary novelty: one distinct (source, snapshot, digest) "
        "fold; first-seen = keyed min(), Window-free"
    ),
    "embedding_drift_anomaly": (
        "embedding anomaly panel: centroid_drift's dim fold + a "
        "broadcast (pair)-sized exact-integer stats join"
    ),
    "unigram_entropy": (
        "per-doc entropy: in-row word histogram (higher-order array "
        "functions) - map-only, ZERO rows shuffled at any scale"
    ),
    "paragraph_ledger_replay": (
        "span-level exact ledger: paragraphs reduce to xxhash64 "
        "digests at the scan; first-seen fold (map-side combine), "
        "digest re-join, per-doc fold - paragraph text never crosses"
    ),
    "conformal_outlier_bounds": (
        "split-conformal gate: calibration rows shuffle once for the "
        "group-keyed rank window; the GROUP-sized bound frame "
        "broadcasts into the test-side gate"
    ),
    "dedup_yield_curve": (
        "dedup yield curve: the ledger replay's bucket-row exchanges "
        "plus a groupBy(batch) map-side fold and a |batches|-row "
        "cumulative window - calendar-sized tail"
    ),
    "drift_panel_join": (
        "drift panel join: PSI/KS legs bins-bounded on one shared "
        "grid, JS leg digest-bounded; panel joins are (group x "
        "pair)-sized"
    ),
    "paragraph_yield_curve": (
        "span-ledger yield curve: the span digest folds plus a "
        "per-batch summary and a |batches|-row cumulative window"
    ),
    "conformal_drift_gate": (
        "temporal conformal gate: one (group, period)-partitioned "
        "rank window; pair + bound frames broadcast into the test "
        "fold - corpus rows shuffle at most twice"
    ),
    "logbucket_quantiles": (
        "deterministic log-bucket quantile sketch: map-side combine "
        "folds the scan to <= 63 x sub cells per group before the "
        "exchange - no min/max pre-pass, mergeable by addition"
    ),
    "logbucket_quantile_drift": (
        "quantile-sketch drift leg: ONE (group, period, e, m) "
        "map-side-combined sketch fold; broadcast calendar pairs; "
        "readout + pair joins bucket-row-sized"
    ),
    "isotonic_calibration": (
        "max-min isotonic fit: corpus rows cross one exchange (the "
        "(group, bin) integer fold); the bins^2 range and bins^3 "
        "max-min joins run on constant-bounded frames"
    ),
    "calibration_reliability": (
        "reliability/ECE: fixed [0,1] grid (no min/max pre-pass), "
        "one map-side-combined (group, bin) fold + bins-bounded "
        "group windows"
    ),
}

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None, help="write SHUFFLE.md here")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    names = args.queries or list(AUDITS)

    spark = build_session(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in names:
        spark.catalog.clearCache()
        r = {"query": name, **measure_execution(
            spark, lambda: QUERIES[name](spark, args.sf_dir))}
        rows.append(r)
        print(
            f"{name:22s} scan={r['scan_rows']:>10,}  "
            f"shuffled={r['shuffle_records']:>10,} rows "
            f"/ {r['shuffle_bytes']/1e6:8.2f} MB  "
            f"bcast={r['broadcast_bytes']/1e6:6.2f} MB  "
            f"spill={r['spill_bytes']/1e6:.2f} MB"
        )
    spark.stop()

    if args.out:
        with open(args.out, "w") as fh:
            fh.write(
                "# SHUFFLE — measured exchange volumes (sf0.1, "
                "local[32])\n\n"
                "Generated by `python scripts/shuffle_audit.py --out "
                "SHUFFLE.md`.\nPlan-shape gates pin WHAT the plan does; "
                "these are runtime SQL metrics\n(`shuffle records/bytes "
                "written` summed over every Exchange in the\nexecuted "
                "plan) pinning HOW MUCH it moved — the ground truth "
                "behind each\noperator's scale claim.\n\n"
                "| query | rows scanned | rows shuffled | MB shuffled | "
                "MB broadcast | MB spilled | claim measured |\n"
                "|---|---|---|---|---|---|---|\n"
            )
            for r in rows:
                fh.write(
                    f"| {r['query']} | {r['scan_rows']:,} | "
                    f"{r['shuffle_records']:,} | "
                    f"{r['shuffle_bytes']/1e6:.2f} | "
                    f"{r['broadcast_bytes']/1e6:.2f} | "
                    f"{r['spill_bytes']/1e6:.2f} | "
                    f"{AUDITS.get(r['query'], '')} |\n"
                )
        print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
