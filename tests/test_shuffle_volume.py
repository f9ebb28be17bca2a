"""Shuffle-VOLUME regression gates: the plan-shape sweeps pin what the
plan looks like; these pin what it actually moved (SQL metrics store,
summed over every Exchange). Invariants are scale-free ratios or exact
zeros, so they hold at sf0.001 the same as at sf0.1 (SHUFFLE.md holds
the measured sf0.1 numbers)."""

from __future__ import annotations

import pytest

from dwds_livestream_spark.plans.registry import QUERIES
from dwds_livestream_spark.measure import measure_execution

# Slow tier (pytest.ini): full-registry sweep / hypothesis suite —
# deselected from the default driver-budget run, in the release gate.
pytestmark = pytest.mark.slow


SF_DIR = "/root/testdata/sf0.001"


def test_metric_string_parsers():
    from dwds_livestream_spark.measure import (
        parse_metric_bytes,
        parse_metric_count,
    )

    # the store renders totals in humanized units, sometimes with a
    # leading newline and a (min, med, max (stageId: taskId)) tail
    assert parse_metric_bytes("59.3 KiB (14.8 KiB, 14.8 KiB, 14.9 KiB)") == int(
        59.3 * 1024
    )
    assert parse_metric_bytes("\ntotal (min, med, max (stageId: taskId))\n"
                              "63.2 MiB (1.9 MiB, 2.0 MiB, 2.1 MiB (12: 3))"
                              ) == int(63.2 * (1 << 20))
    assert parse_metric_bytes("0.0 B (0.0 B, 0.0 B, 0.0 B)") == 0
    assert parse_metric_count("1,040,695") == 1040695
    assert parse_metric_count("400 (100, 100, 100)") == 400
    assert parse_metric_count("") == 0


def test_job_reader_counts_jobs_outside_sql_executions(spark):
    """The status-store job reader sees an eager localCheckpoint's job,
    which runs outside any SQL execution, and the aggregation's map and
    result stages after it — with the UI off, as every session here
    runs."""
    from pyspark.sql import functions as F

    from dwds_livestream_spark.measure import jobs_since, last_job_id

    assert spark.conf.get("spark.ui.enabled") == "false"
    before = last_job_id(spark)
    pinned = spark.range(0, 1000, numPartitions=4).localCheckpoint(eager=True)
    mid = last_job_id(spark)
    ckpt = jobs_since(spark, before)
    assert [(j["job"], j["stages"], j["tasks"]) for j in ckpt] == [(mid, 1, 4)]

    pinned.groupBy((F.col("id") % 7).alias("k")).count().collect()
    agg = jobs_since(spark, mid)
    assert [j["job"] for j in agg] == list(range(mid + 1, mid + 1 + len(agg)))
    assert agg and all(j["dur_ms"] is not None for j in agg), agg
    # the shuffle-map stage, then the result stage (a result job lists
    # the map stage it reuses among its stage ids)
    assert sum(j["stages"] for j in agg) >= 2, agg


def _measure(spark, name):
    spark.catalog.clearCache()
    return measure_execution(spark, lambda: QUERIES[name](spark, SF_DIR))


def test_broadcast_enrich_join_shuffles_zero_rows(spark):
    r = _measure(spark, "events_enrich")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] == 0, r
    assert r["broadcast_bytes"] > 0, "dimension must move by broadcast"


def test_q1_partial_agg_folds_scan_to_group_rows(spark):
    r = _measure(spark, "q1_pricing_summary")
    # shuffle rows = groups x map partitions — orders of magnitude
    # under the scan; a broken partial agg would shuffle ~scan rows
    assert r["scan_rows"] > 1000
    assert r["shuffle_records"] < r["scan_rows"] * 0.05, r


def test_decontaminate_corpus_scan_is_map_only(spark):
    r = _measure(spark, "decontaminate")
    # only benchmark shingles + per-doc overlap counts may shuffle
    assert r["shuffle_records"] < max(200, r["scan_rows"]), r


def test_distributed_rank_shuffles_each_row_about_once(spark):
    r = _measure(spark, "spend_gini")
    # equi-depth bucketing: bounded small multiple of the input, never
    # a blow-up (and never a single-partition global sort, which the
    # plan sweep asserts separately)
    assert r["shuffle_records"] < r["scan_rows"] * 1.5, r


@pytest.mark.parametrize("name", ["multimodal_resize", "frame_sample"])
def test_multimodal_plumbing_is_map_only(spark, name):
    # decode/resize/frame-plan are pure per-row transforms: any
    # exchange here is a plan regression, not a semantic need
    r = _measure(spark, name)
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] == 0, r


def test_contamination_matrix_folds_before_exchange(spark):
    r = _measure(spark, "contamination_matrix")
    # bench shingles broadcast; only per-doc hit rows + the
    # |sources x bench_sources| matrix cross an exchange
    assert r["broadcast_bytes"] > 0
    assert r["shuffle_records"] < max(500, r["scan_rows"]), r


def test_ledger_replay_shuffles_keys_not_corpus(spark):
    r = _measure(spark, "dedup_ledger_replay")
    # each replay step exchanges (key, keeper) candidate rows only;
    # the corpus crosses once for the final keeper join
    assert r["shuffle_records"] < r["scan_rows"], r


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_simhash", "dedup_minhash_levenshtein"],
)
def test_banded_dedup_never_shuffles_corpus_text(spark, name):
    r = _measure(spark, name)
    # bucket keys + candidates are rows; the corpus text column would
    # be kilobytes per row — assert the per-row shuffle cost stays tiny
    if r["shuffle_records"]:
        assert r["shuffle_bytes"] / r["shuffle_records"] < 256, r


@pytest.mark.parametrize("name", ["duplicate_spans", "cross_doc_spans"])
def test_span_dedup_shuffles_hashes_not_gram_text(spark, name):
    r = _measure(spark, name)
    # the wide exchange carries (xxhash64, doc_id, pos) triples — an
    # 8-token gram TEXT key would multiply the per-row cost several-fold
    assert r["shuffle_records"] > 0, r
    assert r["shuffle_bytes"] / r["shuffle_records"] < 256, r


def test_unpivot_expand_is_map_only(spark):
    r = _measure(spark, "lineitem_unpivot")
    # unpivot IS a 4x Expand, but a pure projection: nothing may shuffle
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] == 0, r


def test_events_profile_distinct_partials_fold_below_expand_factor(spark):
    r = _measure(spark, "events_profile")
    # the 6-way multi-countDistinct Expand must fold map-side: the
    # exchange carries per-column distinct partials (~sum of column
    # cardinalities, measured 2.2x at sf0.1), never the 6x Expand blowup
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 3.5, r


def test_trending_topk_window_expand_folds_to_group_rows(spark):
    from pyspark.sql import functions as F

    r = _measure(spark, "trending_topk")
    # the 4x sliding-window Expand happens before partial agg; what
    # crosses the exchanges is (window, type) GROUP rows (partial-agg
    # output + the rank window's re-shuffle of the same rows), never
    # the 4x expanded fact rows. At tiny sf the group count exceeds the
    # scan, so the bound is per-group, not per-scan-row.
    groups = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .count()
        .count()
    )
    assert r["scan_rows"] > 0 and groups > 0
    assert r["shuffle_records"] < groups * 2.5, (r, groups)


def test_q21_pair_fold_bounds_shuffle_near_scan(spark):
    r = _measure(spark, "q21_sole_returner")
    # r4 rewrite: lineitem folds to distinct (order,supp) pairs BEFORE
    # any join, so total exchange volume stays a small multiple of the
    # fact scan (measured 1.07x sf0.001 / 1.7x sf0.1, SHUFFLE.md); the
    # old countDistinct/Expand formulation shuffled 2-3x and regressing
    # to it trips this bound
    assert r["scan_rows"] > 1000
    assert r["shuffle_records"] < r["scan_rows"] * 2.2, r


def test_pagerank_iterations_reshuffle_ranks_not_edges(spark):
    r = _measure(spark, "pagerank_trade")
    # adjacency is hash-partitioned + cached once; each of the 3
    # iterations shuffles only node-sized rank/contribution tables, so
    # the total stays under the edge-build scan itself (measured 0.51x;
    # an uncached adjacency re-shuffles edges per iteration and blows
    # past 1x immediately)
    assert r["scan_rows"] > 1000
    assert r["shuffle_records"] < r["scan_rows"] * 1.0, r


def test_triangle_count_orientation_caps_wedges(spark):
    r = _measure(spark, "triangle_count")
    # degree-ordered orientation: wedges are generated from the
    # lower-degree endpoint only, keeping candidate rows well under the
    # lineitem scan (measured 0.26x; losing the orientation squares the
    # per-node wedge fan-out)
    assert r["scan_rows"] > 1000
    assert r["shuffle_records"] < r["scan_rows"] * 0.75, r


@pytest.mark.parametrize(
    "name",
    [
        # the full shuffle-audited set (scripts/shuffle_audit.py
        # AUDITS): every plan whose exchange volume SHUFFLE.md pins
        # must also spill zero bytes at test scale
        "events_enrich",
        "q1_pricing_summary",
        "events_per_hour",
        "spend_gini",
        "decontaminate",
        "q21_sole_returner",
        "pagerank_trade",
        "triangle_count",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_minhash_levenshtein",
        "asof_latest_order",
        "embedding_covariance",
        "contamination_matrix",
        "dedup_ledger_replay",
        "multimodal_resize",
        "frame_sample",
        "rollup_revenue",
        "cube_activity",
        "grouping_sets",
        "q16_supplier_part_count",
        "cross_doc_spans",
        "lineitem_unpivot",
        "events_profile",
        "trending_topk",
    ],
)
def test_no_spill_at_working_scale(spark, name):
    # the brief's spill-aware bullet, measured: every aggregate/sort/
    # join in these plans must fit its memory budget at test scale —
    # a plan that spills here is mis-sized long before 100 TB
    r = _measure(spark, name)
    assert r["spill_bytes"] == 0, r


# round-6 additions: each new registry entry's scale invariant, gated
# the round it lands (ROADMAP sizing rule)


def test_watermark_shuffle_is_row_bounded_no_global_sort(spark):
    # bucketed prefix-max: rows shuffle ~once into bucket windows plus
    # the tiny bucket summary twice — never a blow-up, and the plan
    # sweep's no-single-partition-window rule keeps the global sort out
    r = _measure(spark, "watermark_late_drop")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 1.5 + 300, r


def test_pareto_frontier_shuffles_distinct_values_not_rows(spark):
    # histogram fold: everything after the first aggregate is
    # distinct-value-sized; total shuffle stays within a small
    # multiple of the scan (histogram + bucket summary + join-back)
    r = _measure(spark, "pareto_frontier")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2 + 300, r


def test_interval_coverage_two_keyed_aggregates(spark):
    # per-key windows + two map-side-combined aggregates: bounded by
    # a small multiple of the event rows
    r = _measure(spark, "interval_coverage")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2.5, r


def test_weighted_median_histogram_fold(spark):
    # the corpus folds to (group, value, weight) partials before the
    # exchange; the per-group cumsum then re-shuffles HISTOGRAM rows
    # only — so total <= ~2x distinct values. At test scale prices are
    # nearly unique (distinct ~= scan), making 2x the honest bound;
    # at real scale distinct << corpus and the same 2x-of-distinct
    # invariant is far below the scan
    r = _measure(spark, "weighted_median")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2.2 + 300, r


def test_scd2_merge_single_dimension_shuffle(spark):
    # one full-outer join on the business key over dimension-sized
    # inputs (plus the derived-snapshot union): |dimension|-scaled,
    # fact volume never appears
    r = _measure(spark, "scd2_build")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 3.5, r


def test_emit_on_change_single_keyed_window(spark):
    # one keyed window shuffle (= scan rows) plus the registry view's
    # output-sized final orderBy exchange (kept rows <= scan)
    r = _measure(spark, "emit_on_change")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2.2 + 100, r


def test_session_window_late_no_extra_exchange(spark):
    # late-drop (bucketed prefix) + one session aggregate on user_id:
    # rows cross ~2 exchanges (bucket window, session agg) plus tiny
    # summaries — never a global sort
    r = _measure(spark, "session_window_late")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2.6 + 300, r


def test_robust_scaler_stats_are_one_aggregate(spark):
    # per-dim quantiles via ONE percentile_approx aggregate (mergeable
    # sketches: shuffle = d x partitions rows) broadcast back; the
    # corpus-side scaling is map-only, so total shuffle stays far
    # below the exploded (vec, dim) row count
    r = _measure(spark, "robust_scaler")
    assert r["scan_rows"] > 0
    assert r["broadcast_bytes"] > 0
    assert r["shuffle_records"] < 5000, r


def test_topk_rank_ties_group_limit_prefilters(spark):
    # WindowGroupLimit partial top-k runs before the exchange, so the
    # shuffle carries the per-partition boundary groups, not the scan
    r = _measure(spark, "topk_rank_ties")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 1.2 + 300, r


def test_containment_candidates_meet_in_postings(spark):
    # same inverted-index shape as the Jaccard path: pairs form in
    # shingle postings lists, never all-pairs; shuffle is
    # (doc, shingle)-row-bounded
    r = _measure(spark, "dedup_containment")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] > 0


def test_skyline_3d_shuffles_distinct_tuples_not_corpus(spark):
    # grid filter-and-refine: the corpus folds to distinct objective
    # tuples in the first aggregate; everything after (cell summary,
    # survivor refine, dominated-key anti join) is tuple- or
    # survivor-sized. Join-back to corpus rows is a broadcast semi.
    r = _measure(spark, "skyline_3d")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 3 + 500, r


def test_knearest_preceding_no_nested_loop_blowup(spark):
    # binned range join: right explodes into exactly 2 bins, the
    # candidate join is an equi join on (user, bin) — broadcast at
    # test scale, hash-shuffle at real scale — and the rank window
    # moves candidates only; never an O(|L|x|R|) nested loop
    r = _measure(spark, "knearest_preceding")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 4 + 500, r


def test_attribution_window_aggregate_form_no_window(spark):
    # the aggregate twin of knearest_preceding: binned candidate join
    # -> one map-side-combined aggregate -> join-back; shuffle stays a
    # small multiple of the scan, never an O(|L|x|R|) nested loop
    r = _measure(spark, "attribution_window")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 4 + 500, r


def test_rate_limit_twin_windowgrouplimit_fold(spark):
    # one keyed (user, minute) window; WindowGroupLimit prefilters to
    # <= epm rows per group before the exchange's final sort — shuffle
    # stays a small multiple of the scan, no global sort
    r = _measure(spark, "rate_limit_events")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2.5 + 300, r


def test_knearest_following_no_nested_loop_blowup(spark):
    r = _measure(spark, "knearest_following")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 4 + 500, r


def test_skyline_4d_shuffles_distinct_tuples_not_corpus(spark):
    r = _measure(spark, "skyline_4d")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 3 + 500, r


# ----------------------------------------------------- r8 additions

def test_decile_join_bounded_shuffle(spark):
    # per-customer aggregate + distributed_rank bucketing + the facts
    # join: every shuffle is keyed; rows cross a small constant number
    # of exchanges, never a global single-partition sort
    r = _measure(spark, "decile_join")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2 + 300, r


def test_domain_dedup_one_keyed_aggregate(spark):
    # map-only URL normalization, one groupBy(domain): shuffle is at
    # most one (domain, host/url) pair per doc — text never shuffles
    r = _measure(spark, "domain_dedup")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2, r
    assert r["shuffle_bytes"] < r["scan_rows"] * 120, r


def test_ngram_novelty_hashes_only_on_the_wire(spark):
    # membership join on 8-byte shingle hashes: shuffle rows are
    # shingle-count-sized by design, but each record must be a hash +
    # small id — document TEXT crossing an exchange would blow the
    # bytes/record ratio two orders of magnitude past this bound
    r = _measure(spark, "ngram_novelty")
    assert r["shuffle_records"] > 0
    assert r["shuffle_bytes"] / r["shuffle_records"] < 40, r


def test_quantile_normalize_constant_passes_per_value(spark):
    # grouped distributed-rank recipe: each exploded (dim, value) cell
    # crosses a bounded constant number of exchanges (bucketed rank,
    # rank-mean aggregate, substitution join) — and NO per-dim global
    # window (that would be d single-partition sorts of n rows)
    r = _measure(spark, "quantile_normalize")
    n_cells = 500 * 64
    assert r["shuffle_records"] < n_cells * 3, r


def test_length_band_filter_sketch_only_shuffle(spark):
    # the corpus scan folds to mergeable percentile sketches; only
    # sketch partials shuffle, bounds come back by broadcast
    r = _measure(spark, "length_band_filter")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < 100, r
    assert r["broadcast_bytes"] > 0, "bounds must move by broadcast"


def test_zipf_slope_vocab_sized_shuffle(spark):
    # two-phase (lang, word) count: map-side combine folds each
    # partition to its local vocabulary before the single word shuffle
    r = _measure(spark, "zipf_slope")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 2 + 300, r


def test_minhash_jaccard_error_candidate_bounded(spark):
    # est side reuses the banded-LSH shape (signatures never cross an
    # exchange); the exact-Jaccard side routes (id, shingle) rows
    # through the candidate pair list — shingle-count-sized, never
    # all-pairs, and records stay small (ids + one shingle string).
    # NOTE scan_rows is NOT the normalizer here: the candidate frame
    # is localCheckpoint'd (runs once), so parquet scan counts shrink
    # while the legitimate shingle-sized shuffle stays put — bound by
    # the corpus shingle count instead (sf0.001: 500 docs x ~40
    # shingles x a small constant for the distinct+probe+route passes)
    r = _measure(spark, "minhash_jaccard_error")
    assert r["shuffle_records"] > 0
    assert r["shuffle_records"] < 120_000, r
    assert r["shuffle_bytes"] / r["shuffle_records"] < 40, r


def test_dup_rate_by_source_digest_only_shuffle(spark):
    # one groupBy(source) over (source, digest) pairs: text never
    # shuffles (digest = 32-hex md5 + group key ~ bounded bytes/row)
    r = _measure(spark, "dup_rate_by_source")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2 + 50, r
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 64, r


def test_domain_quota_sample_group_limit_fold(spark):
    # WindowGroupLimit prefilters to <= quota rows per domain before
    # the exchange's final per-group sort — shuffled rows stay under
    # the scan even though every doc carries a domain key
    r = _measure(spark, "domain_quota_sample")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"], r


def test_suffix_prefix_join_single_equi_join(spark):
    # one map stage (head/tail keys) + one equi join on the boundary
    # n-gram: broadcast at this sf (0-row shuffle), keyed hash at
    # scale — either way never more than ~2 key rows per doc
    r = _measure(spark, "suffix_prefix_join")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2, r


def test_rbo_rankings_topk_bounded(spark):
    # both rankings are top-k lists; the tail table is depth rows —
    # everything past the two top-k stages is k-bounded
    r = _measure(spark, "rbo_rankings")
    assert r["shuffle_records"] < 5000, r


def test_group_quantile_normalize_constant_passes_per_value(spark):
    # per-label grouped rank: same constant-passes-per-cell invariant
    # as the ungrouped form — the group key widens the split-point /
    # offset frames (g·d rows, still broadcast), never the per-cell
    # exchange count
    r = _measure(spark, "group_quantile_normalize")
    n_cells = 500 * 64
    assert r["shuffle_records"] < n_cells * 3, r
    assert r["broadcast_bytes"] > 0, "split points must move by broadcast"


def test_url_path_neardup_inverted_index_bounded(spark):
    # candidates meet in (domain, segment) posting lists: only id +
    # short segment strings cross the wire (<= ~5 segments/doc on the
    # slug fixture), never text and never an in-domain all-pairs
    r = _measure(spark, "url_path_neardup")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 4, r
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 64, r


def test_rbo_drift_leaderboard_bounded(spark):
    # daily counts fold map-side to (day, user) keys; everything past
    # the per-day top-k is k·P-bounded (the tail table is depth rows,
    # the pair frame P-1 rows, both broadcast)
    r = _measure(spark, "rbo_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] + 1000, r


def test_rbo_source_panel_vocab_bounded(spark):
    # (source, word) and corpus word counts fold map-side to
    # vocabulary-sized partials; the panel join is k-bounded per
    # source — document text never crosses an exchange
    r = _measure(spark, "rbo_source_panel")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"] * 3, r


def test_quota_sample_ks_histogram_bounded(spark):
    # both ECDFs fold to (value, count) histograms before the merge;
    # the quota window shuffles at most domain-keyed id rows
    r = _measure(spark, "quota_sample_ks")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2, r


def test_temporal_path_drift_key_bounded(spark):
    # the corpus folds ONCE to distinct (domain, snapshot, path)
    # tuples; every later exchange (sizes, intersection, outer
    # assembly) is keyed on that distinct frame — short strings only,
    # text never crosses the wire, no all-pairs fan-out
    r = _measure(spark, "temporal_path_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 4, r
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 64, r


def test_path_novelty_single_fold(spark):
    # one distinct (domain, snapshot, path) fold; first-period min()
    # and per-snapshot counts are map-side-combined key frames — no
    # window, no text on the wire
    r = _measure(spark, "path_novelty")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 3, r
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 64, r


def test_ks_source_panel_histogram_bounded(spark):
    # per-source and corpus histograms fold map-side; the reference
    # histogram and totals move by BROADCAST; ECDF windows are
    # group-partitioned over (group x value-domain)-sized grids
    r = _measure(spark, "ks_source_panel")
    assert r["scan_rows"] > 0
    # grid rows = groups x distinct values — bounded by a small
    # multiple of the value-domain fold, far under corpus x groups
    assert r["shuffle_records"] <= r["scan_rows"] * 30, r
    assert r["broadcast_bytes"] > 0, "reference histogram must broadcast"


def test_ks_value_binned_grid_bounded(spark):
    # continuous values bucket onto ONE 32-bin grid before the fold:
    # per-group histograms are <= groups x bins rows; the bin-range
    # stats and reference totals move as 1-row broadcasts
    r = _measure(spark, "ks_value_binned")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < r["scan_rows"], r
    assert r["broadcast_bytes"] > 0, "bin range must broadcast"


def test_content_drift_digest_bounded(spark):
    # gram text reduces to md5 digests BEFORE the distinct fold; all
    # later exchanges are (source, snapshot, digest)-keyed — document
    # text never crosses the wire, no all-pairs fan-out
    r = _measure(spark, "content_drift")
    assert r["scan_rows"] > 0
    # digests per doc ~ tokens; bounded by a small multiple of corpus
    # token volume, and bytes/record stays digest-sized
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_dup_rate_drift_digest_fold_bounded(spark):
    # one (source, snapshot)-keyed fold with a two-phase distinct over
    # md5 digests; the pair frame broadcasts and the drift join is
    # (groups x snapshots)-sized — text never crosses the wire
    r = _measure(spark, "dup_rate_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_ks_drift_histogram_bounded(spark):
    # one (group, period, value) histogram fold; pair-scoped grids and
    # ECDF windows partitioned by (group, pair) — no single-partition
    # pass, no corpus rows past the fold
    r = _measure(spark, "ks_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 20, r
    assert r["broadcast_bytes"] > 0, "pair frame must broadcast"


def test_ks_drift_binned_grid_bounded(spark):
    # the 32-bin quantize bounds every (group, pair) histogram cell;
    # the bin-range stats move as a 1-row broadcast
    r = _measure(spark, "ks_drift_binned")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 4, r
    assert r["broadcast_bytes"] > 0, "bin range + pair frame broadcast"


def test_drift_anomaly_population_broadcast(spark):
    # the pair-population stats frame is (snapshot-pair)-sized and
    # broadcasts; everything upstream is path_drift's key-bounded fold
    r = _measure(spark, "drift_anomaly")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 64, r
    assert r["broadcast_bytes"] > 0, "population stats must broadcast"


def test_centroid_drift_dim_fold_bounded(spark):
    # the corpus folds once to (label, snapshot, dim) avg components
    # with map-side combine, so the exchange carries at most
    # partitions x labels x snapshots x dims partial rows — never
    # corpus x dims explode output; the pair frame broadcasts
    r = _measure(spark, "centroid_drift")
    assert r["scan_rows"] > 0
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dims = len(emb.first()["embedding"])
    labels = emb.select("label").distinct().count()
    assert r["shuffle_records"] <= labels * 3 * dims * 40, r
    assert r["broadcast_bytes"] > 0, "pair frame must broadcast"


def test_minhash_ledger_replay_text_never_shuffles(spark):
    # signatures are computed once and cached; every exchange carries
    # (id, band, key) buckets, candidate pairs, or the id-list ledger
    # — bytes/record stays bucket-row-sized, never document text
    r = _measure(spark, "minhash_ledger_replay")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 120, r


def test_token_js_divergence_vocab_bounded(spark):
    # one corpus scan folds map-side to (group, token) counts; the
    # global histogram re-folds THAT frame (vocab-sized), and only the
    # 1-row corpus total crosses as a broadcast — so shuffled records
    # stay well under the corpus token volume
    r = _measure(spark, "token_js_divergence")
    assert r["scan_rows"] > 0
    tok_volume = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("sum(size(split(lower(text), '\\\\s+')))")
        .first()[0]
    )
    assert r["shuffle_records"] < tok_volume, r
    assert r["broadcast_bytes"] > 0, "corpus total must broadcast"


def test_novelty_half_life_key_sized_fit(spark):
    # everything past the distinct (domain, snapshot, path) fold is
    # domain-keyed and calendar-bounded; the regression sums are one
    # domain-keyed aggregate over <= |snapshots| points
    r = _measure(spark, "novelty_half_life")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_domain_drift_panel_key_sized_joins(spark):
    # path_drift's fold + a (domain, snapshot)-keyed dup-rate fold,
    # joined on (domain, period) keys — no corpus rows past the folds
    r = _measure(spark, "domain_drift_panel")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 100, r
    assert r["broadcast_bytes"] > 0, "pair frame must broadcast"


def test_psi_drift_bins_bounded(spark):
    # the _ks_quantize grid bounds every histogram cell; the densify
    # explode is (pair x bins)-sized; the 1-row min/max broadcasts
    r = _measure(spark, "psi_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 4, r
    assert r["broadcast_bytes"] > 0, "bin range + pair frame broadcast"


def test_js_drift_digest_bounded(spark):
    # tokens reduce to xxhash64 digests before the fold; all exchanges
    # are (group, snapshot, digest)-keyed counts — text never crosses
    r = _measure(spark, "js_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_token_novelty_digest_fold_bounded(spark):
    # one distinct (source, snapshot, digest) fold; first-seen is a
    # keyed min() — Window-free, every exchange key-sized
    r = _measure(spark, "token_novelty")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_embedding_drift_anomaly_population_broadcast(spark):
    # centroid_drift's fold + a broadcast (pair)-sized exact-integer
    # stats join — vectors never shuffle, same contract as the base
    r = _measure(spark, "embedding_drift_anomaly")
    assert r["scan_rows"] > 0
    assert r["broadcast_bytes"] > 0, "population stats must broadcast"


def test_unigram_entropy_is_map_only(spark):
    # the word histogram never leaves the row (higher-order array
    # functions) — a quality scan over 100 TB shuffles NOTHING
    r = _measure(spark, "unigram_entropy")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] == 0, r


def test_paragraph_ledger_replay_digest_bounded(spark):
    # paragraphs reduce to xxhash64 digests at the scan: the
    # first-seen fold, the winner re-join and the per-doc fold all
    # carry (id/digest, batch, counts) rows — paragraph TEXT never
    # crosses an exchange, so bytes/record stays fixed-width
    r = _measure(spark, "paragraph_ledger_replay")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_conformal_outlier_bounds_broadcast_gate(spark):
    # the rank pass shuffles calibration rows once (group-keyed
    # window); the bound frame is GROUP-sized and must broadcast into
    # the test-side gate, so corpus rows never shuffle for the gate
    r = _measure(spark, "conformal_outlier_bounds")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2, r
    assert r["broadcast_bytes"] > 0, "bound frame must broadcast"


def test_dedup_yield_curve_calendar_sized_tail(spark):
    # the curve re-executes the replay live (no cross-query artifact),
    # so its exchanges are the replay's own bucket/candidate/id-list
    # rows plus a |batches|-row fold — bytes/record stays
    # bucket-row-sized (document text never crosses), and the fold's
    # tail adds only calendar-bounded rows on top of the replay
    r = _measure(spark, "dedup_yield_curve")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 120, r


def test_drift_panel_join_key_sized_joins(spark):
    # three legs, each bins-/digest-bounded on its own contract; the
    # panel joins are (group x pair)-sized frames
    r = _measure(spark, "drift_panel_join")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 5, r
    assert r["broadcast_bytes"] > 0, "grid/pair frames broadcast"


def test_paragraph_yield_curve_digest_bounded(spark):
    # same span-frame contract as the replay: digests and counts only;
    # the cumulative ledger window runs over one row per batch
    r = _measure(spark, "paragraph_yield_curve")
    assert r["scan_rows"] > 0
    assert r["shuffle_bytes"] / max(r["shuffle_records"], 1) < 80, r


def test_conformal_drift_gate_broadcast_gate(spark):
    # rank pass shuffles scored rows once into (group, period) cells;
    # the (group, pair, n_cal, bound) frame and the calendar pair
    # frame broadcast — corpus rows never shuffle for the gate fold
    r = _measure(spark, "conformal_drift_gate")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] <= r["scan_rows"] * 2, r
    assert r["broadcast_bytes"] > 0, "pair + bound frames broadcast"


def test_logbucket_quantiles_sketch_bounded(spark):
    # the sketch IS the partial aggregate: map-side combine folds the
    # scan into <= 63*sub cells per group before the exchange, so
    # shuffled records stay far under the scan; readout frames are
    # bucket-row-sized
    r = _measure(spark, "logbucket_quantiles")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < max(4096, r["scan_rows"] // 2), r


def test_logbucket_quantile_drift_sketch_bounded(spark):
    # one (group, period, e, m) sketch fold with map-side combine
    # bounds the exchange; the pair calendar broadcasts and the
    # readout/pair joins run on bucket-row-sized frames
    r = _measure(spark, "logbucket_quantile_drift")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < max(8192, r["scan_rows"] // 2), r
    assert r["broadcast_bytes"] > 0, "pair calendar must broadcast"


def test_isotonic_calibration_bins_bounded(spark):
    # corpus rows cross ONE exchange (the (group, bin) integer fold's
    # partial-aggregate shuffle); everything after — prefix windows,
    # the bins^2 range join, the bins^3 max-min fold — runs on
    # bins-bounded frames (<= 16 cells/group), so total shuffled
    # records stay a small multiple of groups x bins^3
    r = _measure(spark, "isotonic_calibration")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < max(
        100_000, r["scan_rows"] // 2
    ), r


def test_calibration_reliability_fold_bounded(spark):
    # fixed [0,1] domain: no min/max pre-pass at all — one map-side
    # combined (group, bin) fold plus bins-bounded group windows
    r = _measure(spark, "calibration_reliability")
    assert r["scan_rows"] > 0
    assert r["shuffle_records"] < max(4096, r["scan_rows"] // 2), r
