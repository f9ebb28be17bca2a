"""Round-10 operator tests: the growth batch's brute-force parity —
embedding centroid drift, the incremental MinHash ledger, per-source
JS divergence, per-domain novelty + its half-life fit, and the domain
drift panel composition."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------------
# centroid_drift
# ------------------------------------------------------------------


def _cd_rows(df):
    return {
        (r.label, r.snapshot, r.next_snapshot): (
            r.n_prev, r.n_next, r.cos_sim, r.l2_shift
        )
        for r in df.collect()
    }


def test_centroid_drift_vs_brute_force(spark):
    from dwds_livestream_spark.operators.embedding_ops import centroid_drift

    rows = [
        # label 0: snap 0 centroid (1, 0); snap 1 centroid (0, 1)
        (0, 0, [1.0, 0.0]),
        (0, 0, [1.0, 0.0]),
        (0, 1, [0.0, 1.0]),
        # label 1: identical centroid both snapshots -> cos 1, l2 0
        (1, 0, [3.0, 4.0]),
        (1, 1, [3.0, 4.0]),
        (1, 1, [3.0, 4.0]),
        # label 2 exists only in snap 0 -> no pair row (one-sided)
        (2, 0, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "label int, snapshot int, embedding array<double>"
    )
    got = _cd_rows(
        centroid_drift(df, group_col="label", period_col="snapshot")
    )
    assert got == {
        (0, 0, 1): (2, 1, 0.0, pytest.approx(math.sqrt(2), abs=1e-6)),
        (1, 0, 1): (1, 2, 1.0, 0.0),
    }


def test_centroid_drift_zero_norm_is_null_not_error(spark):
    from dwds_livestream_spark.operators.embedding_ops import centroid_drift

    df = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 0.0])],
        "label int, snapshot int, embedding array<double>",
    )
    (r,) = centroid_drift(df, group_col="label").collect()
    assert r.cos_sim is None
    assert r.l2_shift == 1.0


def test_centroid_drift_null_and_single_period(spark):
    from dwds_livestream_spark.operators.embedding_ops import centroid_drift

    base = [(0, 0, [1.0]), (0, 1, [2.0])]
    noisy = base + [
        (None, 0, [9.0]),   # NULL group excluded
        (0, None, [9.0]),   # NULL period excluded
        (0, 0, None),       # NULL vector excluded
    ]
    df = spark.createDataFrame(
        noisy, "label int, snapshot int, embedding array<double>"
    )
    got = _cd_rows(centroid_drift(df, group_col="label"))
    assert got == {(0, 0, 1): (1, 1, 1.0, 1.0)}

    single = spark.createDataFrame(
        [(0, 0, [1.0])], "label int, snapshot int, embedding array<double>"
    )
    assert centroid_drift(single, group_col="label").count() == 0


# ------------------------------------------------------------------
# minhash_ledger_replay
# ------------------------------------------------------------------

_T = {
    "a": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "b": "one two three four five six seven eight nine ten eleven",
    "c": "red orange yellow green blue indigo violet ultraviolet xray",
}


def _replay(spark, rows, **kw):
    from dwds_livestream_spark.operators.dedup import minhash_ledger_replay

    df = spark.createDataFrame(rows, "doc_id long, batch int, text string")
    out = minhash_ledger_replay(
        df, batch_values=[0, 1, 2], threshold=0.5, **kw
    )
    return {r.doc_id: (r.batch, r.keeper_id, r.est_jaccard) for r in out.collect()}


def test_ledger_replay_sequential_semantics(spark):
    rows = [
        (1, 0, _T["a"]),          # ledger seed
        (2, 1, _T["a"]),          # dup of 1 -> keeper 1, NOT in ledger
        (3, 1, _T["b"]),          # survivor -> enters ledger
        (4, 2, _T["a"]),          # matches 1 (2 never entered) -> keeper 1
        (5, 2, _T["b"]),          # matches 3 -> keeper 3
        (6, 2, _T["c"]),          # fresh -> survivor
    ]
    got = _replay(spark, rows)
    assert got[1] == (0, 1, None)
    assert got[2] == (1, 1, 1.0)          # identical text -> est 1.0
    assert got[3] == (1, 3, None)
    assert got[4] == (2, 1, 1.0)
    assert got[5] == (2, 3, 1.0)
    assert got[6] == (2, 6, None)


def test_ledger_replay_intra_batch_pairs_not_deduped(spark):
    # two identical docs in the SAME batch both survive (cross-snapshot
    # semantics by contract) and both serve as keepers later
    rows = [
        (1, 0, _T["a"]),
        (2, 0, _T["a"]),
        (3, 1, _T["a"]),   # matches ledger docs 1 AND 2 -> min id = 1
    ]
    got = _replay(spark, rows)
    assert got[1] == (0, 1, None)
    assert got[2] == (0, 2, None)
    assert got[3] == (1, 1, 1.0)


def test_ledger_replay_short_docs_survive_trivially(spark):
    rows = [
        (1, 0, "tiny"),           # < n tokens: no signature
        (2, 1, "tiny"),           # identical but unprobeable -> survivor
        (3, 2, _T["a"]),
    ]
    got = _replay(spark, rows)
    assert got == {
        1: (0, 1, None),
        2: (1, 2, None),
        3: (2, 3, None),
    }


def test_ledger_replay_excludes_foreign_batches_and_validates(spark):
    from dwds_livestream_spark.operators.dedup import minhash_ledger_replay

    df = spark.createDataFrame(
        [(1, 0, _T["a"]), (9, 7, _T["a"])],
        "doc_id long, batch int, text string",
    )
    out = minhash_ledger_replay(df, batch_values=[0, 1, 2])
    assert {r.doc_id for r in out.collect()} == {1}

    with pytest.raises(ValueError, match="at least one batch"):
        minhash_ledger_replay(df, batch_values=[])


def test_ledger_replay_md5_pairs_exact_dups(spark):
    # identical texts pair under the md5_64 shingle hash the oracle
    # replicates
    rows = [(1, 0, _T["a"]), (2, 1, _T["a"])]
    got = _replay(spark, rows)
    assert got[2] == (1, 1, 1.0)


# ------------------------------------------------------------------
# token_js_divergence
# ------------------------------------------------------------------


def _js_naive(groups: dict[str, list[str]]) -> dict[str, float]:
    """Full-support JS against the pooled corpus, no algebra tricks."""
    from collections import Counter

    corpus = Counter()
    per = {}
    for g, toks in groups.items():
        per[g] = Counter(toks)
        corpus.update(toks)
    nt = sum(corpus.values())
    out = {}
    for g, cnt in per.items():
        ng = sum(cnt.values())
        js = 0.0
        for t, ct in corpus.items():
            p = cnt.get(t, 0) / ng
            q = ct / nt
            m = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            if q > 0:
                js += 0.5 * q * math.log(q / m)
        out[g] = js
    return out


def test_token_js_divergence_vs_full_support_naive(spark):
    from dwds_livestream_spark.operators.curation import token_js_divergence

    groups = {
        "g0": "the cat sat on the mat".split(),
        "g1": "the dog ate the bone the end".split(),
        "g2": "quantum flux capacitor".split(),   # disjoint-ish vocab
    }
    rows = [(g, " ".join(toks)) for g, toks in groups.items()]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.source: (r.n_tokens, r.vocab, r.coverage, r.js)
        for r in token_js_divergence(df).collect()
    }
    want = _js_naive(groups)
    for g, toks in groups.items():
        n, v, cov, js = got[g]
        assert n == len(toks)
        assert v == len(set(toks))
        assert js == pytest.approx(want[g], abs=1e-6)
        assert 0.0 <= js <= math.log(2) + 1e-9
    # the disjoint group must be the most divergent
    assert got["g2"][3] == max(r[3] for r in got.values())


def test_token_js_divergence_identical_group_is_zero(spark):
    from dwds_livestream_spark.operators.curation import token_js_divergence

    # one group == the whole corpus -> p == q -> js exactly 0
    df = spark.createDataFrame(
        [("only", "a b c a")], "source string, text string"
    )
    (r,) = token_js_divergence(df).collect()
    assert (r.n_tokens, r.vocab, r.coverage, r.js) == (4, 3, 1.0, 0.0)


def test_token_js_divergence_null_and_empty_rows(spark):
    from dwds_livestream_spark.operators.curation import token_js_divergence

    df = spark.createDataFrame(
        [("g0", "x y"), (None, "dropped"), ("g1", ""), ("g1", None),
         ("g1", "x")],
        "source string, text string",
    )
    got = {r.source: r for r in token_js_divergence(df).collect()}
    # NULL group excluded; empty/NULL text contribute no tokens, and a
    # group whose only rows are empty would drop out entirely
    assert set(got) == {"g0", "g1"}
    assert got["g1"].n_tokens == 1


# ------------------------------------------------------------------
# path_novelty(per_domain=True) + novelty_half_life
# ------------------------------------------------------------------


def test_path_novelty_per_domain_vs_brute_force(spark):
    from dwds_livestream_spark.operators.urls import path_novelty

    rows = [
        (0, "https://a.com/x"), (0, "https://a.com/y"),
        (1, "https://a.com/x"), (1, "https://a.com/z"),
        (2, "https://a.com/x"),
        (1, "https://b.com/p"),   # b.com born in snap 1 -> novelty 1.0
    ]
    df = spark.createDataFrame(rows, "snapshot int, url string")
    got = {
        (r.domain, r.snapshot): (r.n_urls, r.n_new, r.novelty)
        for r in path_novelty(df, per_domain=True).collect()
    }
    assert got == {
        ("a.com", 0): (2, 2, 1.0),
        ("a.com", 1): (2, 1, 0.5),
        ("a.com", 2): (1, 0, 0.0),
        ("b.com", 1): (1, 1, 1.0),
    }
    # the global view is unchanged by the flag's default
    glob = {
        r.snapshot: (r.n_urls, r.n_new)
        for r in path_novelty(df).collect()
    }
    assert glob == {0: (2, 2), 1: (3, 2), 2: (1, 0)}


def test_novelty_half_life_known_decay(spark):
    """novelty 1.0 -> 0.5 -> 0.25 is exact exponential decay with
    half-life ONE snapshot; the ln-least-squares fit must recover it
    exactly (3 collinear points)."""
    from dwds_livestream_spark.operators.urls import path_novelty

    # snap 0: 4 fresh urls; snap 1: 4 urls, 2 new; snap 2: 4 urls, 1 new
    rows = (
        [(0, f"https://h.com/a{i}") for i in range(4)]
        + [(1, "https://h.com/a0"), (1, "https://h.com/a1"),
           (1, "https://h.com/b0"), (1, "https://h.com/b1")]
        + [(2, "https://h.com/a0"), (2, "https://h.com/b0"),
           (2, "https://h.com/a1"), (2, "https://h.com/c0")]
    )
    df = spark.createDataFrame(rows, "snapshot int, url string")
    nov = {
        r.snapshot: r.novelty
        for r in path_novelty(df, per_domain=True).collect()
    }
    assert nov == {0: 1.0, 1: 0.5, 2: 0.25}

    # replicate the registry composition's fit on this frame
    base = path_novelty(df, per_domain=True)
    pts = base.where(F.col("novelty") > 0).select(
        "domain",
        F.col("snapshot").cast("double").alias("x"),
        F.log("novelty").alias("y"),
    )
    agg = pts.groupBy("domain").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"),
        F.sum("y").alias("sy"), F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    (r,) = agg.collect()
    slope = (r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx)
    assert slope == pytest.approx(-math.log(2), abs=1e-9)
    assert -math.log(2) / slope == pytest.approx(1.0, abs=1e-9)


# ------------------------------------------------------------------
# domain_drift_panel (composition consistency)
# ------------------------------------------------------------------


def test_domain_drift_panel_agrees_with_its_components(spark):
    sf_dir = "/root/testdata/sf0.001"
    from dwds_livestream_spark.plans.llm import (
        _snapshot_url_documents,
        q_domain_drift_panel,
    )
    from dwds_livestream_spark.operators.curation import dup_rate_by_group
    from dwds_livestream_spark.operators.urls import (
        path_drift,
        registered_domain,
        url_host,
    )

    panel = {
        (r.domain, r.snapshot, r.next_snapshot): r
        for r in q_domain_drift_panel(spark, sf_dir).collect()
    }
    docs = _snapshot_url_documents(spark, sf_dir)
    drift = {
        (r.domain, r.snapshot, r.next_snapshot): r.jaccard
        for r in path_drift(docs, period_col="snapshot").collect()
    }
    rates = {
        (r.domain, r.snapshot): r.dup_rate
        for r in dup_rate_by_group(
            docs.withColumn(
                "domain", registered_domain(url_host(F.col("url")))
            ),
            group_col=["domain", "snapshot"],
        ).collect()
    }
    assert set(panel) == set(drift)
    for key, row in panel.items():
        d, s, ns = key
        assert row.jaccard == drift[key]
        assert row.dup_prev == rates.get((d, s))
        assert row.dup_next == rates.get((d, ns))
        if row.dup_prev is not None and row.dup_next is not None:
            assert row.dup_delta == pytest.approx(
                round(row.dup_next - row.dup_prev, 6), abs=1e-9
            )
        else:
            assert row.dup_delta is None


# ------------------------------------------------------------------
# psi_drift
# ------------------------------------------------------------------


def test_psi_drift_vs_hand_computed(spark):
    from dwds_livestream_spark.operators.curation import psi_drift

    # bins=2 over values {0.0, 1.0}: 0.0 -> bin 1, 1.0 (== hi) -> bin 2
    rows = (
        [("g", 0, 0.0)] * 3 + [("g", 0, 1.0)]
        + [("g", 1, 0.0)] + [("g", 1, 1.0)] * 3
    )
    df = spark.createDataFrame(rows, "source string, snapshot int, v double")
    (r,) = psi_drift(
        df, value_col="v", group_col="source", period_col="snapshot",
        bins=2,
    ).collect()
    # smoothed: pa = (3.5/5, 1.5/5), pb = (1.5/5, 3.5/5)
    want = 2 * (0.7 - 0.3) * math.log(0.7 / 0.3)
    assert (r.n_prev, r.n_next) == (4, 4)
    assert r.psi == pytest.approx(want, abs=1e-6)


def test_psi_drift_identical_is_zero_and_contract(spark):
    from dwds_livestream_spark.operators.curation import psi_drift

    same = [("g", s, float(v)) for s in (0, 1) for v in (1, 2, 2, 3)]
    df = spark.createDataFrame(same, "source string, snapshot int, v double")
    (r,) = psi_drift(df, value_col="v", group_col="source",
                     period_col="snapshot", bins=4).collect()
    assert r.psi == 0.0

    # a group absent from one side emits no pair row
    oneside = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 1.0), ("b", 0, 2.0)],
        "source string, snapshot int, v double",
    )
    got = psi_drift(oneside, value_col="v", group_col="source",
                    period_col="snapshot", bins=2).collect()
    assert {r.source for r in got} == {"a"}

    with pytest.raises(ValueError, match="bins"):
        psi_drift(df, value_col="v", bins=0)


def test_psi_drift_empty_both_sides_bins_contribute_by_totals(spark):
    """A bin empty on BOTH sides still carries smoothed mass; with
    EQUAL totals its term is exactly 0, so psi here reduces to the
    occupied bins — the densify must not change equal-totals cases."""
    from dwds_livestream_spark.operators.curation import psi_drift

    # values span [0, 3] with bins=4; bins 2 and 3 stay empty
    rows = [("g", 0, 0.0), ("g", 0, 3.0), ("g", 1, 0.0), ("g", 1, 3.0)]
    df = spark.createDataFrame(rows, "source string, snapshot int, v double")
    (r,) = psi_drift(df, value_col="v", group_col="source",
                     period_col="snapshot", bins=4).collect()
    assert r.psi == 0.0


# ------------------------------------------------------------------
# js_drift
# ------------------------------------------------------------------


def _js_two(pa: dict, pb: dict) -> float:
    na, nb = sum(pa.values()), sum(pb.values())
    js = 0.0
    for t in set(pa) | set(pb):
        p = pa.get(t, 0) / na
        q = pb.get(t, 0) / nb
        m = (p + q) / 2
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
    return js


def test_js_drift_vs_naive_two_sample(spark):
    from collections import Counter

    from dwds_livestream_spark.operators.curation import js_drift

    snap0 = "the cat sat on the mat".split()
    snap1 = "the dog and the cat ran far away".split()
    df = spark.createDataFrame(
        [("g", 0, " ".join(snap0)), ("g", 1, " ".join(snap1))],
        "source string, snapshot int, text string",
    )
    (r,) = js_drift(df, group_col="source", period_col="snapshot").collect()
    assert (r.n_prev, r.n_next) == (len(snap0), len(snap1))
    assert r.js == pytest.approx(
        _js_two(Counter(snap0), Counter(snap1)), abs=1e-6
    )


def test_js_drift_identical_zero_disjoint_ln2(spark):
    from dwds_livestream_spark.operators.curation import js_drift

    df = spark.createDataFrame(
        [("same", 0, "a b c"), ("same", 1, "a b c"),
         ("disj", 0, "x y"), ("disj", 1, "p q r"),
         ("born", 1, "only here")],          # absent side -> no row
        "source string, snapshot int, text string",
    )
    got = {r.source: r.js for r in js_drift(df).collect()}
    assert got["same"] == 0.0
    assert got["disj"] == pytest.approx(math.log(2), abs=1e-6)
    assert "born" not in got


# ------------------------------------------------------------------
# token_novelty
# ------------------------------------------------------------------


def test_token_novelty_vs_brute_force(spark):
    from dwds_livestream_spark.operators.curation import token_novelty

    df = spark.createDataFrame(
        [("g", 0, "a b"), ("g", 1, "a c C"),   # c/C fold via lower()
         ("g", 2, "a b c"),
         ("h", 1, "z")],
        "source string, snapshot int, text string",
    )
    got = {
        (r.source, r.snapshot): (r.n_tokens, r.n_new, r.novelty)
        for r in token_novelty(df).collect()
    }
    assert got == {
        ("g", 0): (2, 2, 1.0),     # {a, b}
        ("g", 1): (2, 1, 0.5),     # {a, c}: c new
        ("g", 2): (3, 0, 0.0),     # {a, b, c}: all seen
        ("h", 1): (1, 1, 1.0),     # h's first snapshot
    }


# ------------------------------------------------------------------
# embedding_drift_anomaly (composition consistency)
# ------------------------------------------------------------------


def test_embedding_drift_anomaly_vs_brute_force(spark):
    """The composition query's z-scores against a naive population
    computation over its own centroid_drift base — exercised via the
    registry entry at sf0.001 (the drift_anomaly test recipe on the
    embedding axis)."""
    from collections import defaultdict

    from dwds_livestream_spark.plans import llm as L

    rows = L.q_embedding_drift_anomaly(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    by_pair = defaultdict(list)
    for r in rows:
        by_pair[(r.snapshot, r.next_snapshot)].append(r)
    for pair, rs in by_pair.items():
        js = [round(r.l2_shift * 1e6) for r in rs]
        n = len(js)
        mu = sum(js) / n
        var = (sum(j * j for j in js) - sum(js) ** 2 / n) / n
        for r in rs:
            j = round(r.l2_shift * 1e6)
            want = 0.0 if var <= 0 else (j - mu) / math.sqrt(var)
            assert abs(r.z - round(want, 6)) < 1e-9, (pair, r.label)
        assert abs(sum(r.z for r in rs)) < 1e-3 * max(n, 1)


def test_embedding_drift_anomaly_zero_variance_emits_zero(spark):
    """Two labels drifting identically -> var 0 -> z = 0 exactly."""
    from dwds_livestream_spark.plans import llm as L
    from dwds_livestream_spark.operators.embedding_ops import centroid_drift
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [5.0]), (1, 1, [6.0])],
        "label int, snapshot int, embedding array<double>",
    )
    base = centroid_drift(df, group_col="label")
    j6 = SF.round(SF.col("l2_shift") * 1e6).cast("long")
    b = base.select("label", "snapshot", "next_snapshot", "l2_shift",
                    j6.alias("__j"))
    pop = b.groupBy("snapshot", "next_snapshot").agg(
        SF.count("*").alias("__n"), SF.sum("__j").alias("__s1"),
        SF.sum(SF.col("__j") * SF.col("__j")).alias("__s2"),
    )
    nd, s1d, s2d = (SF.col("__n").cast("double"),
                    SF.col("__s1").cast("double"),
                    SF.col("__s2").cast("double"))
    var = (s2d - (s1d * s1d) / nd) / nd
    z = SF.when(var > 0,
                (SF.col("__j").cast("double") - s1d / nd) / SF.sqrt(var)
                ).otherwise(SF.lit(0.0))
    got = (b.join(SF.broadcast(pop), ["snapshot", "next_snapshot"])
           .select("label", (SF.round(z, 6) + SF.lit(0.0)).alias("z"))
           .collect())
    assert {r.z for r in got} == {0.0}


# ------------------------------------------------------------------
# unigram_entropy
# ------------------------------------------------------------------


def test_unigram_entropy_vs_hand_computed(spark):
    from dwds_livestream_spark.operators.curation import unigram_entropy

    df = spark.createDataFrame(
        [
            (1, "a a b"),            # H = ln3 - (2 ln2)/3
            (2, "a b c"),            # uniform -> H = ln3, norm 1.0
            (3, "a a a"),            # single word -> H = 0, norm NULL
            (4, ""),                 # zero tokens -> excluded
            (5, None),               # NULL text -> excluded
            (6, "A a"),              # case folds -> one word
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.vocab, r.entropy, r.norm_entropy)
        for r in unigram_entropy(df).collect()
    }
    h1 = math.log(3) - (2 * math.log(2)) / 3
    assert set(got) == {1, 2, 3, 6}
    assert got[1][:2] == (3, 2)
    assert got[1][2] == pytest.approx(h1, abs=1e-6)
    assert got[1][3] == pytest.approx(h1 / math.log(2), abs=1e-6)
    assert got[2] == (
        3, 3,
        pytest.approx(math.log(3), abs=1e-6),
        pytest.approx(1.0, abs=1e-6),
    )
    assert got[3] == (3, 1, 0.0, None)
    assert got[6] == (2, 1, 0.0, None)


def test_unigram_entropy_long_low_redundancy_doc(spark):
    """VERDICT r10 #3: a 10⁵-token mostly-distinct document — the
    worst case for the old array_distinct × filter histogram
    (O(tokens × vocab) ≈ 10¹⁰ comparisons) — completes under the
    sorted-run fold and matches a hand-computed entropy. The pytest
    invocation itself is the bounded-time gate: the quadratic form
    would not return within the suite's lifetime."""
    from dwds_livestream_spark.operators.curation import unigram_entropy

    n = 100_000
    # 90k unique tokens + 10k repeats of 1k hot words: long AND
    # low-redundancy, with a non-trivial histogram tail
    words = [f"w{i}" for i in range(90_000)] + [
        f"hot{i % 1_000}" for i in range(10_000)
    ]
    assert len(words) == n
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    row = unigram_entropy(df).collect()[0]
    from collections import Counter

    c = Counter(words)
    s = sum(v * math.log(v) for v in c.values())
    h = math.log(n) - s / n
    assert row.n_tokens == n
    assert row.vocab == len(c)
    assert row.entropy == pytest.approx(h, abs=1e-6)
    assert row.norm_entropy == pytest.approx(
        h / math.log(len(c)), abs=1e-6
    )


def test_unigram_entropy_null_id_rows_drop(spark):
    """NULL-id rows drop (the documented contract; the oracle's WHERE
    doc_id IS NOT NULL replicates it)."""
    from dwds_livestream_spark.operators.curation import unigram_entropy

    df = spark.createDataFrame(
        [(None, "a b c"), (1, "a b")], "doc_id long, text string"
    )
    got = unigram_entropy(df).collect()
    assert [r.doc_id for r in got] == [1]


def test_unigram_entropy_bounds_and_monotonicity(spark):
    """0 <= H <= ln(vocab) always; repeating a doc's text twice leaves
    its distribution — and so its entropy — unchanged."""
    from dwds_livestream_spark.operators.curation import unigram_entropy

    base = "the cat sat on the mat and the dog sat too"
    df = spark.createDataFrame(
        [(1, base), (2, base + " " + base)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in unigram_entropy(df).collect()}
    for r in got.values():
        assert -1e-9 <= r.entropy <= math.log(r.vocab) + 1e-9
    assert got[2].n_tokens == 2 * got[1].n_tokens
    assert got[2].vocab == got[1].vocab
    assert got[2].entropy == pytest.approx(got[1].entropy, abs=1e-6)
