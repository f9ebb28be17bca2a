"""Deduplication operator family for large-scale training-data
pipelines (project brief; beyond the reference surface — the reference's
only dedup is the dimension argmin, wbdb.clj:20-28, in dedup_dim.py).

All variants are pure DataFrame programs on JVM-side built-ins — no
Python UDFs — so they scale to the 100 TB tier:

- exact_dedup:        hash-groupBy on a content digest; one shuffle with
                      map-side partial aggregation.
- ngram_jaccard_pairs: candidate generation by shared shingle
                      (equi-join), exact Jaccard verification by
                      intersection counting. The inverted-index join is
                      the scalable formulation (never all-pairs); a
                      stop-shingle cap bounds frequent-shingle skew.
- minhash_signatures / minhash_lsh_pairs: MinHash (an md5 shingle
                      hash mixed by k multiply-add permutations in ONE
                      projection) + banded LSH bucketing; candidate
                      pairs meet in band buckets — shuffle is
                      O(docs·bands), not O(docs²).
- simhash_signatures: 64-bit SimHash via per-bit signed sums in one
                      aggregate pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .spread import pinned, spread


def _splitmix(seed: int) -> int:
    """splitmix64: the deterministic multiplier/offset sequence behind
    the MinHash 'permutations' — module-level so verification code (the
    dedup_minhash_lsh SQL oracle builder) derives the SAME constants."""
    z = (seed + 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
    return z ^ (z >> 31)


def minhash_permutation_constants(k: int) -> tuple[list[int], list[int]]:
    """The (multiplier, offset) pairs for k MinHash permutations —
    odd 32-bit multipliers and 32-bit offsets from the splitmix64
    stream. Single source of truth for the Arrow kernel and the oracle."""
    mask32 = (1 << 32) - 1
    mult = [(_splitmix(2 * i) & mask32) | 1 for i in range(k)]
    add = [_splitmix(2 * i + 1) & mask32 for i in range(k)]
    return mult, add


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: group on md5(text), keep the minimum id as the
    canonical representative. Output: text_hash, keeper_id, n_dups."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.1,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    documents before pairing (stop-shingle skew cap for web-scale
    corpora); the similarity is then computed over non-stop shingles
    only. Leave None to compare full shingle sets — exact up to the
    documented 64-bit digest collision bound below (ADVICE r12: the
    shingle keys are digests, so "exact" always carries that ~1e-13
    qualifier; :func:`containment_pairs` inherits the same contract).
    Output: doc_a, doc_b (doc_a < doc_b), jaccard (rounded to 6dp).

    Since r12 the shingle set is carried as xxhash64 DIGESTS of the
    token slice, not gram strings (the minhash_jaccard_error basis,
    same rationale): the distinct and the inverted-index join move
    8-byte longs instead of n-word strings, and the per-gram
    array_join string build disappears. A 64-bit collision inside one
    pair's shingle union — the only place it could perturb a count —
    is ~1e-13 even at book-length docs; the registry oracles fold raw
    strings, so the driver gate continuously certifies
    collision-freeness on the fixture. The digest frame feeds THREE
    consumers (sizes + both inverted-join sides): pinned materialized,
    partitioned by doc id so the size fold and both size re-attach
    sides are exchange-free from the cache (guide §2.3/§2.4).
    """
    sh = pinned(_shingle_digest_rows(df, text_col, id_col, n))
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(freq.where(F.col("df") <= max_shingle_freq), "shingle")
            .select(id_col, "shingle")
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment C(A, B) = |sh(A) ∩ sh(B)| / |sh(A)| via
    the same inverted-index join as :func:`ngram_jaccard_pairs` — the
    sub-document-duplication detector: a short doc fully embedded in a
    much longer one scores ~1.0 here while its Jaccard (normalized by
    the UNION) can be arbitrarily small, so a Jaccard threshold never
    fires. Broder's containment measure; output both directions
    (doc_a contained-in doc_b), doc_a != doc_b, containment >=
    ``threshold`` rounded to 6dp.

    Scale shape identical to the Jaccard path: candidates meet in
    shingle postings lists (never all-pairs); ``max_shingle_freq``
    caps stop-shingle skew for web corpora (drops shingles in more
    docs than the cap BEFORE pairing). Shingles are carried as
    xxhash64 digests pinned partitioned-by-id — see
    :func:`ngram_jaccard_pairs` for the digest-basis rationale and
    collision bound (the oracle folds raw strings and certifies it).
    """
    sh = pinned(_shingle_digest_rows(df, text_col, id_col, n))
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(freq.where(F.col("df") <= max_shingle_freq), "shingle")
            .select(id_col, "shingle")
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cont = F.round(F.col("inter") / F.col("n_a"), 6)
    return (
        inter.join(sa, "doc_a")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .where(F.col("containment") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 128,
    partition_by_id: bool = False,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    All k minimums are computed in a single hash-aggregate pass
    (k ``min(hash(shingle, seed_i))`` aggregates) — one shuffle on the
    doc id, map-side combine, independent of k in shuffle volume.
    Output: id, sig (array<int> length k).

    The shingle hash is ``md5_64``: md5 of the space-joined shingle,
    engine-independent so the signatures are reproducible outside
    Spark (the registry oracles replicate them in SQL); the
    permutation mixing consumes only its top 32 bits.
    """
    # Scan-side partition floor: every consumer now PINS this frame
    # (spread.pinned), so the kernel runs exactly once — as the single
    # materialization job. A small/filtered parquet source arrives as
    # ONE split, serializing that job on one core (r12: the md5_64
    # shingle+sign kernel read 1.6-6.9 s single-task vs 1.1 s spread
    # across the default parallelism). On a multi-terabyte table the
    # source already has thousands of splits and spread() is a no-op
    # probe — no exchange at scale. (spread.py's earlier "rejected on
    # signature projections" note predates pinning, when the lazy
    # consumers' duplicate single-task evaluations overlapped.)
    #
    # ``partition_by_id=True`` hash-partitions the INPUT by the doc id
    # instead (ids are unique, so this parallelizes the kernel exactly
    # like spread while also leaving the signature frame partitioned
    # on its join key): callers that pin the frame for id-keyed
    # re-attach joins (minhash_lsh_pairs, minhash_ledger_replay) get
    # those joins exchange-free from the cache partitioning, for the
    # price of the one exchange the floor was paying anyway.
    df = df.repartition(id_col) if partition_by_id else spread(df)
    # Design: signature is a PURE PROJECTION — no explode, no shuffle.
    # Each shingle is hashed once JVM-side into a per-doc array; an
    # Arrow-vectorized kernel then mixes each hash with k multiply-add
    # "permutations" (numpy broadcast, wrap-around uint64) and takes the
    # k per-doc minimums via one segment-min (np.minimum.reduceat) per
    # batch. The JVM alternative — explode + k min() aggregates — adds
    # a |shingles|-row shuffle and pays multi-second codegen compilation
    # for a 128-column aggregate.
    with_toks = df.withColumn("__toks", F.split(F.col(text_col), " "))
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(0))
    )
    # first 8 md5 hex chars of the joined shingle, shifted into the
    # HIGH half so the kernel's f32 = hash >> 32 recovers exactly those
    # bits (the wrap to negative long is the same two's-complement
    # pattern the kernel views as uint64)
    grams = F.transform(
        idx,
        lambda i: F.shiftleft(
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("__toks", i, n), " ")), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            32,
        ),
    )

    # 32-bit universal hashing: 64-bit integer multiply is NOT
    # SIMD-vectorized (measured ~100x slower than u32 on this hardware);
    # the per-permutation loop with preallocated contiguous rows beats
    # the broadcasted outer product by the same factor again.
    mask32 = (1 << 32) - 1
    mult_l, add_l = minhash_permutation_constants(k)
    mult = np.array(mult_l, dtype=np.uint32)
    add = np.array(add_l, dtype=np.uint32)
    empty_sig = np.full(k, mask32, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def sig_of(gram_arrays: pd.Series) -> pd.Series:
        lens = np.array([len(g) for g in gram_arrays], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([empty_sig] * len(gram_arrays))
        flat = np.concatenate(
            [np.asarray(g, dtype=np.int64) for g in gram_arrays if len(g)]
        ).view(np.uint64)
        f32 = (flat >> np.uint64(32)).astype(np.uint32)
        mixed = np.empty((k, len(f32)), dtype=np.uint32)
        for j in range(k):
            np.multiply(f32, mult[j], out=mixed[j])
            mixed[j] += add[j]
        nonempty = lens > 0
        offsets = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
        mins = np.minimum.reduceat(mixed, offsets, axis=1)  # (k, n_docs)
        out = np.broadcast_to(empty_sig, (len(gram_arrays), k)).copy()
        out[nonempty] = mins.T.astype(np.int64)
        return pd.Series(list(out))

    # docs with fewer than n tokens have no shingles: excluded (same
    # semantics as the explode+groupBy formulation, where they simply
    # produce no rows)
    return (
        with_toks.where(F.size("__toks") >= n)
        .select(F.col(id_col), sig_of(grams).alias("sig"))
    )


def _minhash_band_buckets(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """(id, band, key) LSH bucket rows from a signature frame — the
    exchanged unit of every banded consumer: the self-join candidate
    generator below and the incremental ledger replay both move these
    small rows, never the k-int signatures."""
    # guard here (not only in minhash_lsh_pairs) so every consumer —
    # minhash_levenshtein_pairs included — fails fast instead of
    # silently truncating the signature to bands*(k//bands) positions
    # (a ValueError, not assert: asserts vanish under python -O)
    if k % bands != 0:
        raise ValueError(f"k ({k}) must be divisible by bands ({bands})")
    r = k // bands
    # engine-independent band key: md5 of the band's comma-joined ints
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice("sig", b * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.explode(band_cols).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _minhash_band_candidates(
    sig: DataFrame,
    id_col: str,
    k: int,
    bands: int,
    dedup_key: str | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b, deduplicated) from a
    signature frame. The bucket self-join moves only (id, band, key)
    rows — never the k-int signatures (that would shuffle |docs·bands|
    kB-sized rows); consumers re-attach whatever payload they need
    (signatures, text) to the far fewer candidate pairs afterwards.

    ``dedup_key`` ("doc_a"/"doc_b"): hash-partition the pair frame by
    that single column before the dedup instead of letting
    dropDuplicates exchange on the composite key. Partitioning on a
    subset of the grouping key satisfies the dedup's clustering
    requirement, and a consumer that immediately joins on the same
    column (e.g. the signature re-attach) reuses the exchange
    (guide §2.4) — pass the key the FIRST downstream join uses."""
    buckets = _minhash_band_buckets(sig, id_col, k, bands)
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "key")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "key")
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if dedup_key is not None:
        pairs = pairs.repartition(dedup_key)
    return pairs.dropDuplicates(["doc_a", "doc_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates with estimated Jaccard.

    k/bands rows per band; two docs collide if any band matches
    (P[collide] = 1-(1-j^r)^b). Candidates meet in band buckets — the
    shuffle is O(docs·bands); estimated similarity = fraction of equal
    signature positions (exact eq/k — a dyadic rational when k is a
    power of two, so the value is engine-independent with no rounding
    step). Output: doc_a, doc_b, est_jaccard. Shingle hash and band
    key are both md5-based, so the output is engine-independent.
    """
    if k % bands != 0:
        raise ValueError(f"k ({k}) must be divisible by bands ({bands})")
    # the signature frame feeds FOUR consumer subtrees (two bucket
    # self-join sides + the two signature re-joins); pin it
    # MATERIALIZED (operators/spread.pinned) — a bare .cache() lets
    # AQE's concurrently-submitted stages each re-run the whole
    # shingle+sign kernel (measured 4x single-task evaluations, r12).
    # |docs| x (k+1) longs — ~1 KB/doc, the standard persisted
    # artifact of a MinHash pipeline at any scale.
    # pinned HASH-PARTITIONED BY ID (one exchange of the ~1 KB/doc
    # signature rows at pin time): projections are alias-aware, so
    # both signature re-attach sides read the cache partitioning and
    # the candidate pipeline needs exactly ONE exchange of its own —
    # the doc_b repartition shared by the pair dedup and the sig_b
    # join — plus the doc_a re-key the sig_a join needs anyway
    # (guide §2.4; before r12: dedup + two re-keys + two sig-side
    # exchanges)
    sig = pinned(
        minhash_signatures(df, text_col, id_col, n=n, k=k, partition_by_id=True)
    )
    cand = _minhash_band_candidates(sig, id_col, k, bands, dedup_key="doc_b")
    sa = sig.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = eq / F.lit(k)
    return (
        cand.join(sb, "doc_b")
        .join(sa, "doc_a")
        # no round step: eq/k is exactly representable (k a power of
        # two in every configuration used), and round(x, 6) on the
        # x.xxxxxx5 grid eq/128 lands on is tie-broken differently per
        # engine — the seasonal_decompose class of bug
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )


def _md5_64(t):
    """Engine-independent 64-bit token hash: the first 16 hex chars of
    md5 read as a big-endian integer (two 32-bit conv halves — conv of
    the full 16 chars would overflow signed bigint; the shift wraps to
    the same two's-complement bits the Arrow kernel views as uint64)."""
    hi = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash over word tokens.

    Per token a 64-bit hash votes ±1 on each bit position; the signature
    takes the sign of each position's sum. 64 conditional sums in one
    aggregate pass (columnar, no UDF). Output: id, simhash (bigint).

    The token hash is ``_md5_64`` (engine-independent, so signatures
    and the near-pair set are reproducible outside Spark).
    """
    # Pure projection, no shuffle: token hashes are computed JVM-side
    # into a per-doc array; an Arrow kernel unpacks each 64-bit hash
    # into its bit matrix and takes per-doc signed bit sums with one
    # segment-sum (np.add.reduceat). The JVM alternative — explode +
    # 64 conditional sum() aggregates — shuffles |tokens| rows and pays
    # multi-second codegen compilation of a 64-column aggregate.
    # Scan-side partition floor for the pinned single materialization
    # (see minhash_signatures; measured 2.0 s -> 0.6 s at sf0.1);
    # no-op at scale.
    df = spread(df)
    tok_hashes = F.transform(
        F.filter(
            F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
        ),
        _md5_64,
    )

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf(LongType())
    def simhash_of(hash_arrays: pd.Series) -> pd.Series:
        lens = np.array([len(h) for h in hash_arrays], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(hash_arrays), dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hash_arrays if len(h)]
        ).view(np.uint64)
        # (n_tokens, 64) in {-1, +1}
        bits = (
            ((flat[:, None] >> shifts[None, :]) & np.uint64(1))
            .astype(np.int32) * 2 - 1
        )
        nonempty = lens > 0
        offsets = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])
        sums = np.add.reduceat(bits, offsets, axis=0)  # (n_docs, 64)
        sig_bits = (sums > 0).astype(np.uint64)
        sigs = (sig_bits << shifts[None, :]).sum(axis=1).view(np.int64)
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        out[nonempty] = sigs
        return pd.Series(out)

    # docs with no non-empty tokens are excluded (same semantics as the
    # explode formulation, which produces no rows for them)
    return (
        df.withColumn("__th", tok_hashes)
        .where(F.size("__th") > 0)
        .select(F.col(id_col), simhash_of(F.col("__th")).alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs by banded bit-blocks (pigeonhole: two sigs
    within ``max_hamming`` of each other agree exactly on at least one
    of ``blocks`` 16-bit blocks when max_hamming < blocks). Exact
    hamming verified on candidates. Output: doc_a, doc_b, hamming.

    ``max_hamming`` must stay BELOW ``blocks`` or the pigeonhole
    guarantee breaks (a pair differing in every block meets in no
    bucket and is silently lost) — enforced, not just documented; use
    more blocks for a larger radius."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < blocks: "
            f"{max_hamming} >= {blocks} would silently lose pairs"
        )
    # both self-join sides consume the signature frame: pin it
    # MATERIALIZED (operators/spread.pinned) so the Arrow signing
    # kernel runs once (16 bytes/doc) — a bare .cache() lets the two
    # concurrently-submitted join-side stages each re-run it (r12)
    sig = pinned(simhash_signatures(df, text_col, id_col))
    width = 64 // blocks
    block_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("block"),
                F.shiftrightunsigned("simhash", i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for i in range(blocks)
        ]
    )
    buckets = sig.select(id_col, "simhash", F.explode(block_cols).alias("bk")).select(
        id_col, "simhash", "bk.block", "bk.key"
    )
    a = buckets.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "block", "key"
    )
    b = buckets.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "block", "key"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["block", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def levenshtein_near_pairs(
    docs: DataFrame,
    max_dist: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-dup pairs (doc_a < doc_b, levenshtein <=
    ``max_dist``) with EXACT length-band blocking: edit distance >= the
    length difference, so a pair can only qualify when
    ``|len(a) - len(b)| <= max_dist`` — each doc joins the length bands
    ``floor(len/(d+1))`` and its two neighbors, which provably covers
    every qualifying pair (no recall loss, unlike prefix blocking).

    Scale: the band join replaces the all-pairs cross product with
    per-band products; the levenshtein itself uses Spark's thresholded
    form (early-exit at ``max_dist + 1``). Long uniform-length corpora
    still need a cheaper prefilter first (MinHash/SimHash candidates
    from this module) — band blocking bounds candidates by length
    distribution, the hash prefilters bound them by content.

    The probe side is round-robin repartitioned to the session's
    default parallelism before the join: a small filtered input often
    arrives as ONE partition, and with a broadcast build side every
    pair's dynamic program would then run in a single task (measured
    10x on 32 cores). A pure column prefilter (character-histogram L1
    lower bound) was measured here and rejected: it prunes <5% on
    near-uniform corpora while paying an extra scan of every text.
    """
    band = 1 + max_dist
    base = docs.select(
        F.col(id_col), F.col(text_col).alias("__t"), F.length(text_col).alias("__len")
    )

    blocked = base.select(
        id_col,
        "__t",
        "__len",
        F.explode(
            F.array(
                (F.floor(F.col("__len") / band) - 1),
                F.floor(F.col("__len") / band),
                (F.floor(F.col("__len") / band) + 1),
            )
        ).alias("__band"),
    )
    a = blocked.select(
        F.col(id_col).alias("doc_a"), F.col("__t").alias("__ta"),
        F.col("__len").alias("__la"), "__band",
    )
    a = spread(a)
    # right side joins only its OWN band: each ordered pair then meets
    # exactly once via the left side's +/-1 bands — no dropDuplicates
    b = base.select(
        F.col(id_col).alias("doc_b"), F.col("__t").alias("__tb"),
        F.col("__len").alias("__lb"),
        F.floor(F.col("__len") / band).alias("__band"),
    )
    dist = F.levenshtein("__ta", "__tb", max_dist + 1)
    return (
        a.join(b, "__band")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        )
        # one-element explode as a Generate barrier (the access_log
        # trick, r13): selecting dist then filtering on the alias lets
        # the optimizer inline the alias and fold BOTH filter conjuncts
        # into the join condition — the O(len²) dynamic program then
        # runs TWICE per surviving band pair (measured in the r12
        # before-plan: `levenshtein(...) >= 0 AND levenshtein(...) <=
        # 60` as one join condition). Predicates cannot cross a
        # Generate (InferFiltersFromGenerate is excluded session-wide),
        # so the DP evaluates exactly once per candidate.
        .select(
            "doc_a", "doc_b",
            F.explode(F.array(dist)).alias("edit_dist"),
        )
        # thresholded levenshtein returns -1 when the distance exceeds
        # the threshold — exclude those, not just > max_dist
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def minhash_levenshtein_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    max_dist: int = 60,
) -> DataFrame:
    """THE at-scale edit-distance composition: MinHash banded-LSH
    candidates -> exact thresholded Levenshtein as the VERIFIER.
    Output: doc_a, doc_b, edit_dist (<= max_dist; doc_a < doc_b).

    ``levenshtein_near_pairs`` is the oracle baseline — exact recall,
    but its length-band blocking bounds candidates only by the length
    distribution, so near-uniform corpora degrade toward all-pairs
    (measured 42x at 10x data, SCALE_SF1.md). This composition bounds
    candidates by CONTENT: the O(docs·bands) banded join proposes
    pairs, and the O(candidates) dynamic program verifies them — both
    stages linear-ish in the corpus at fixed near-dup density, the
    standard fuzzy-dedup shape at 100 TB. Recall: banding is lossy vs
    the exact formulation by construction (a pair qualifies only if
    some band of the MinHash signatures agrees) — asserted against
    levenshtein_near_pairs in tests; the banded OUTPUT itself is a
    deterministic function (md5-based shingle hash and band key)
    replicated exactly by the generated DuckDB oracle (plans/llm.py).

    Docs with fewer than ``n`` tokens have no shingles and drop out
    (minhash_signatures semantics), exactly as in the oracle's toks CTE.
    """
    # both bucket self-join sides consume the signature frame; pin it
    # materialized so the kernel runs once instead of twice (the
    # concurrent-AQE-stage duplication measured in r12 — see
    # operators/spread.pinned)
    sig = pinned(minhash_signatures(df, text_col, id_col, n=n, k=k))
    cand = _minhash_band_candidates(sig, id_col, k, bands)
    # re-attach TEXT to candidate pairs only; spread the pair frame so
    # the per-pair dynamic programs don't serialize in one
    # AQE-coalesced task (the same measured 10x as
    # levenshtein_near_pairs' probe side). force=True: cand is a
    # post-shuffle frame, and the partition-count probe would
    # materialize the whole candidate join at plan time under AQE
    ta = df.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta")
    )
    tb = df.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb")
    )
    dist = F.levenshtein("__ta", "__tb", max_dist + 1)
    return (
        spread(cand, force=True)
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        # one-element explode as a Generate barrier: without it the
        # threshold filter folds into the text-attach join's condition
        # and the O(len²) dynamic program evaluates TWICE per
        # candidate (see levenshtein_near_pairs — same fix)
        .select(
            "doc_a", "doc_b",
            F.explode(F.array(dist)).alias("edit_dist"),
        )
        # thresholded levenshtein returns -1 past the threshold
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def incremental_dedup_replay(
    df: DataFrame,
    key_col: str = "fingerprint",
    id_col: str = "doc_id",
    batch_col: str = "batch_id",
    batch_values: list | None = None,
) -> DataFrame:
    """Incremental dedup-ledger replay as ONE batch-checkable plan
    (ROADMAP r6 candidate): batches arrive in ``batch_values`` order;
    each batch's per-key min-id candidates anti-join the accumulated
    keeper ledger, survivors append to it. Output: (id, batch, the
    ledger keeper for its key) for every row of the REPLAYED batches —
    i.e. what an incremental pipeline would have assigned, computed by
    actually replaying the increments. Rows from batches outside
    ``batch_values`` are not part of the replay and are excluded
    explicitly (a key seen only there has no ledger entry — joining
    them would silently drop or misassign, so the output universe is
    pinned to the replayed batches).

    Equivalence: when ``batch_values`` is ASCENDING, replay keeper ==
    global min (batch, id) per key, which is what the DuckDB oracle
    computes with one window — a hash match proves the incremental
    path loses/overwrites nothing at any batch boundary (same argument
    the rollup-compaction redesign made for fold boundaries). An
    unsorted ``batch_values`` is still a valid replay — it answers
    "what would the ledger hold if batches arrived in THIS order" —
    but its keeper is the first-arrived, not the min-(batch,id), so
    sort before passing when oracle equivalence is intended (the
    default path sorts; the property test does too).

    Scale: the ledger is (key, keeper) — distinct keys, not corpus
    rows; localCheckpoint stands in for the persisted ledger table an
    incremental pipeline keeps between runs (bounds lineage so replay
    length can't deepen the plan). Each step is one keyed partial agg
    + one anti-join against the ledger; the corpus never re-shuffles
    across steps. ``batch_values`` is explicit — batch inventories are
    driver-sized metadata by construction.
    """
    if batch_values is None:
        batch_values = [
            r[0]
            for r in df.select(batch_col).distinct().orderBy(batch_col).collect()
        ]
    if not batch_values:
        raise ValueError(
            "incremental_dedup_replay needs at least one batch to "
            "replay (batch_values is empty)"
        )
    ledger: DataFrame | None = None
    for b in batch_values:
        batch = df.where(F.col(batch_col) == b)
        cand = batch.groupBy(key_col).agg(F.min(id_col).alias("keeper_id"))
        new = (
            cand
            if ledger is None
            else cand.join(ledger.select(key_col), key_col, "left_anti")
        )
        step = new.select(key_col, "keeper_id")
        ledger = step if ledger is None else ledger.unionByName(step)
        ledger = ledger.localCheckpoint()
    replayed = df.where(F.col(batch_col).isin(batch_values))
    return replayed.join(ledger, key_col).select(
        id_col, batch_col, "keeper_id"
    )


def minhash_ledger_replay(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_col: str = "batch",
    batch_values: list | None = None,
    n: int = 5,
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental cross-snapshot NEAR-dup ledger replay — the MinHash
    extension of :func:`incremental_dedup_replay` (VERDICT r9 #4's
    queued capability): crawl snapshots arrive in ``batch_values``
    order; each new snapshot's documents are LSH-probed against the
    accumulated ledger of surviving documents, near-dups (signature
    estimate >= ``threshold`` against any ledger doc) are assigned
    the LOWEST-id qualifying ledger keeper, and survivors append to
    the ledger. This is "does the new crawl re-fetch what we already
    have" as one batch-checkable plan: INTRA-batch pairs are
    deliberately not deduped (that is minhash_lsh_pairs' job on the
    snapshot itself; here the ledger answers only the cross-snapshot
    question, and the unrolled SQL oracle certifies exactly these
    semantics).

    Output: one row per replayed document — <id_col>, <batch_col>,
    keeper_id (itself for ledger entrants — including sub-``n``-token
    docs, which have no signature, collide with nothing, and survive
    trivially), est_jaccard (the keeper pair's eq/k estimate — an
    exact dyadic rational, engine-identical; NULL for self-keepers).

    Scale: signatures are computed ONCE for the whole replay and
    cached (|docs| x (k+1) longs — the standard persisted MinHash
    artifact); the (id, band, key) bucket frame derives from them and
    is pinned lazily. Each step is ONE equi join of the new batch's
    buckets against ledger buckets (band-key partitioned, text never
    moves) + a candidate-sized signature re-attach + one anti-join;
    the ledger itself is an ID LIST (not corpus rows), eagerly
    localCheckpointed per step so replay length bounds lineage depth,
    exactly the incremental_dedup_replay contract. ``batch_values``
    is explicit driver-sized metadata; when omitted it is read from
    the data with one distinct (snapshot inventories are
    calendar-sized by construction).

    Precondition: ``id_col`` is unique across the whole replay (the
    snapshot-corpus contract — a doc re-fetched in a later crawl has
    a NEW id, which is exactly what the ledger detects); an id
    repeated across batches would double its signature row and fan
    the keeper joins out.
    """
    if batch_values is None:
        batch_values = [
            r[0]
            for r in df.select(batch_col)
            .where(F.col(batch_col).isNotNull())
            .distinct()
            .orderBy(batch_col)
            .collect()
        ]
    if not batch_values:
        raise ValueError(
            "minhash_ledger_replay needs at least one batch to replay "
            "(batch_values is empty)"
        )
    replayed = df.where(F.col(batch_col).isin(batch_values))
    ids = replayed.select(id_col, batch_col)
    # sig and the bucket frame each feed 2 consumers PER STEP (probe
    # side + ledger side / signature re-attach); pin both MATERIALIZED
    # (operators/spread.pinned): a bare cache or lazy checkpoint lets
    # the per-step AQE stages race into the unpopulated cache and
    # re-run the kernel per side (measured 2x per step, r12).
    # Both pins are HASH-PARTITIONED BY THE DOC ID before caching (one
    # exchange of the small signature rows at pin time): projections
    # are alias-aware, so every per-step id-keyed consumer — the
    # ledger semi join, both signature re-attach sides — reads the
    # cache partitioning instead of re-exchanging the frame each step
    # (guide §2.4: operations keyed the same way share one exchange).
    sig = pinned(
        minhash_signatures(
            replayed, text_col, id_col, n=n, k=k, partition_by_id=True
        )
    )
    # the batch tag is joined in ONCE at pin time (bucket side already
    # partitioned by id, so only the tiny (id, batch) side moves);
    # before r12 the buckets⋈ids join was re-evaluated inside every
    # step's probe query
    buckets = pinned(
        _minhash_band_buckets(sig, id_col, k, bands).join(ids, id_col)
    )

    eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    sa = sig.select(F.col(id_col).alias("__new"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("__led"), F.col("sig").alias("sig_b"))

    first, rest = batch_values[0], batch_values[1:]
    ledger = ids.where(F.col(batch_col) == first).select(
        F.col(id_col).alias("__led")
    )
    # Barrier structure (measured r13, VERDICT r12 #7): the obvious
    # "fold all steps into ONE lazy query" variant — inline the ledger
    # lineage, checkpoint every 2 steps, one eager materialization of
    # the final union — was implemented and measured SLOWER (lean
    # minima 3.37 -> 4.73 s; executor task-ms 1.9 -> 6.1 s): each
    # step's keeper frame is referenced by the final union AND by the
    # next step's ledger semi-join, and AQE does NOT dedup those
    # repeated subtrees across the union/semi-join contexts, so the
    # whole step-1 probe pipeline re-executes per reference. The
    # per-step eager ledger checkpoint (each step's dups pinned
    # lazily, materialized by the next checkpoint) stays — O(k)
    # barriers is the measured-cheapest structure for the sequential
    # cross-snapshot semantics. What IS trimmed: the ledger after the
    # FINAL batch has no consumer, so its anti-join + union +
    # checkpoint (dead work in r12) are skipped and the last dups is
    # checkpointed directly.
    dup_frames: list[DataFrame] = []
    for i, b in enumerate(rest):
        new_b = buckets.where(F.col(batch_col) == b).select(
            F.col(id_col).alias("__new"), "band", "key"
        )
        # ledger side: cache read partitioned by id (= __led), so only
        # the id-list ledger moves in this semi join — the bucket
        # frame itself never re-exchanges across steps
        led_b = buckets.select(
            F.col(id_col).alias("__led"), "band", "key"
        ).join(ledger, "__led")
        # one candidate exchange keyed on __led serves three operators
        # (guide §2.4): the pair dedup (hashpartitioning(__led)
        # satisfies the (__new, __led) clustering), the sig_b attach
        # (sb is cache-partitioned on __led), and — after the __new
        # re-key that the sig_a attach needs anyway — the keeper
        # groupBy(__new) runs exchange-free on the sa join's output
        cand = (
            new_b.join(led_b, ["band", "key"])
            .select("__new", "__led")
            .repartition("__led")
            .dropDuplicates(["__new", "__led"])
        )
        scored = (
            cand.join(sb, "__led")
            .join(sa, "__new")
            .select("__new", "__led", (eq / F.lit(k)).alias("__est"))
            .where(F.col("__est") >= threshold)
        )
        dups = scored.groupBy("__new").agg(
            F.min(F.struct("__led", "__est")).alias("__kp")
        ).select(
            "__new",
            F.col("__kp.__led").alias("keeper_id"),
            F.col("__kp.__est").alias("est_jaccard"),
        )
        if i < len(rest) - 1:
            # dups feeds TWO consumers — the survivors anti-join
            # (evaluated eagerly by the ledger checkpoint below) and
            # the final union — so an unpinned frame would run the
            # whole probe pipeline twice per batch (review r10; the
            # module's multi-consumer rule)
            dups = dups.localCheckpoint(eager=False)
            survivors = (
                ids.where(F.col(batch_col) == b)
                .join(
                    dups.select(F.col("__new").alias(id_col)),
                    id_col,
                    "left_anti",
                )
                .select(F.col(id_col).alias("__led"))
            )
            # the ledger is an id list — eager checkpoint per step
            # bounds lineage depth to O(1) regardless of replay length
            ledger = ledger.unionByName(survivors).localCheckpoint()
        else:
            # final batch: one eager checkpoint of the keeper frame
            # (single downstream consumer), so every probe has run
            # before the caches release below
            dups = dups.localCheckpoint()
        dup_frames.append(dups)

    # every per-step probe has run (the per-step ledger checkpoints
    # and the final dups checkpoint materialized them), so the cached
    # signature and bucket frames have served their purpose — release
    # them here rather than leaking blocks into executor storage per
    # invocation (advisor r10)
    sig.unpersist()
    buckets.unpersist()

    assigned = dup_frames[0] if dup_frames else None
    for d in dup_frames[1:]:
        assigned = assigned.unionByName(d)
    if assigned is None:
        return ids.select(
            id_col,
            batch_col,
            F.col(id_col).alias("keeper_id"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
    return (
        ids.join(
            assigned.withColumnRenamed("__new", id_col), id_col, "left"
        )
        .select(
            id_col,
            batch_col,
            F.coalesce("keeper_id", F.col(id_col)).alias("keeper_id"),
            "est_jaccard",
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup with reassembly (RefinedWeb / Penedo
    et al. 2023 §3.2): each distinct paragraph is kept only in its FIRST
    containing document (min doc_id, then min position); every later
    occurrence is cut, and documents are re-joined from their surviving
    paragraphs (original order). Documents left with zero paragraphs
    drop out.

    Scale design (100 TB): two shuffles, both skew-resistant —
    1. winner election groups by the paragraph's md5 and reduces to
       ``min(struct(doc_id, idx))``: partial (map-side) aggregation
       collapses a boilerplate paragraph repeated 10M times to one row
       per input partition before the shuffle, so hot paragraphs cannot
       hot-spot a reducer; only (hash, doc_id, idx) ever shuffles, never
       paragraph text.
    2. the winner set joins back on the FULL (hash, doc_id, idx) key —
       one match per winner, uniformly distributed even when one hash is
       hot — and reassembly groups by doc_id (uniform by construction).

    ``sep`` is a literal separator (newline by default; use "\\n\\n" for
    blank-line paragraphs). Output: doc_id, text, n_kept.
    """
    import re as _re

    text = F.col(text_col)
    p = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(text, _re.escape(sep), -1)).alias(
                "idx", "para"
            ),
        )
        .withColumn("para", F.trim("para"))
        .where(F.length("para") > 0)
        .withColumn("__h", F.md5("para"))
    )
    winners = (
        p.groupBy("__h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("__k"))
        .select("__h", F.col("__k.doc_id").alias("doc_id"),
                F.col("__k.idx").alias("idx"))
    )
    kept = p.join(winners, ["__h", "doc_id", "idx"])
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "para"))),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("text"),
            F.count("*").cast("int").alias("n_kept"),
        )
    )


def _span_digest_rows(
    df: DataFrame, text_col: str, id_col: str, batch_col: str, sep: str
) -> DataFrame:
    """(id, batch, xxhash64(paragraph)) occurrence rows — the span
    frame shared by the paragraph-ledger family. paragraph_dedup's
    split convention (literal ``sep``, trim, drop empties); NULL
    id/batch rows drop; text reduces to an 8-byte digest before any
    exchange (64-bit collisions perturb a count at ~1e-13; the
    registry oracles fold raw strings, so the driver gate
    continuously certifies the fixture)."""
    import re as _re

    return (
        df.where(
            F.col(id_col).isNotNull() & F.col(batch_col).isNotNull()
        )
        .select(
            F.col(id_col),
            F.col(batch_col),
            F.explode(
                F.split(F.col(text_col), _re.escape(sep), -1)
            ).alias("__para"),
        )
        .withColumn("__para", F.trim("__para"))
        .where(F.length("__para") > 0)
        .select(id_col, batch_col, F.xxhash64("__para").alias("__h"))
    )


def paragraph_ledger_yield(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_col: str = "batch",
    sep: str = "\n",
) -> DataFrame:
    """Per-batch yield curve of the span ledger — the span-granular
    twin of the doc-level dedup yield curve (ROADMAP r12 candidate,
    landed early): for each crawl snapshot, how much span MASS is
    already held from earlier snapshots (held_frac) and how many
    DISTINCT spans the ledger holds once the batch lands
    (ledger_size) — the crawl scheduler's "marginal novelty per
    fetch" readout at the granularity re-crawls actually repeat
    (boilerplate spans, not whole documents).

    Same order-free algebra as :func:`paragraph_ledger_replay`
    (held iff the span's min(batch) < own batch; a span enters the
    ledger at its first-containing batch), so the whole curve is ONE
    declarative plan. Intra-batch repeats count as new mass but ONE
    ledger entry. Docs with zero surviving spans contribute nothing;
    NULL id/batch rows drop.

    Scale (100 TB): the occurrence frame and the first-seen frame are
    both pinned lazily (each feeds two consumers); exchanges carry
    digests and counts only. The ledger_size cumulative window runs
    over ONE ROW PER BATCH — the calendar-bounded global-window
    class. Output: <batch_col>, n_docs (docs with >= 1 span),
    n_spans (occurrences), n_held (occurrences first seen earlier),
    held_frac (6dp), ledger_size (cumulative distinct spans).
    """
    p = _span_digest_rows(
        df, text_col, id_col, batch_col, sep
    ).localCheckpoint(eager=False)
    first = (
        p.groupBy("__h")
        .agg(F.min(batch_col).alias("__fb"))
        .localCheckpoint(eager=False)
    )
    occ = (
        p.join(first, "__h")
        .groupBy(batch_col)
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_spans"),
            F.sum(
                (F.col("__fb") < F.col(batch_col)).cast("long")
            ).alias("n_held"),
        )
    )
    new = first.groupBy(F.col("__fb").alias(batch_col)).agg(
        F.count("*").alias("__n_new")
    )
    w = Window.orderBy(batch_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        occ.join(new, batch_col, "left")
        .select(
            batch_col,
            "n_docs",
            "n_spans",
            "n_held",
            (
                F.round(F.col("n_held") / F.col("n_spans"), 6)
                + F.lit(0.0)
            ).alias("held_frac"),
            F.sum(F.coalesce("__n_new", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("ledger_size"),
        )
    )


def paragraph_ledger_replay(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_col: str = "batch",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level cross-snapshot EXACT ledger — the
    :func:`paragraph_dedup` × incremental-ledger product (VERDICT r10
    #5's queued capability): crawl snapshots arrive in ``batch_col``
    order and the ledger holds every paragraph seen so far; for each
    document, how much of its span mass is already held from EARLIER
    snapshots ("is this crawl re-fetching boilerplate we have?") —
    the span-granular readout a crawl pipeline needs more than
    doc-level near-dup, because re-crawled pages are typically
    PARTIAL copies (same boilerplate, fresh article body).

    Unlike the doc-level near-dup ledger (sequential by construction
    — survivors depend on earlier dedup decisions), the exact
    paragraph ledger is ORDER-FREE: every distinct paragraph enters
    the ledger at its first-containing batch no matter which of its
    holders "survive", so the whole replay collapses to ONE
    declarative plan — a paragraph occurrence in batch b is held iff
    min(batch) over that paragraph's occurrences < b. No driver loop,
    no per-step checkpoint, no lineage growth; replay length is free.

    Paragraph convention matches :func:`paragraph_dedup`: split on
    the literal ``sep``, trim, drop empties. Intra-batch repeats
    count as NEW (first-seen batch == own batch) — the ledger answers
    only the cross-snapshot question (the minhash_ledger_replay
    contract; intra-batch copies are paragraph_dedup's job on the
    snapshot itself). NULL id/batch rows drop (a replay position is
    undefined without both); docs with zero surviving paragraphs drop.

    Scale (100 TB): paragraphs reduce to xxhash64 digests at the scan
    (text never crosses an exchange; 64-bit collisions perturb a
    count at ~1e-13 — the registry oracle folds raw strings, so the
    driver gate continuously certifies the fixture). Three shuffles,
    all digest-keyed: (1) first-seen is a groupBy(digest).min(batch)
    — map-side combine collapses a boilerplate paragraph repeated
    10M times to one row per input partition before the exchange;
    (2) the occurrence frame re-joins the (digest, first_batch)
    winner frame — one row per digest on the build side, hot digests
    fan out only by their true occurrence count (the paragraph_dedup
    skew note; AQE skew-join splits oversized partitions); (3) the
    per-doc fold groups by (id, batch) — uniform by construction.

    Output: <id_col>, <batch_col>, n_paras (occurrences), n_held
    (occurrences whose paragraph first appeared in an EARLIER batch),
    held_frac (6dp).
    """
    # the span frame feeds TWO consumers (the first-seen fold and the
    # occurrence join) — pin it lazily so the scan + explode + hash
    # run once, not twice (the module's multi-consumer rule; the
    # yield twin pins the same frame)
    p = _span_digest_rows(
        df, text_col, id_col, batch_col, sep
    ).localCheckpoint(eager=False)
    first = p.groupBy("__h").agg(
        F.min(batch_col).alias("__first_batch")
    )
    return (
        p.join(first, "__h")
        .groupBy(id_col, batch_col)
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(
                (F.col("__first_batch") < F.col(batch_col)).cast("long")
            ).alias("n_held"),
        )
        .select(
            id_col,
            batch_col,
            "n_paras",
            "n_held",
            (
                F.round(F.col("n_held") / F.col("n_paras"), 6)
                + F.lit(0.0)
            ).alias("held_frac"),
        )
    )


def _shingle_digest_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Distinct (id, shingle-digest) rows: xxhash64 over each word
    n-gram's token slice, exploded to long format — the membership
    form of a document's shingle set for exact-Jaccard joins that
    never expose shingle text (the dedup-module analogue of
    curation.py's _with_shingle_hashes, which cannot be reused here
    because it lowercases through tokens()).

    MUST tokenize exactly like minhash_signatures (plain single-space
    split, no case fold): a consumer that mixes this
    frame with signature estimates (minhash_jaccard_error) needs both
    sides over the SAME shingle universe or the error surface
    silently skews. The when-guard is needed because sequence(1, 0) is
    DESCENDING in Spark: sub-n-token docs must hit the typed empty
    branch, not crash slice(.., 0).

    The exploded rows are hash-partitioned by the doc id BEFORE the
    distinct: hashpartitioning(id) satisfies the distinct's (id,
    shingle) clustering, so the dedup re-uses that exchange, and every
    id-keyed consumer of the (pinned) result — per-doc size folds,
    candidate re-attach joins — reads the partitioning instead of
    re-exchanging the frame (guide §2.4)."""
    with_toks = df.withColumn("__toks", F.split(F.col(text_col), " "))
    n_pos = F.greatest(F.size("__toks") - (n - 1), F.lit(0))
    grams = F.when(
        n_pos > 0,
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.xxhash64(F.slice("__toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = with_toks.select(F.col(id_col), F.explode(grams).alias("shingle"))
    return out.repartition(id_col).distinct()


def minhash_jaccard_error(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Sketch-accuracy surface of the MinHash pipeline: for every
    banded-LSH candidate pair, the signature ESTIMATE (eq/k — the
    number every downstream threshold decision consumes), the EXACT
    shingle Jaccard, and their absolute error. This is the measurement
    that justifies choosing k — run it on a corpus sample before
    committing a signature width (stddev of the estimator is
    sqrt(j(1-j)/k) ~ 0.044 at k=128, j=0.5).

    Plan: candidates + estimates are ``minhash_lsh_pairs`` at
    threshold 0 (every band collision kept — the error surface must
    include the LOW-similarity collisions a thresholded view hides);
    exact Jaccard is computed only for the candidate pairs by routing
    distinct (id, shingle) rows through the pair list (two hash joins
    + one count aggregate — candidate-sized, never all-pairs).
    abs_err is one IEEE subtraction of two exactly-determined doubles
    (eq/k dyadic, i/(na+nb-i) from exact integers), so round(6) is
    engine-identical. Output: doc_a, doc_b, est_jaccard, jaccard,
    abs_err — where ``jaccard`` (and hence ``abs_err``) is computed
    over 64-bit xxhash64 shingle DIGESTS, not raw shingle strings:
    exact up to a ~1e-13 per-pair collision probability (the comment
    below quantifies it; the registry oracle folds raw strings, so
    the driver gate certifies collision-freeness on the fixture).
    """
    # est feeds two consumers (the pair routing below + the final
    # join); pin it MATERIALIZED (operators/spread.pinned) — est is
    # candidate-sized, the cheapest frame in the plan to pin. The
    # previous lazy localCheckpoint was the r12 round's worst
    # double-evaluation: under AQE, .localCheckpoint(eager=False)
    # must finalize the adaptive plan to build the RDD, which RUNS
    # every shuffle stage of the LSH chain at plan-construction time
    # and then again at query time (the checkpoint only materializes
    # on the second pass) — measured 2x the whole estimate subtree.
    est = pinned(
        minhash_lsh_pairs(
            df, text_col, id_col, n=n, k=k, bands=bands, threshold=0.0
        )
    )
    # the exact-Jaccard legs never expose shingle TEXT — only set
    # membership — so the (id, shingle) frame carries xxhash64 over
    # the token slice instead of the joined string (the
    # _with_shingle_hashes trick from operators/curation.py): the
    # intersection join shuffles 8-byte longs, not n-word strings,
    # and skips the per-gram array_join build. A 64-bit collision
    # INSIDE one candidate pair's shingle union (the only place it
    # could perturb a count) is ~1e-13 even at book-length docs; the
    # registry oracle computes the same Jaccard from raw strings, so
    # the driver gate continuously certifies collision-freeness on
    # the fixture. Three consumers (two join legs + sizes): pinned
    # lazily — unlike the old string frame (measured cheaper to
    # re-derive than materialize), the digest frame is 16 B/row, so
    # one explode+hash execution beats three.
    sh = _shingle_digest_rows(df, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    pairs = est.select("doc_a", "doc_b")
    inter = (
        sh.select(F.col(id_col).alias("doc_a"), "shingle")
        .join(pairs, "doc_a")
        .join(
            sh.select(F.col(id_col).alias("doc_b"), "shingle"), ["doc_b", "shingle"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = (
        F.coalesce(F.col("inter"), F.lit(0)).cast("double")
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0)))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            (F.round(jac, 6) + F.lit(0.0)).alias("jaccard"),
            (F.round(F.abs(F.col("est_jaccard") - jac), 6) + F.lit(0.0)).alias(
                "abs_err"
            ),
        )
    )


def suffix_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Concatenation-artifact detector: pairs (A, B) where document
    A's LAST ``n`` tokens equal document B's FIRST ``n`` tokens — the
    boundary signature of a document split mid-sentence by an
    extraction pipeline (or of boilerplate chaining). Exact-join twin
    of the containment family: ``containment_pairs`` finds B inside A,
    this finds A's tail flowing INTO B's head so the two can be
    re-joined (or the boundary deduped) upstream of chunking.

    Plan: one map stage builds the head/tail n-gram key per doc
    (higher-order array slice, no explode), then ONE equi hash join
    tail→head — never a nested loop. Keys are n-gram strings; a
    boilerplate n-gram shared by many heads/tails fans out
    quadratically WITHIN that key by the operator's semantics (same
    standing note as the jaccard family's stop-shingle cap — pass a
    larger ``n`` to sharpen keys). Docs with fewer than ``n`` tokens
    have no boundary signature and are excluded. Output: doc_a (the
    tail side), doc_b (the head side), boundary (the shared n-gram).
    """
    toks = df.withColumn("__toks", F.split(F.col(text_col), " "))
    keyed = toks.where(F.size("__toks") >= n).select(
        F.col(id_col),
        F.array_join(F.slice("__toks", 1, n), " ").alias("__head"),
        F.array_join(F.slice("__toks", -n, n), " ").alias("__tail"),
    )
    a = keyed.select(F.col(id_col).alias("doc_a"), F.col("__tail").alias("boundary"))
    b = keyed.select(F.col(id_col).alias("doc_b"), F.col("__head").alias("boundary"))
    return (
        a.join(b, "boundary")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "boundary")
    )
