"""LLM-training-data pipeline queries over documents/embeddings
(project brief; SURVEY.md §7 Phase 5).

SQL-expressible operators carry a DuckDB oracle. MinHash, SimHash and
winnowing hash with md5, which DuckDB has too, so their oracles
replicate signatures and banding exactly; tests/test_dedup_similarity.py
checks MinHash/SimHash recall against exact brute-force results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
    tokens,
    winnowing_fingerprints,
)
from ..localrel import local_df
from ..operators.components import connected_components
from ..operators.curation import (
    contamination_matrix,
    decontaminate,
    mixture_sample,
    pii_redact,
    repetition_stats,
    split_report,
    stratified_split,
    word_topk,
)
from ..operators.dedup import (
    exact_dedup,
    incremental_dedup_replay,
    levenshtein_near_pairs,
    minhash_levenshtein_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.multimodal import (
    documents_as_assets,
    extract_features,
    frame_sample_plan,
    resize_images,
)
from ..operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from .io import load_table as _t


# ------------------------------------------------------------- dedup
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.8
    )


ORACLE_DEDUP_NGRAM_JACCARD = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A,B) = |sh(A)∩sh(B)| / |sh(A)|
    (operators/dedup.containment_pairs) — the sub-document-duplication
    detector a union-normalized Jaccard threshold structurally misses
    (ROADMAP r7 candidate, landed in r6). Same inverted-index
    candidate shape as the Jaccard path; oracle is the definitional
    shingle-set division."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), n=5, threshold=0.6
    )


ORACLE_DEDUP_CONTAINMENT = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, ROUND(i * 1.0 / sa.n, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE ROUND(i * 1.0 / sa.n, 6) >= 0.6
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with the engine-independent md5_64
    shingle hash: signatures, band keys, candidate generation and the
    eq/k estimate are all deterministic integer functions, replicated
    exactly by the generated SQL oracle (the LSH banding stays lossy vs
    TRUE Jaccard — recall is asserted separately in tests — but the
    banded OUTPUT itself is exact)."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=5, k=128, bands=32, threshold=0.5
    )


def _minhash_cand_ctes(n: int = 5, k: int = 128, bands: int = 32) -> str:
    """Shared DuckDB CTE chain replicating minhash_signatures(md5_64) +
    _minhash_band_candidates: shingle hash -> k-permutation signature ->
    banded buckets -> DISTINCT candidate pairs. The 128 multiply-add
    permutation constants come from the SAME splitmix64 stream as the
    Arrow kernel (single source of truth). Consumed by both the
    est-jaccard oracle (minhash_lsh) and the levenshtein-verify oracle
    (minhash_levenshtein)."""
    from ..operators.dedup import minhash_permutation_constants

    mult, add = minhash_permutation_constants(k)
    r = k // bands
    perm_rows = ",\n          ".join(
        f"({j}, {m}::HUGEINT, {a}::HUGEINT)"
        for j, (m, a) in enumerate(zip(mult, add))
    )
    return f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents
  WHERE len(string_split(text, ' ')) >= {n}
),
grams AS (
  SELECT doc_id,
         unnest([substr(md5(array_to_string(w[i:i+{n - 1}], ' ')), 1, 8)
                 FOR i IN range(1, len(w) - {n - 1} + 1)]) AS h8
  FROM toks
),
f32 AS (
  SELECT doc_id,
         list_sum([(strpos('0123456789abcdef', substr(h8, c, 1)) - 1)
                    * (CAST(1 AS BIGINT) << (4 * (8 - c)))
                   FOR c IN range(1, 9)]) AS f
  FROM grams
),
perm(j, m, a) AS (
  VALUES {perm_rows}
),
mins AS (
  SELECT doc_id, j,
         min((CAST(f AS HUGEINT) * m + a) % 4294967296) AS v
  FROM f32, perm
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id, list(CAST(v AS BIGINT) ORDER BY j) AS s
  FROM mins GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(s[b*{r}+1 : b*{r}+{r}], ',')) AS key
  FROM sig, unnest(range(0, {bands})) AS t(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
  WHERE x.doc_id < y.doc_id
)"""


def _oracle_minhash_lsh(n: int = 5, k: int = 128, bands: int = 32) -> str:
    return f"""
WITH {_minhash_cand_ctes(n, k, bands)},
est AS (
  SELECT doc_a, doc_b,
         CAST(list_sum([CASE WHEN sa.s[i] = sb.s[i] THEN 1 ELSE 0 END
                        FOR i IN range(1, {k} + 1)]) AS BIGINT)
           / {k}.0 AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


def _oracle_minhash_levenshtein(
    n: int = 5, k: int = 128, bands: int = 32, max_dist: int = 60
) -> str:
    """DuckDB replica of minhash_levenshtein_pairs(md5_64): the SAME
    candidate CTE chain as the minhash oracle, then DuckDB's own
    levenshtein() as the verifier — an independent edit-distance
    implementation, so a hash match checks both the banding and the
    verify stage."""
    return f"""
WITH {_minhash_cand_ctes(n, k, bands)}
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM cand c
JOIN documents a ON a.doc_id = c.doc_a
JOIN documents b ON b.doc_id = c.doc_b
WHERE levenshtein(a.text, b.text) <= {max_dist}
"""


ORACLE_DEDUP_MINHASH_LSH = _oracle_minhash_lsh()
ORACLE_DEDUP_MINHASH_LEVENSHTEIN = _oracle_minhash_levenshtein()


def q_dedup_minhash_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale edit-distance composition VERDICT r4 asked to turn
    from prose into an executed plan: MinHash banded-LSH proposes
    candidate pairs (O(docs·bands) shuffle of (id, band, key) rows),
    exact thresholded Levenshtein verifies them (O(candidates) dynamic
    programs) — unlike dedup_levenshtein's length-band blocking, both
    stages stay ~linear in the corpus at fixed near-dup density
    (SCALE_SF1.md). md5_64 keeps the banding engine-independent; the
    DuckDB oracle regenerates the same candidates from the shared
    splitmix64 constants and verifies with DuckDB's OWN levenshtein(),
    so a hash match checks banding and verifier independently (tests
    pin recall)."""
    return minhash_levenshtein_pairs(
        _t(spark, sf_dir, "documents"), n=5, k=128, bands=32, max_dist=60
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the engine-independent md5_64 token
    hash. Because max_hamming < blocks makes the banding LOSSLESS
    (pigeonhole), the banded result is exactly the all-pairs set with
    hamming <= 3 — which is what the oracle computes directly, so a
    hash match proves both the signatures and the completeness of the
    banded candidate generation."""
    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


# SimHash replicated in SQL: per token, bit j of the 64-bit hash (the
# first 16 md5 hex chars big-endian) lives in hex char 16 - j//4 at
# within-nibble position j%4. Signature bit = majority vote
# (2*sum(bit) > n_tokens, ties -> 0, matching the kernel's strict
# sign test). Pairs via two 32-bit halves + xor/bit_count.
ORACLE_DEDUP_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t
  FROM documents
),
th AS (SELECT doc_id, md5(t) AS hx FROM toks),
bits AS (
  SELECT doc_id, j,
         CASE WHEN 2 * SUM(
                (strpos('0123456789abcdef', substr(hx, 16 - j // 4, 1)) - 1)
                 // (1 << (j % 4)) % 2
              ) > COUNT(*)
              THEN 1 ELSE 0 END AS b
  FROM th, unnest(range(0, 64)) AS u(j)
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN j < 32
                       THEN b * (CAST(1 AS BIGINT) << j)
                       ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN j >= 32
                       THEN b * (CAST(1 AS BIGINT) << (j - 32))
                       ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
         AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
"""


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with exact length-band blocking
    (operators/dedup.py::levenshtein_near_pairs). The oracle is the
    unblocked all-pairs formulation — a hash match proves the blocking
    loses no pairs.

    Runs on a deterministic 1-in-5 subset: all-pairs edit distance is
    O(n² · d · L) by nature, and the at-scale composition is
    levenshtein as a VERIFIER on MinHash/SimHash candidate pairs (see
    levenshtein_near_pairs docstring), not a corpus-wide blocker."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return levenshtein_near_pairs(docs, max_dist=60)


ORACLE_DEDUP_LEVENSHTEIN = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM documents a JOIN documents b
  ON a.doc_id < b.doc_id
 AND abs(len(a.text) - len(b.text)) <= 60
WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
  AND levenshtein(a.text, b.text) <= 60
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster formation: exact-cosine near-dup pairs → connected
    components (operators/components.py, O(log n) pointer-jumping
    rounds). Every vector gets a cluster id = min vec_id reachable
    through the near-dup graph; singletons cluster with themselves.

    The DuckDB oracle computes the same components with a recursive-CTE
    transitive closure — an independent algorithm, so a hash match
    checks the clustering itself, not the implementation.
    """
    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.35, exact=True)
    return connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        nodes=emb,
        node_col="vec_id",
    ).select(F.col("node").alias("vec_id"), "cluster_id")


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
           SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS aa,
           SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS bb
    FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 unnest(a.embedding) AS x, unnest(b.embedding) AS y
          FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    GROUP BY id_a, id_b)
  WHERE ROUND(dot / (sqrt(aa) * sqrt(bb)), 6) >= 0.35
),
und AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT vec_id AS n FROM embeddings),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a)
SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


def q_dedup_clusters_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of ``dedup_clusters`` (VERDICT r1 #3): connected
    components fed by *approximate candidate* near-dup pairs instead
    of exact all-pairs GEMM — the plan a user should copy at corpus
    scale. Every candidate's true cosine is verified before it becomes
    an edge, so precision is exact and only recall is approximate.

    Candidate generation is threshold-REGIME-dependent, and this entry
    operates where ANN generators actually work — production near-dup
    thresholds (0.8): random-hyperplane LSH at the 8-plane × 6-table
    default gives ~0.97 expected pair recall, shuffling O(n·tables)
    bucket keys. The low-threshold regime of ``dedup_clusters`` (0.35,
    θ ≈ 69°) was measured and rejected for ANN generation: hyperplane
    buckets need ~145 tables for 95% recall (or, with permissive
    3-plane buckets, blow candidate volume past the exact GEMM — 147 s
    vs 5 s at sf0.1), and IVF multiprobe needs nprobe²≈k probes
    (candidate volume back at n²) because a cos-0.35 graph's edges
    span cells — that dense-graph regime is exactly where the chunked
    BLAS all-pairs of ``dedup_clusters`` is the right tool.

    Oracle: the EXACT cos>=0.8 clustering in SQL. Every LSH candidate
    is cosine-verified before becoming an edge, so the banded output
    can differ from exact only by a missed true pair — and the corpus
    has no natural cos >= 0.8 pairs (every component a singleton), so
    on this data the match is exact and deterministic (seeded
    hyperplanes, fixed input). A hash match therefore proves zero
    FALSE-POSITIVE edges end to end; the recall direction is covered
    by the ≥0.95 cluster-pair gate on seeded PLANTED near-duplicates
    (tests/test_dedup_similarity.py).
    """
    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.8, exact=False)
    return connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        nodes=emb,
        node_col="vec_id",
    ).select(F.col("node").alias("vec_id"), "cluster_id")


# Exact cos>=0.8 transitive closure — same formulation as
# ORACLE_DEDUP_CLUSTERS at the production near-dup threshold.
ORACLE_DEDUP_CLUSTERS_ANN = ORACLE_DEDUP_CLUSTERS.replace(">= 0.35", ">= 0.8")
# a reformatted parent threshold would make the replace a silent no-op
# and this oracle a wrong-threshold clustering — fail at import instead
assert ">= 0.8" in ORACLE_DEDUP_CLUSTERS_ANN
assert ">= 0.35" not in ORACLE_DEDUP_CLUSTERS_ANN


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: exact dedup (keep min doc_id
    per content hash) → quality gate (keep=true) → language id → token
    counts, in one composed DataFrame plan. Every stage is a pure
    per-row projection (functions/text.py exposes the stage column
    expressions), so the whole battery evaluates in ONE pass over
    documents: one projection + keep filter, then one semi join
    against the dedup winners. Before r12 each stage re-scanned
    documents and re-joined on doc_id — five corpus scans and four
    doc_id exchanges for per-row arithmetic (guide §1.2: fix the
    distributed algorithm first); the values are identical because
    the stage expressions are the exact ones the standalone operators
    select, and each stage emitted exactly one row per doc_id."""
    docs = _t(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    from ..functions.text import (  # noqa: PLC0415
        language_columns,
        quality_columns,
        token_stat_columns,
    )

    q = quality_columns("text")
    lang = language_columns("text")
    toks = token_stat_columns("text")
    staged = docs.select(
        "doc_id",
        lang["pred_lang"].alias("pred_lang"),
        toks["n_tokens"].alias("n_tokens"),
        toks["n_bpe_tokens"].alias("n_bpe_tokens"),
        q["quality_score"].alias("quality_score"),
        q["keep"].alias("keep"),
    ).where(F.col("keep"))
    return staged.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "pred_lang", "n_tokens", "n_bpe_tokens", "quality_score"
    )


def _oracle_curation() -> str:
    return f"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
q AS ({ORACLE_TEXT_QUALITY}),
l AS ({ORACLE_LANG_ID}),
t AS ({ORACLE_TEXT_TOKEN_STATS})
SELECT q.doc_id, l.pred_lang, t.n_tokens, t.n_bpe_tokens, q.quality_score
FROM q
JOIN keepers USING (doc_id)
JOIN l ON q.doc_id = l.doc_id
JOIN t ON q.doc_id = t.doc_id
WHERE q.keep
"""


# --------------------------------------------------------- similarity
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


ORACLE_SIMILARITY_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
un AS (SELECT qid, nid, unnest(qe) AS x, unnest(ce) AS y
       FROM q, c WHERE nid != qid),
dots AS (SELECT qid, nid,
                SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
                SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
         FROM un GROUP BY qid, nid),
scored AS (SELECT qid AS query_id, nid AS neighbor_id,
                  ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS cosine
           FROM dots),
r AS (SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored)
SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 10
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, exact=True
    )


ORACLE_EMBEDDING_NEAR_DUP = """
WITH un AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   unnest(a.embedding) AS x, unnest(b.embedding) AS y
            FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
dots AS (SELECT id_a, id_b,
                SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS aa,
                SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS bb
         FROM un GROUP BY id_a, id_b)
SELECT id_a, id_b, ROUND(dot / (sqrt(aa) * sqrt(bb)), 6) AS cosine
FROM dots WHERE ROUND(dot / (sqrt(aa) * sqrt(bb)), 6) >= 0.3
"""


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle as of round 5 (previously rows-only): exact_bits=True
    makes every bucket-bit decision exact integer arithmetic — 16-bit
    hyperplane weights from the shared splitmix64 stream
    (operators/similarity.py lsh_plane_int_constants) against
    round(v*1e6)-quantized vectors — so the banded candidate set is a
    deterministic integer function and the generated DuckDB oracle
    (_oracle_similarity_lsh_topk, same inlined constants) replicates
    the OUTPUT exactly. LSH stays approximate vs TRUE top-k — recall
    against cosine_topk is asserted separately in tests, for BOTH the
    float scale path and this oracle-parity path."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10, n_planes=6, n_tables=8,
        exact_bits=True,
    )


def _oracle_similarity_lsh_topk(
    dim: int = 64, n_planes: int = 6, n_tables: int = 8, k: int = 10
) -> str:
    """DuckDB replica of q_similarity_lsh_topk: the 48 integer
    hyperplanes are inlined from lsh_plane_int_constants — the SAME
    splitmix64 stream the Arrow kernel uses (single source of truth,
    like minhash_permutation_constants above). Quantization mirrors the
    kernel op-for-op: CAST(x AS DOUBLE)*1000000 + 0.5 then FLOOR are
    each single IEEE ops (no reduction order), and the projection sum
    is pure BIGINT — bit-identical across engines."""
    from ..operators.similarity import lsh_plane_int_constants

    planes = lsh_plane_int_constants(dim, n_planes, n_tables)
    plane_rows = ",\n         ".join(
        f"({t}, {p}, {planes[t][p]})"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
planes(t, p, w) AS (
  VALUES {plane_rows}
),
bits AS (
  SELECT v.vec_id, pl.t, pl.p,
         CASE WHEN list_sum([v.q[i] * pl.w[i] FOR i IN range(1, {dim} + 1)]) >= 0
              THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END AS bit
  FROM vq v, planes pl
),
keys AS (
  SELECT vec_id, t, SUM(bit) AS bucket FROM bits GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.t = c.t AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
un AS (
  SELECT cand.query_id, cand.neighbor_id,
         unnest(a.embedding) AS x, unnest(b.embedding) AS y
  FROM cand
  JOIN embeddings a ON a.vec_id = cand.query_id
  JOIN embeddings b ON b.vec_id = cand.neighbor_id
),
dots AS (
  SELECT query_id, neighbor_id,
         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
         SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
  FROM un GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) AS cosine
  FROM dots
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= {k}
"""


# Precision note (review finding, round 5): the bucket BITS are exact
# integers cross-engine, but the final rank rides ROUND(cosine, 6) —
# numpy GEMM accumulation on the Spark side vs sequential SUM in
# DuckDB. Measured: embedding components are full-precision floats
# (no decimal grid), so a 6dp boundary hit needs the true cosine
# within ~1e-14 of a 5e-7 grid point — ~1e-8 per candidate pair,
# ~1e-5 per driver run; not the structured-boundary class that made
# seasonal_decompose flake. Accepted as-is; if it ever trips, the fix
# is fixed-point cosine rank (scaled-int dot products), not a wider
# ROUND.
ORACLE_SIMILARITY_LSH_TOPK = _oracle_similarity_lsh_topk()


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (IVF is approximate by construction); recall vs exact
    top-k asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10, n_centroids=16, nprobe=4
    )


# ------------------------------------------------------- text analysis
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_t(spark, sf_dir, "documents"))


ORACLE_TEXT_TOKEN_STATS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
         regexp_extract_all(text, '[A-Za-zÀ-ÿ]+|[0-9]+|[^\sA-Za-zÀ-ÿ0-9]') AS bpe,
         len(regexp_replace(text, '\s+', '', 'g')) AS total_len
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(bpe) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       ROUND(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6) AS distinct_ratio,
       ROUND(total_len * 1.0 / greatest(len(toks), 1), 6) AS mean_token_len
FROM t
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_t(spark, sf_dir, "documents"))


ORACLE_TEXT_QUALITY = r"""
WITH t AS (
  SELECT doc_id, len(text) AS n_chars,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
         len(text) - len(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct,
         len(regexp_replace(text, '\s+', '', 'g')) AS stripped_len
  FROM documents
), m AS (
  SELECT doc_id, n_chars,
         CAST(len(toks) AS INT) AS n_tokens,
         ROUND(punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
         ROUND(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6) AS distinct_ratio,
         ROUND(stripped_len * 1.0 / greatest(len(toks), 1), 6) AS mean_token_len
  FROM t
), s AS (
  SELECT *, ROUND(
    (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12 THEN 0.25 ELSE 0.0 END)
    + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
    + least(distinct_ratio, 0.25), 6) AS quality_score
  FROM m
)
SELECT doc_id, n_chars, n_tokens, punct_ratio, distinct_ratio,
       mean_token_len, quality_score,
       quality_score >= 0.5 AND n_tokens >= 10 AS keep
FROM s
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_t(spark, sf_dir, "documents"))


def _lang_in(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _oracle_lang_id() -> str:
    from ..functions.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score_exprs = ",\n         ".join(
        f"ROUND(len(list_filter(toks, x -> x IN ({_lang_in(STOPWORDS[lang])})))"
        f" * 1.0 / greatest(len(toks), 1), 6) AS score_{lang}"
        for lang in langs
    )
    mx = f"greatest({', '.join('score_' + lang for lang in langs)})"
    pick = " ".join(
        f"WHEN score_{lang} = __mx THEN '{lang}'" for lang in langs
    )
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         {score_exprs}
  FROM t
), m AS (SELECT *, {mx} AS __mx FROM s)
SELECT doc_id, {', '.join('score_' + lang for lang in langs)},
       CASE WHEN __mx = 0 THEN 'und' {pick} END AS pred_lang
FROM m
"""


ORACLE_LANG_ID = _oracle_lang_id()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_t(spark, sf_dir, "documents"))


ORACLE_DOC_FINGERPRINT = r"""
SELECT doc_id,
       md5(array_to_string(
         list_sort(list_distinct(
           list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))),
         ' ')) AS fingerprint
FROM documents
"""


def q_dedup_ledger_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-ledger replay (ROADMAP r6 candidate, landed
    early): documents keyed by the bag-of-words fingerprint arrive in
    4 batches (doc_id % 4); the ledger replays them in order
    (operators/dedup.py::incremental_dedup_replay). The oracle
    computes the SAME keeper with one global window — a hash match
    proves the incremental path equals the batch recompute at every
    batch boundary."""
    docs = _t(spark, sf_dir, "documents")
    keyed = fingerprint(docs).withColumn(
        "batch_id", F.pmod(F.col("doc_id"), F.lit(4))
    )
    return incremental_dedup_replay(
        keyed, key_col="fingerprint", batch_values=[0, 1, 2, 3]
    )


ORACLE_DEDUP_LEDGER_REPLAY = r"""
WITH h AS (
  SELECT doc_id, doc_id % 4 AS batch_id,
         md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))),
           ' ')) AS fp
  FROM documents)
SELECT doc_id, batch_id,
       first_value(doc_id) OVER (
         PARTITION BY fp ORDER BY batch_id, doc_id) AS keeper_id
FROM h
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints with the engine-independent md5_32 k-gram
    hash so the full algorithm (k-gram windows, window minima, distinct,
    explode) is oracle-checkable."""
    return winnowing_fingerprints(_t(spark, sf_dir, "documents"))


# Same winnowing computation in DuckDB: 5-gram md5-prefix hashes,
# 4-wide window minima (lexicographic min == numeric min on fixed-width
# lowercase hex), distinct per doc, exploded.
ORACLE_WINNOW_FINGERPRINTS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(w) - 4 > 0
              THEN [substr(md5(array_to_string(w[i:i+4], ' ')), 1, 8)
                    FOR i IN range(1, len(w) - 4 + 1)]
              ELSE []::VARCHAR[] END AS g
  FROM toks
),
wm AS (
  SELECT doc_id,
         CASE WHEN len(g) - 3 > 0
              THEN list_distinct([list_min(g[i:i+3])
                                  FOR i IN range(1, len(g) - 3 + 1)])
              ELSE []::VARCHAR[] END AS fps
  FROM grams
)
SELECT doc_id, unnest(fps) AS fp FROM wm
"""


ORACLE_CURATION_PIPELINE = _oracle_curation()


# ---------------------------------------------------------- curation
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 5-gram with the
    deterministic pseudo-benchmark set (doc_id % 97 == 0). Benchmark
    shingles broadcast; corpus scan stays shuffle-free."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=5)


ORACLE_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
  FROM documents
),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
sizes AS (SELECT doc_id, CAST(count(*) AS INT) AS n_shingles FROM sh GROUP BY doc_id),
ov AS (SELECT doc_id, count(*) AS n_overlap FROM sh JOIN bench USING (s) GROUP BY doc_id)
SELECT ov.doc_id, n_overlap, n_shingles,
       ROUND(n_overlap * 1.0 / greatest(n_shingles, 1), 6) AS contamination
FROM ov JOIN sizes USING (doc_id)
"""


def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x benchmark-source contamination telemetry (ROADMAP r6
    candidate, landed early): per (corpus source, benchmark source),
    contaminated-doc count + total (doc, distinct-shingle) hits
    against the deterministic pseudo-benchmark (doc_id % 97 == 0).
    Benchmark pairs broadcast; corpus scan map-only; two-level fold —
    no countDistinct Expand on fact-scale rows."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_matrix(docs, bench, n=5)


ORACLE_CONTAMINATION_MATRIX = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
  FROM documents
),
sh AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
bench AS (SELECT DISTINCT s, source AS bench_source
          FROM sh WHERE doc_id % 97 = 0),
per_doc AS (
  SELECT doc_id, sh.source, bench_source, count(*) AS hits
  FROM sh JOIN bench USING (s)
  GROUP BY 1, 2, 3
)
SELECT source, bench_source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hits) AS BIGINT) AS n_overlap
FROM per_doc GROUP BY 1, 2
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test assignment (md5
    bucket of doc_id) — pure projection, no shuffle, reproducible on any
    engine."""
    return stratified_split(_t(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


ORACLE_STRATIFIED_SPLIT = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance check: per-(split, lang) counts and mean size."""
    return split_report(_t(spark, sf_dir, "documents"))


ORACLE_SPLIT_REPORT = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, ROUND(avg(n_chars), 6) AS avg_size
FROM documents GROUP BY 1, 2
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the events.props payload (email / IPv4 /
    long-digit-run) with per-row redaction counts."""
    return pii_redact(
        _t(spark, sf_dir, "events"), text_col="props", id_col="event_id"
    )


ORACLE_PII_REDACT = r"""
WITH step AS (
  SELECT event_id,
         regexp_replace(
           regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS no_email_ip,
         CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
         + CAST(len(regexp_extract_all(props, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT)
           AS n_email_ip
  FROM events
)
SELECT event_id,
       regexp_replace(no_email_ip, '\d{6,}', '<NUM>', 'g') AS redacted,
       n_email_ip + CAST(len(regexp_extract_all(no_email_ip, '\d{6,}')) AS INT) AS n_redactions
FROM step
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals — Spark side is shuffle-free
    (in-row histogram via higher-order functions); the oracle recomputes
    with an explode + two-level GROUP BY, an independent algorithm."""
    return repetition_stats(_t(spark, sf_dir, "documents"))


ORACLE_REPETITION_STATS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS w
  FROM documents
),
ex AS (SELECT doc_id, unnest(w) AS word FROM toks),
cnts AS (SELECT doc_id, word, count(*) AS c FROM ex GROUP BY 1, 2),
agg AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_tok, count(*) AS n_dis
        FROM cnts GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(a.n_tok, 0) AS INT) AS n_tokens,
       CAST(coalesce(a.top_cnt, 0) AS INT) AS top_word_count,
       ROUND(coalesce(a.top_cnt, 0) * 1.0 / greatest(coalesce(a.n_tok, 0), 1), 6) AS top_word_frac,
       ROUND((coalesce(a.n_tok, 0) - coalesce(a.n_dis, 0)) * 1.0 / greatest(coalesce(a.n_tok, 0), 1), 6) AS dup_word_frac,
       ROUND(coalesce(a.top_cnt, 0) * 1.0 / greatest(coalesce(a.n_tok, 0), 1), 6) <= 0.2 AS keep
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def q_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 vocabulary (two-phase count, total-order tie-break)."""
    return word_topk(_t(spark, sf_dir, "documents"), k=20)


ORACLE_WORD_TOPK = r"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> len(x) > 0)) AS word
      FROM documents)
GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20
"""


MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
MIX_DEFAULT = 0.1


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing sampler: per-source keep rates via
    content-addressed md5 thresholds (no rand(); reproducible and
    nested under rate increases)."""
    return mixture_sample(
        _t(spark, sf_dir, "documents"), MIX_RATES, default_rate=MIX_DEFAULT
    ).select("doc_id", "source")


def _oracle_mixture() -> str:
    from ..operators.curation import _hex_threshold

    whens = " ".join(
        f"WHEN source = '{s}' THEN '{_hex_threshold(r)}'"
        for s, r in sorted(MIX_RATES.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      (CASE {whens} ELSE '{_hex_threshold(MIX_DEFAULT)}' END)
"""


ORACLE_MIXTURE_SAMPLE = _oracle_mixture()


# -------------------------------------------------------- multimodal
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over the multimodal plumbing
    (mapInPandas, Arrow batches). The fake decode is a deterministic
    pure function of the payload bytes with exact-integer rounding, so
    the whole path — UTF-8 encode, byte histogram, mean, entropy — is
    oracle-checkable in DuckDB via hex-nibble extraction."""
    return extract_features(
        documents_as_assets(_t(spark, sf_dir, "documents")), fake=True
    ).drop("feature")


# The fake decode replicated in SQL: bytes of the UTF-8 payload come
# from hex() nibble pairs; the 16-bucket histogram key is the HIGH
# nibble (byte*16//256 == byte >> 4); mean uses the same exact-integer
# half-up microunit rounding as _round6_exact.
ORACLE_MULTIMODAL_FEATURES = r"""
WITH b AS (
  SELECT doc_id AS asset_id,
         hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
nib AS (
  SELECT asset_id, n,
         [strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1
          FOR i IN range(1, n + 1)] AS hi,
         [strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1
          FOR i IN range(1, n + 1)] AS lo
  FROM b
),
agg AS (
  SELECT asset_id, n,
         16 * list_sum(hi) + list_sum(lo) AS total,
         [len(list_filter(hi, x -> x = k)) FOR k IN range(0, 16)] AS counts
  FROM nib
)
SELECT asset_id,
       'image' AS modality,
       CAST(n AS INT) AS n_bytes,
       CASE WHEN n = 0 THEN 0.0
            ELSE CAST((2000000 * total + n) // (2 * n) AS BIGINT) / 1000000.0
       END AS byte_mean,
       CASE WHEN n = 0 THEN 0.0
            ELSE ROUND(-list_sum([
                   CASE WHEN c > 0
                        THEN (c * 1.0 / n) * log2(c * 1.0 / n)
                        ELSE 0.0 END
                   FOR c IN counts]), 6)
       END AS byte_entropy
FROM agg
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing over mapInPandas (ROADMAP r6 candidate,
    landed early): the deterministic byte-fake nearest-neighbor-samples
    each payload to an 8x8 byte grid (operators/multimodal.py::
    resize_images; real Pillow resize behind the same schema when
    importable). The binary output is projected to an int array
    JVM-side (hex pair -> conv) so the oracle can rebuild the exact
    sampled bytes from hex nibbles — same technique as
    multimodal_features. posexploded to (asset_id, width, height, pos,
    byte) rows: array-typed output columns crash the driver
    canonicalizer (VERDICT r5 #1; caught by the canon gate BEFORE this
    entry's first driver slot)."""
    resized = resize_images(
        documents_as_assets(_t(spark, sf_dir, "documents")),
        width=8,
        height=8,
        fake=True,
    )
    return resized.select(
        "asset_id",
        "width",
        "height",
        F.posexplode(
            F.expr(
                "transform(sequence(1, 64), i -> "
                "cast(conv(substring(hex(payload), 2*i - 1, 2), 16, 10) as int))"
            )
        ).alias("pos", "byte"),
    )


# The fake resize replicated in SQL: byte j of the output samples input
# byte floor(j * max(n/64, 1e-9)) clamped to n-1 (Python int() on a
# non-negative double == floor; both engines do one IEEE double
# multiply, so the index math is bit-identical). Bytes come from hex
# nibble pairs as in ORACLE_MULTIMODAL_FEATURES; empty payloads resize
# to 64 zero bytes.
ORACLE_MULTIMODAL_RESIZE = r"""
WITH b AS (
  -- coalesce matches the operator's bytes(payload or b''): a NULL
  -- text resizes to 64 zero bytes, not 64 NULLs
  SELECT doc_id AS asset_id,
         hex(encode(coalesce(text, ''))) AS h,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
nib AS (
  SELECT asset_id, n,
         [(strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
          + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1
          FOR i IN range(1, n + 1)] AS ba
  FROM b
)
SELECT asset_id,
       8 AS width,
       8 AS height,
       CAST(t.range AS INT) AS pos,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE ba[least(CAST(floor(t.range * greatest(n / 64.0,
                                                             0.000000001))
                                    AS BIGINT), n - 1) + 1]
            END AS INT) AS byte
FROM nib, range(0, 64) t
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over typed video metadata (ROADMAP r6
    candidate, landed early): documents masquerade as video assets
    with duration_ms = n_chars; the operator computes the frame
    timestamps to decode (every 100 ms) purely columnar — explode over
    an in-row sequence, no UDF, no shuffle
    (operators/multimodal.py::frame_sample_plan)."""
    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.col("n_chars").alias("duration_ms"),
    )
    return frame_sample_plan(assets, every_ms=100)


# n_frames truncates duration/every toward zero (Spark double->int
# cast == floor for non-negative); a sub-interval duration still emits
# frame 0 (greatest(n-1, 0)), matching the operator.
ORACLE_FRAME_SAMPLE = r"""
SELECT doc_id AS asset_id,
       CAST(unnest(range(0,
              greatest(CAST(floor(n_chars / 100.0) AS BIGINT) - 1, 0) + 1))
            * 100 AS INT) AS frame_ts_ms
FROM documents
"""


# ------------------------------------------------------------ tf-idf
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (keyword extraction for corpus exploration / topic labeling).

    Two shuffles total: (doc, term) counts, then term -> document
    frequency joined back (df table is vocabulary-sized, broadcast at
    any corpus scale). Deterministic tie-break (score desc, term asc).
    idf = ln((N + 1) / (df + 1)) + 1."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; one count job on the driver
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "rank", "term", "tfidf")
    )


def _oracle_tfidf() -> str:
    return r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> len(x) > 0)) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf, dfreq, n WHERE tf.term = dfreq.term
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 5
"""


ORACLE_TFIDF_TOPTERMS = _oracle_tfidf()


# ------------------------------------------------- sequence packing
PACK_BUDGET = 512
PACK_SHARDS = 8


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): every doc
    assigned a (shard, pack_no, pack_pos) by greedy contiguous fill."""
    from ..operators.packing import sequence_pack

    return sequence_pack(
        _t(spark, sf_dir, "documents"), budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )


_PACK_CTE = rf"""
WITH d AS (
  SELECT doc_id, source, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         len(list_filter(string_split_regex(text, '\s+'),
                         x -> len(x) > 0)) AS n_tokens
  FROM documents),
p AS (
  SELECT doc_id, source, shard, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {PACK_BUDGET}.0) AS INT) AS pack_no
  FROM d)
"""

ORACLE_SEQUENCE_PACK = (
    _PACK_CTE
    + """
SELECT doc_id, source, shard, n_tokens, pack_no,
       CAST(ROW_NUMBER() OVER (PARTITION BY source, shard, pack_no
                               ORDER BY doc_id) - 1 AS INT) AS pack_pos
FROM p
"""
)


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack fill report over sequence_pack output."""
    from ..operators.packing import pack_stats, sequence_pack

    packed = sequence_pack(
        _t(spark, sf_dir, "documents"), budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )
    return pack_stats(packed, budget=PACK_BUDGET)


ORACLE_PACK_STATS = (
    _PACK_CTE
    + f"""
SELECT source, shard, pack_no, count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       ROUND(SUM(n_tokens) / {PACK_BUDGET}.0, 6) AS fill_ratio
FROM p GROUP BY source, shard, pack_no
"""
)


# -------------------------------------------- frequency heavy hitters
def _words(
    spark: SparkSession, sf_dir: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """One (word) row per whitespace token, lowercased, empties
    dropped — THE tokenization every vocabulary query shares (fix it
    here, not per-query). ``keep_cols`` carries document columns
    (e.g. source) alongside the exploded words."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        *keep_cols,
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0
            )
        ).alias("word"),
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact support-threshold frequent items over the corpus
    vocabulary (operators/sketches.py)."""
    from ..operators.sketches import heavy_hitters

    return heavy_hitters(_words(spark, sf_dir), "word", min_share=0.002)


ORACLE_HEAVY_HITTERS = r"""
WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> len(x) > 0)) AS item
           FROM documents),
c AS (SELECT item, count(*) AS cnt FROM w GROUP BY item),
t AS (SELECT sum(cnt) AS total FROM c)
SELECT item, cnt, ROUND(cnt * 1.0 / total, 6) AS share
FROM c, t WHERE ROUND(cnt * 1.0 / total, 6) >= 0.002
"""


def q_misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (summary weights depend on input partitioning); the
    Misra-Gries superset guarantee vs exact heavy hitters is asserted
    in tests/test_packing_sketches.py."""
    from ..operators.sketches import misra_gries_topk

    return misra_gries_topk(_words(spark, sf_dir), "word", k=32)


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct counting per group — the sketch
    complement to Misra-Gries top-k: per (source), approximate distinct
    vocabulary size at 2% target rsd next to the exact count.

    Scale: approx_count_distinct is a mergeable fixed-size sketch —
    map-side partials, one tiny shuffle, O(1) memory per group — where
    exact COUNT(DISTINCT) must shuffle every (group, word) pair. The
    exact column here exists for the error measurement; at 100 TB
    you'd drop it. Rows-only (sketch values are implementation-
    specific); the ≤5% relative-error gate vs the exact count is
    tests/test_packing_sketches.py::test_approx_distinct_error_bounded.
    """
    per_source = _words(spark, sf_dir, keep_cols=("source",))
    return per_source.groupBy("source").agg(
        F.approx_count_distinct("word", rsd=0.02).alias("approx_vocab"),
        F.count_distinct("word").alias("exact_vocab"),
    )


# ---------------------------------------------------- semantic dedup
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision per vector (exact pair path — the
    IVF-clustered scale path is asserted equal to it in tests)."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.5, exact=True
    )


ORACLE_SEMANTIC_DEDUP = """
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
           SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS aa,
           SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS bb
    FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 unnest(a.embedding) AS x, unnest(b.embedding) AS y
          FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    GROUP BY id_a, id_b)
  WHERE ROUND(dot / (sqrt(aa) * sqrt(bb)), 6) >= 0.5
),
und AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT vec_id AS n FROM embeddings),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
comp AS (SELECT src AS vec_id, min(dst) AS cluster_id
         FROM reach GROUP BY src)
SELECT vec_id, cluster_id, vec_id = cluster_id AS keep,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


# ------------------------------------------------- document chunking
CHUNK_SIZE = 24
CHUNK_OVERLAP = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunks (operators/chunking.py): pure
    projection + posexplode, zero shuffle."""
    from ..operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )


_CHUNK_STEP = CHUNK_SIZE - CHUNK_OVERLAP

ORACLE_CHUNK_DOCUMENTS = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
  FROM documents),
c AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
g AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(
           0, CAST(ceil(greatest(n - {CHUNK_SIZE}, 0) / {_CHUNK_STEP}.0) AS INT)
         )) AS chunk_no
  FROM c)
SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
       CAST(least({CHUNK_SIZE}, n - chunk_no * {_CHUNK_STEP}) AS INT)
         AS n_tokens,
       array_to_string(
         toks[chunk_no * {_CHUNK_STEP} + 1 : chunk_no * {_CHUNK_STEP} + {CHUNK_SIZE}],
         ' ') AS chunk_text
FROM g
"""


# --------------------------------------------------- BM25 retrieval
BM25_TERMS = ["spark", "join", "window"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k (operators/retrieval.py): per-term tf as in-row
    array counts (no explode), one single-row stats aggregate, TakeOrdered."""
    from ..operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        BM25_TERMS,
        k1=BM25_K1,
        b=BM25_B,
        topk=BM25_TOPK,
    )


def _oracle_bm25() -> str:
    tf = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    dfs = ", ".join(
        f"count(CASE WHEN tf_{i} > 0 THEN 1 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    k1, b = BM25_K1, BM25_B
    parts = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1)"
        f" * tf_{i} * ({k1} + 1)"
        f" / (tf_{i} + {k1} * (1 - {b} + {b} * dl / avgdl)))"
        for i in range(len(BM25_TERMS))
    )
    return rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS toks
  FROM documents),
s AS (
  SELECT doc_id, len(toks) AS dl,
         {tf}
  FROM d),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {dfs} FROM s),
scored AS (
  SELECT doc_id, round({parts}, 6) AS score FROM s, st)
SELECT doc_id, score FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
"""


ORACLE_BM25_TOPK = _oracle_bm25()


# ------------------------------------------- bigram LM perplexity
LM_ADD_K = 0.5


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-k bigram LM perplexity per document
    (operators/lm.py) — the CCNet/KenLM-style quality-filter signal."""
    from ..operators.lm import lm_perplexity

    return lm_perplexity(_t(spark, sf_dir, "documents"), add_k=LM_ADD_K)


ORACLE_LM_PERPLEXITY = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS toks
  FROM documents),
g AS (SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 1)) AS i
      FROM d WHERE len(toks) >= 2),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g),
uni AS (SELECT w1, count(*) AS c1
        FROM (SELECT unnest(toks) AS w1 FROM d) GROUP BY w1),
v AS (SELECT count(*) AS v FROM uni),
bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
nlls AS (
  SELECT bg.doc_id,
         -ln((bi.c2 + {LM_ADD_K}) / (uni.c1 + {LM_ADD_K} * v.v)) AS nll
  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1), v)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(nll), 6) AS avg_nll,
       round(exp(avg(nll)), 6) AS ppl
FROM nlls GROUP BY doc_id
"""


# -------------------------------------- exact duplicate-span dedup
SPAN_LENGTH = 8


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style duplicated-substring coverage spans
    (operators/substring_dedup.py); xxhash64 gram keys on the Spark
    side, gram-text keys in the oracle — a collision would surface as
    a hash mismatch here."""
    from ..operators.substring_dedup import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"), length=SPAN_LENGTH)


def _span_oracle(length: int, dup_cte: str) -> str:
    """Shared generator for the span-dedup oracles: tokenization,
    window-gram build, coverage-merge window and span aggregation are
    identical for every qualification rule; only the dup-gram CTE
    differs. One body, so a fix to the merge logic cannot diverge
    between the plain and cross-document variants."""
    return rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
  FROM documents),
w AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         array_to_string(toks[i : i + {length} - 1], ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {length} + 1)) AS i
        FROM d WHERE len(toks) >= {length})),
dup AS ({dup_cte}),
hits AS (SELECT doc_id, pos FROM w JOIN dup USING (gram)),
s AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER dw IS NULL
                OR pos - lag(pos) OVER dw > {length}
              THEN 1 ELSE 0 END AS ns
  FROM hits WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
sp AS (SELECT doc_id, pos,
              sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       FROM s)
SELECT doc_id, min(pos) AS span_start,
       CAST(max(pos) + {length} AS INT) AS span_end,
       CAST(max(pos) + {length} - min(pos) AS INT) AS span_tokens
FROM sp GROUP BY doc_id, span_id
"""


ORACLE_DUPLICATE_SPANS = _span_oracle(
    SPAN_LENGTH, "SELECT gram FROM w GROUP BY gram HAVING count(*) >= 2"
)


CROSS_DOC_SPAN_LENGTH = 4
CROSS_DOC_MIN_DOCS = 3


def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span coverage (ROADMAP r6 candidate):
    duplicate_spans in min_docs mode — a 4-token gram qualifies only
    when it appears in >= 3 DISTINCT documents, so single-document
    boilerplate repetition never marks spans; only corpus-level
    template text does. The distinct-doc count is pre-folded to
    distinct (gram, doc) pairs before counting (no countDistinct
    Expand over the exploded window set)."""
    from ..operators.substring_dedup import duplicate_spans

    return duplicate_spans(
        _t(spark, sf_dir, "documents"),
        length=CROSS_DOC_SPAN_LENGTH,
        min_docs=CROSS_DOC_MIN_DOCS,
    )


ORACLE_CROSS_DOC_SPANS = _span_oracle(
    CROSS_DOC_SPAN_LENGTH,
    "SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM w) "
    f"GROUP BY gram HAVING count(*) >= {CROSS_DOC_MIN_DOCS}",
)


# ------------------------------------------ data selection / tokenizer
DSIR_TARGET = ["src0", "src1", "src2"]


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word trigrams (collocation mining; one keyed
    shuffle with map-side combine — operators/selection.py)."""
    from ..operators.selection import ngram_topk

    return ngram_topk(_t(spark, sf_dir, "documents"), n=3, k=20)


ORACLE_NGRAM_TOPK = r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS w
  FROM documents),
g AS (SELECT array_to_string(w[i:i+2], ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(w)-2, 0)+1)) AS t(i))
SELECT gram, count(*) AS cnt
FROM g GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20
"""


def q_bpe_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs — the first BPE merge step of
    tokenizer induction (operators/selection.py)."""
    from ..operators.selection import bpe_pair_topk

    return bpe_pair_topk(_t(spark, sf_dir, "documents"), k=20)


ORACLE_BPE_PAIR_TOPK = r"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS w
  FROM documents),
p AS (SELECT substr(w, i, 2) AS pair
      FROM words, unnest(range(1, greatest(len(w)-1, 0)+1)) AS t(i))
SELECT pair, count(*) AS cnt
FROM p WHERE len(pair) = 2
GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (target = src0-2) — log-likelihood ratio
    between target and corpus unigram LMs (operators/selection.py)."""
    from ..operators.selection import dsir_weights

    return dsir_weights(_t(spark, sf_dir, "documents"), DSIR_TARGET)


_DSIR_IN = ", ".join(f"'{s}'" for s in DSIR_TARGET)
ORACLE_DSIR_WEIGHTS = rf"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS word
  FROM documents),
counts AS (SELECT doc_id, source, word, count(*) AS c
           FROM toks GROUP BY 1, 2, 3),
lm AS (SELECT word,
              sum(CASE WHEN source IN ({_DSIR_IN}) THEN c ELSE 0 END) AS tc,
              sum(c) AS rc
       FROM counts GROUP BY word),
tot AS (SELECT sum(tc) AS tn, sum(rc) AS rn, count(*) AS v FROM lm),
scored AS (
  SELECT c.doc_id,
         CAST(sum(c.c) AS INT) AS n_tokens,
         round(sum(c.c * (ln((lm.tc + 1.0) / (tot.tn + 1.0 * tot.v))
                        - ln((lm.rc + 1.0) / (tot.rn + 1.0 * tot.v)))), 6)
           AS log_ratio
  FROM counts c JOIN lm USING (word), tot
  GROUP BY c.doc_id)
SELECT doc_id, n_tokens, log_ratio, log_ratio > 0 AS keep FROM scored
"""


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-trimming length filter: keep docs inside the exact
    [p05, p95] n_chars percentiles (operators/selection.py)."""
    from ..operators.selection import length_bounds_filter

    return length_bounds_filter(
        _t(spark, sf_dir, "documents"), lo=0.05, hi=0.95
    )


ORACLE_LENGTH_FILTER = """
WITH b AS (SELECT round(quantile_cont(n_chars, 0.05), 6) AS lo,
                  round(quantile_cont(n_chars, 0.95), 6) AS hi
           FROM documents)
SELECT d.* FROM documents d, b WHERE d.n_chars BETWEEN b.lo AND b.hi
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-contamination matrix: Jaccard of distinct word
    5-gram shingle sets per source pair (operators/selection.py)."""
    from ..operators.selection import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"), n=5)


ORACLE_SOURCE_OVERLAP = r"""
WITH toks AS (
  SELECT source, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> len(x) > 0) AS w
  FROM documents),
fp AS (SELECT DISTINCT source AS src, array_to_string(w[i:i+4], ' ') AS h
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
sizes AS (SELECT src, count(*) AS n FROM fp GROUP BY src),
inter AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS i
          FROM fp a JOIN fp b ON a.h = b.h AND a.src < b.src
          GROUP BY 1, 2)
SELECT src_a, src_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = src_a
JOIN sizes sb ON sb.src = src_b
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only (iterative float algorithm — no SQL oracle); numpy
    Lloyd's-algorithm parity asserted in tests/test_selection_clustering.py."""
    from ..operators.clustering import kmeans_assignments

    return kmeans_assignments(
        _t(spark, sf_dir, "embeddings"), k=8, n_iter=5
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by PMI, min support 5
    (operators/selection.py)."""
    from ..operators.selection import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), k=20, min_count=5)


ORACLE_PMI_COLLOCATIONS = r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS w
  FROM documents),
bi AS (SELECT w[i] AS w1, w[i+1] AS w2
       FROM toks, unnest(range(1, greatest(len(w)-1, 0)+1)) AS t(i)),
pairs AS (SELECT w1, w2, count(*) AS pair_cnt
          FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (SELECT unnest(w) AS word FROM toks),
cnts AS (SELECT word, count(*) AS cnt FROM uni GROUP BY word),
np AS (SELECT sum(pair_cnt) AS np FROM pairs),
nw AS (SELECT sum(cnt) AS nw FROM cnts)
SELECT w1, w2, pair_cnt,
       round(ln((pair_cnt * 1.0 / np.np) /
                ((c1.cnt * 1.0 / nw.nw) * (c2.cnt * 1.0 / nw.nw))), 6) AS pmi
FROM pairs
JOIN cnts c1 ON c1.word = w1
JOIN cnts c2 ON c2.word = w2, np, nw
ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20
"""


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup under lowercase/punctuation/whitespace canonicalization
    (operators/selection.py)."""
    from ..operators.selection import canonical_dedup

    return canonical_dedup(_t(spark, sf_dir, "documents"))


ORACLE_CANONICAL_DEDUP = r"""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS canon_hash,
       min(doc_id) AS keeper_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (df, sorted posting list) index materialization
    (operators/retrieval.py)."""
    from ..operators.retrieval import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), min_df=2)


ORACLE_INVERTED_INDEX = r"""
WITH td AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS term
  FROM documents)
SELECT term, count(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM td GROUP BY term HAVING count(*) >= 2
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW shard (sources
    src10..src19) is deduped within itself (keep lowest doc_id per
    content fingerprint) and then against the EXISTING corpus index
    (distinct fingerprints of src0..src9) via anti-join. Only
    never-seen documents survive to be appended.

    Scale: the index is fingerprints-only (16 bytes/doc), so the
    anti-join shuffles hashes, never text; at 100 TB both sides hash-
    partition on fingerprint and the index partitions are reusable
    across daily shards (bucketed layout).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5("text")
    index = (
        docs.where(F.length("source") == 4)
        .select(fp.alias("fingerprint"))
        .distinct()
    )
    new = docs.where(F.length("source") > 4).select(
        "doc_id", "source", fp.alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    shard_unique = (
        new.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return shard_unique.join(index, "fingerprint", "left_anti")


ORACLE_DEDUP_INCREMENTAL = """
WITH fp AS (SELECT doc_id, source, md5(text) AS fingerprint FROM documents),
idx AS (SELECT DISTINCT fingerprint FROM fp WHERE length(source) = 4),
new AS (SELECT * FROM fp WHERE length(source) > 4),
uniq AS (SELECT doc_id, source, fingerprint,
                row_number() OVER (PARTITION BY fingerprint
                                   ORDER BY doc_id) AS rn
         FROM new)
SELECT fingerprint, doc_id, source FROM uniq u
WHERE rn = 1
  AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.fingerprint = u.fingerprint)
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, dimension-wise: the training step
    behind IVF coarse quantizers and class prototypes (operators/
    clustering.py consumes exactly this shape as its init).

    Scale: posexplode multiplies rows by the dimensionality but the
    per-(label, dim) averages partial-aggregate map-side, so the
    shuffle carries #labels x dims rows of (sum, count) — independent
    of corpus size. For very high dims swap explode for the
    mapInPandas partial-sum path in operators/clustering.py (same
    output, one pass, no row multiply).
    """
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy("label", "dim").agg(
        F.round(F.avg("x"), 5).alias("centroid"),
        F.count("*").alias("n"),
    )


ORACLE_EMBEDDING_CENTROIDS = """
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS x
  FROM embeddings)
SELECT label, dim, ROUND(AVG(x), 5) AS centroid, COUNT(*) AS n
FROM ex GROUP BY label, dim
"""


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: documents split into terciles
    (head/middle/tail) by bigram-LM perplexity — the standard quality
    stratification before mixing/sampling.

    Buckets are threshold-based and EXACT at any scale: tercile bounds
    are the values at global ranks ceil(n/3) and ceil(2n/3), computed
    with ``distributed_rank`` (operators/ranking.py — equi-depth
    buckets, never a single-partition sort; VERDICT r2 #3 replaced a
    per-partition 1e6-accuracy percentile sketch with this). The two
    threshold rows reduce to a 1-row broadcast feeding a map-only
    ``when()`` projection. The oracle replicates the same rank formula;
    ties at a boundary fall into the lower bucket on both sides
    (``<=``), so the hash match checks the bucketing itself.
    """
    from ..operators.ranking import distributed_rank

    # materialize the per-doc scores ONCE: the frame fans out to the
    # ranking stages AND the bucketing projection, and without a
    # checkpoint each consumer re-trains the bigram LM end-to-end
    # (measured ~2x the query). (doc_id, ppl) is 2 columns per doc —
    # cheap executor-local storage at any corpus size.
    ppl = (
        q_lm_perplexity(spark, sf_dir)
        .select("doc_id", "ppl")
        .localCheckpoint(eager=False)  # lazy: no job at build time
    )
    ranked = distributed_rank(
        ppl,
        "ppl",
        tiebreakers=[F.col("doc_id")],
        rank_col="__rn",
        total_col="__n",
        materialize=False,  # ppl is already checkpointed above
    )
    # same double arithmetic as the oracle: ceil(n/3.0), ceil(2.0*n/3.0)
    r1 = F.ceil(F.col("__n") / F.lit(3.0))
    r2 = F.ceil(F.col("__n") * F.lit(2.0) / F.lit(3.0))
    bounds = (
        ranked.where((F.col("__rn") == r1) | (F.col("__rn") == r2))
        .agg(F.min("ppl").alias("__t1"), F.max("ppl").alias("__t2"))
    )
    b = ppl.crossJoin(F.broadcast(bounds)).select(
        "ppl",
        F.when(F.col("ppl") <= F.col("__t1"), 1)
        .when(F.col("ppl") <= F.col("__t2"), 2)
        .otherwise(3)
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("ppl"), 6).alias("min_ppl"),
        F.round(F.max("ppl"), 6).alias("max_ppl"),
    )


ORACLE_PPL_BUCKETS = f"""
WITH per_doc AS ({ORACLE_LM_PERPLEXITY}),
st AS (SELECT ppl, row_number() OVER (ORDER BY ppl) AS rn,
              COUNT(*) OVER () AS c
       FROM per_doc),
t AS (SELECT
        MAX(CASE WHEN rn = CAST(ceil(c / 3.0) AS BIGINT)
                 THEN ppl END) AS t1,
        MAX(CASE WHEN rn = CAST(ceil(2.0 * c / 3.0) AS BIGINT)
                 THEN ppl END) AS t2
      FROM st),
b AS (SELECT ppl,
             CASE WHEN ppl <= t1 THEN 1
                  WHEN ppl <= t2 THEN 2
                  ELSE 3 END AS bucket
      FROM per_doc, t)
SELECT bucket, COUNT(*) AS n_docs,
       ROUND(MIN(ppl), 6) AS min_ppl, ROUND(MAX(ppl), 6) AS max_ppl
FROM b GROUP BY bucket
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-row L2 norms over the embedding arrays via F.aggregate — the
    whole-stage-codegen higher-order-function path (no explode, no
    shuffle, no Python). The left-to-right fold order matches SQL
    list_sum, so the doubles agree bit-for-bit with the oracle.

    Scale: map-only; this is the cheap prepass that decides whether
    vectors need normalizing before cosine similarity (similarity.py
    assumes unit vectors on its GEMM path).
    """
    emb = _t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id", "label", F.round(F.sqrt(sq), 6).alias("l2_norm")
    )


ORACLE_EMBEDDING_NORMS = """
SELECT vec_id, label,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
"""


def q_source_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score normalization of document lengths — the
    registry default, all window built-ins (VERDICT r1 #7): mean and
    stddev_pop over a source-partitioned window, whole-stage codegen,
    no Python stage anywhere. Groups never need to fit in one pandas
    frame; one hash shuffle on source.

    ``q_source_zscores_pandas`` is the grouped-map applyInPandas twin —
    kept as the API demonstration, same oracle.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("source")
    mu = F.avg("n_chars").over(w)
    sd = F.stddev_pop("n_chars").over(w)
    return docs.select(
        "doc_id",
        "source",
        F.round(
            F.when(sd > 0, (F.col("n_chars") - mu) / sd).otherwise(F.lit(0.0)),
            6,
        ).alias("z"),
    )


def q_source_zscores_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score normalization via grouped-map
    ``applyInPandas`` — the Arrow-vectorized per-group kernel path (the
    brief's applyInPandas surface), used where the per-group
    computation is genuinely imperative; here the kernel is simple
    enough to be SQL-expressible, which is what makes it
    oracle-checkable (same oracle as the built-in default).

    Scale: one shuffle on source; each group arrives as one pandas
    frame, so groups must fit an executor (sources here are bounded);
    population std (ddof=0) matches SQL stddev_pop.
    """
    import pandas as pd  # noqa: PLC0415

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=0)
        z = (pdf["n_chars"] - mu) / sd if sd > 0 else pdf["n_chars"] * 0.0
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "source": pdf["source"],
             "z": z.round(6)}
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return docs.groupBy("source").applyInPandas(
        normalize, "doc_id long, source string, z double"
    )


ORACLE_SOURCE_ZSCORES = """
SELECT doc_id, source,
       ROUND(CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY source) > 0
                  THEN (n_chars - AVG(n_chars) OVER (PARTITION BY source))
                       / stddev_pop(n_chars) OVER (PARTITION BY source)
                  ELSE 0.0 END, 6) AS z
FROM documents
"""


# -------------------------------------------------- embedding matrix ops
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style per-dimension affine quantization of the embedding
    corpus (operators/embedding_ops.quantize_embeddings): d-row bounds
    broadcast back as arrays, quantize as an in-row F.transform —
    whole-stage codegen, zero corpus-side shuffle. The registry view
    posexplodes the qvec array to (vec_id, dim, qv) rows — the driver
    canon bans array-typed output columns (pandas sort_values dies on
    list cells; VERDICT r5 #1) — mirroring how q_embedding_covariance
    shapes its d² output. The oracle mirrors the exact floor/clamp
    arithmetic per (vec, dim)."""
    from ..operators.embedding_ops import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", F.posexplode("qvec").alias("dim", "qv")
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
b AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim)
SELECT vec_id, e.dim,
       CASE WHEN mx = mn THEN 0
            ELSE LEAST(255, GREATEST(0,
                 CAST(FLOOR((x - mn) / ((mx - mn) / 255)) AS INT))) END AS qv
FROM ex e JOIN b ON e.dim = b.dim
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding matrix as (i, j, cov)
    rows (operators/embedding_ops.embedding_covariance): one Arrow
    pass folds each partition into d² partials (BLAS syrk), only d²
    rows shuffle — corpus size never does. The oracle is the
    independent O(n·d²) self-join formulation."""
    from ..operators.embedding_ops import embedding_covariance

    cov = embedding_covariance(_t(spark, sf_dir, "embeddings"))
    # + 0.0 canonicalizes IEEE negative zero after rounding (both sides)
    return cov.select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))


ORACLE_EMBEDDING_COVARIANCE = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT a.dim AS i, b.dim AS j,
       ROUND((SUM(a.x * b.x) - COUNT(*) * AVG(a.x) * AVG(b.x))
             / COUNT(*), 6) + 0.0 AS cov
FROM ex a JOIN ex b ON a.vec_id = b.vec_id
GROUP BY 1, 2
"""


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal-component projection of the embeddings
    (operators/embedding_ops.embedding_pca): distributed covariance →
    driver-side d×d eigh (sign-fixed) → broadcast-matmul projection.
    Rows-only (eigenvectors aren't SQL); numpy full-PCA parity is
    asserted in tests/test_embedding_ops.py. The registry view
    posexplodes the pc array to (vec_id, label, component, value) rows
    — array-typed output columns kill the driver's pandas
    canonicalizer even on the rows-only path (VERDICT r5 #2)."""
    from ..operators.embedding_ops import embedding_pca

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_pca(emb, k=8, payload=["label"])
    return out.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform("pc", lambda x: F.round(x, 6))
        ).alias("component", "value"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/quality rule battery (Rae et al. 2021 A.1.1)
    over the documents table — one map-only projection, no shuffle
    (operators/curation.gopher_quality). min_stop_hits=1 because the
    synthetic corpus draws from a closed vocabulary."""
    from ..operators.curation import gopher_quality

    return gopher_quality(
        _t(spark, sf_dir, "documents"), min_stop_hits=1
    ).orderBy("doc_id")


ORACLE_GOPHER_QUALITY = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS low,
         list_filter(string_split(text, chr(10)), ln -> len(trim(ln)) > 0) AS lines,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\.\.\.'))
           + len(regexp_extract_all(text, '…')) AS n_symbols
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         ROUND(list_sum(list_transform(toks, x -> len(x))) * 1.0
               / greatest(len(toks), 1), 6) AS mean_word_len,
         ROUND(n_symbols * 1.0 / greatest(len(toks), 1), 6) AS symbol_word_ratio,
         ROUND(len(list_filter(lines,
                 ln -> substring(ltrim(ln), 1, 1) IN ('-', '*', '•', '·')))
               * 1.0 / greatest(len(lines), 1), 6) AS bullet_line_frac,
         ROUND(len(list_filter(lines,
                 ln -> ends_with(rtrim(ln), '...') OR ends_with(rtrim(ln), '…')))
               * 1.0 / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
         ROUND(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-zÀ-ÿ]')))
               * 1.0 / greatest(len(toks), 1), 6) AS alpha_word_frac,
         CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                 s -> list_contains(low, s))) AS INT) AS stop_hits
  FROM t
)
SELECT *,
       n_words BETWEEN 50 AND 100000
       AND mean_word_len BETWEEN 3.0 AND 10.0
       AND symbol_word_ratio <= 0.1
       AND bullet_line_frac <= 0.9
       AND ellipsis_line_frac <= 0.3
       AND alpha_word_frac >= 0.8
       AND stop_hits >= 1 AS keep
FROM m
ORDER BY doc_id
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-exact dedup with reassembly (operators/dedup.py
    paragraph_dedup; RefinedWeb §3.2). The synthetic docs are
    single-line, so here each doc is one 'paragraph' — the pytest
    fixture exercises the multi-paragraph cut-and-reassemble path."""
    from ..operators.dedup import paragraph_dedup

    return paragraph_dedup(
        _t(spark, sf_dir, "documents"), sep="\n"
    ).orderBy("doc_id")


ORACLE_PARAGRAPH_DEDUP = r"""
WITH d AS (
  SELECT doc_id, string_split(text, chr(10)) AS ps FROM documents
), g AS (
  SELECT doc_id, unnest(generate_series(1, len(ps))) AS i, ps FROM d
), p AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS idx, trim(ps[i]) AS para
  FROM g WHERE len(trim(ps[i])) > 0
), w AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
  FROM p
)
SELECT doc_id,
       string_agg(para, chr(10) ORDER BY idx) AS text,
       CAST(count(*) AS INT) AS n_kept
FROM w WHERE rn = 1
GROUP BY doc_id
ORDER BY doc_id
"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-k fused with dense-cosine
    top-k (query = embedding 0) by Reciprocal Rank Fusion
    (operators/retrieval.rrf_fuse; Cormack et al. 2009). Both inputs
    are driver-small top-k lists, so the fusion is bounded by k·2 rows
    at any corpus size."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topk=BM25_TOPK
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    sem = cosine_topk(
        emb, emb.where(F.col("vec_id") == 0), k=BM25_TOPK
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], c=60)


def _oracle_hybrid_rrf() -> str:
    bm25 = ORACLE_BM25_TOPK.strip().rstrip()
    return rf"""
WITH lex_raw AS ({bm25}),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM lex_raw),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
un AS (SELECT c.vec_id AS nid, unnest(q.qe) AS x, unnest(c.embedding) AS y
       FROM q, embeddings c WHERE c.vec_id != 0),
dots AS (SELECT nid, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
                SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
         FROM un GROUP BY nid),
sem_r AS (SELECT nid AS doc_id,
                 CAST(row_number() OVER (
                   ORDER BY ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) DESC, nid
                 ) AS INT) AS rank
          FROM dots),
sem AS (SELECT doc_id, rank FROM sem_r WHERE rank <= {BM25_TOPK}),
u AS (
  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS s FROM lex
  UNION ALL
  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS s FROM sem),
f AS (
  SELECT doc_id, ROUND(SUM(s), 6) AS rrf_score,
         CAST(count(*) AS INT) AS n_lists
  FROM u GROUP BY doc_id)
SELECT doc_id, rrf_score, n_lists,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM f
"""


ORACLE_HYBRID_RRF = _oracle_hybrid_rrf()


CM_WIDTH, CM_DEPTH = 64, 4  # narrow width → real collisions at sf0.01


def q_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min word-frequency estimates (operators/sketches.py):
    64×4 cells, md5-cell layout reproduced verbatim by the DuckDB
    oracle — estimates (including collision overcounts) hash-match
    exactly. Width is deliberately narrow so the min-over-rows logic is
    exercised, not vacuous."""
    from ..operators.sketches import countmin_estimate, countmin_sketch

    words = _t(spark, sf_dir, "documents").select(
        F.explode(tokens(F.lower(F.col("text")))).alias("word")
    )
    # Aggregate to (word, cnt) FIRST: the map-side combine shrinks the
    # shuffle to per-partition vocabulary, and the 4 md5 hashes run
    # once per distinct word instead of once per occurrence (the cells
    # are identical — addition commutes). The same vocab frame feeds
    # the probe, replacing a second full tokenize + distinct.
    wc = words.groupBy("word").agg(F.count("*").alias("cnt"))
    sk = countmin_sketch(wc, "word", CM_WIDTH, CM_DEPTH, weight_col="cnt")
    est = countmin_estimate(
        sk, wc.select("word"), "word", CM_WIDTH, CM_DEPTH
    )
    return est.orderBy(F.desc("est"), "item")


ORACLE_COUNTMIN_WORDS = rf"""
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) > 0)) AS word
  FROM documents
), occ AS (
  SELECT word, unnest(generate_series(0, {CM_DEPTH - 1})) AS d FROM w
), cells AS (
  SELECT d,
         CAST(concat('0x', substring(md5(word || '#' || CAST(d AS VARCHAR)), 1, 8))
              AS BIGINT) % {CM_WIDTH} AS pos,
         count(*) AS cnt
  FROM occ GROUP BY 1, 2
), dw AS (SELECT DISTINCT word FROM w),
probe AS (
  SELECT word, unnest(generate_series(0, {CM_DEPTH - 1})) AS d FROM dw
), hit AS (
  SELECT p.word AS item,
         coalesce(c.cnt, 0) AS cnt
  FROM probe p LEFT JOIN cells c
    ON c.d = p.d
   AND c.pos = CAST(concat('0x', substring(md5(p.word || '#' || CAST(p.d AS VARCHAR)), 1, 8))
                    AS BIGINT) % {CM_WIDTH}
)
SELECT item, min(cnt) AS est FROM hit GROUP BY item
ORDER BY est DESC, item
"""


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join (operators/bloom.py): orders placed
    by customers with acctbal > 5000. The Bloom stage prunes the probe
    with k broadcast position-joins (no probe shuffle); the exact
    semi-join then sees only survivors — result identical to plain
    `WHERE o_custkey IN (...)`, which is the oracle."""
    from ..operators.bloom import bloom_prefilter_semi_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return bloom_prefilter_semi_join(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        cust,
        key="o_custkey",
        build_key="c_custkey",
        m_bits=1 << 14,
        k_hashes=3,
    ).orderBy("o_orderkey")


ORACLE_BLOOM_SEMI_JOIN = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
ORDER BY o_orderkey
"""


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/curation.c4_clean; Raffel et
    al. 2020 §2.2): map-only line filter + reassembly + doc verdict.
    The synthetic docs carry no terminal punctuation, so every line is
    cut here (keep=false throughout) — the pytest fixture exercises the
    mixed keep/cut paths; this entry oracle-checks the composition."""
    from ..operators.curation import c4_clean

    return c4_clean(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_C4_CLEAN = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(
           list_filter(string_split(text, chr(10)), ln -> len(trim(ln)) > 0),
           ln -> (ends_with(rtrim(ln), '.') OR ends_with(rtrim(ln), '!')
                  OR ends_with(rtrim(ln), '?') OR ends_with(rtrim(ln), '"'))
             AND len(list_filter(string_split_regex(ln, '\s+'),
                                 w -> len(w) > 0)) >= 5
         ) AS kept
  FROM documents
)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS text,
       CAST(len(kept) AS INT) AS n_lines_kept,
       len(kept) >= 3 AND NOT contains(text, '{')
         AND NOT contains(lower(text), 'lorem ipsum') AS keep
FROM t
ORDER BY doc_id
"""


def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF ANN: build the cell-partitioned index
    (operators/ann_index.py) in a scratch dir, then answer top-k via
    partition-pruned scans. Rows-only (approximate by construction);
    identity-with-ivf_topk + pruning-plan gates live in
    tests/test_ann_index.py."""
    import tempfile

    from ..operators.ann_index import ivf_index_query, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    # per-run mkdtemp: a fixed path would race a concurrent driver /
    # bench process (overwrite deletes files mid-scan); tmp growth is
    # bounded by run count and the dirs are tiny at test scale
    path = tempfile.mkdtemp(prefix="dwds_ivf_idx_") + "/idx"
    ivf_index_write(emb, path, n_centroids=16)
    return ivf_index_query(
        spark, path, emb.where(F.col("vec_id") < 10), k=10, nprobe=4
    )


def q_ann_index_topk_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF index queried with nprobe = n_centroids — every
    cell probed, so the candidate set is the whole corpus and the
    result IS exact cosine top-k. tests/test_identity_oracle.py proves
    that identity in pytest; registering the full-probe form gives the
    persisted-index READ path (operators/ann_index.py ivf_index_query:
    centroid load, cell assignment, pruned-to-all-cells scan, broadcast
    query join, per-query top-k window) an INDEPENDENT driver
    hash-match against the same exact-cosine DuckDB oracle
    ``similarity_topk`` uses (VERDICT r6 ask #1). The approximate
    nprobe<cells entry above stays rows-only by nature."""
    import tempfile

    from ..operators.ann_index import ivf_index_query, ivf_index_write

    emb = _t(spark, sf_dir, "embeddings")
    # per-run mkdtemp: see q_ann_index_topk
    path = tempfile.mkdtemp(prefix="dwds_ivf_idx_fp_") + "/idx"
    ivf_index_write(emb, path, n_centroids=16)
    return ivf_index_query(
        spark, path, emb.where(F.col("vec_id") < 10), k=10, nprobe=16
    )


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative BPE training (operators/bpe.py): 8 merge rules
    learned from the documents corpus — the loop runs on the vocab
    table, never rescanning text. Rows-only (iterative, not SQL);
    merge-sequence parity vs a pure-Python reference BPE is asserted
    in tests/test_bpe.py."""
    from ..operators.bpe import bpe_train

    rules = bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)
    return local_df(
        spark,
        [(i, a, b, c) for i, (a, b, c) in enumerate(rules)],
        "step int, sym_a string, sym_b string, pair_count long",
    )


FH_DIM = 256


def q_feature_hash_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse TF vectors (operators/selection.py
    feature_hash_tf): stateless featurization, md5 layout reproduced
    verbatim by the oracle."""
    from ..operators.selection import feature_hash_tf

    return feature_hash_tf(
        _t(spark, sf_dir, "documents"), dim=FH_DIM
    ).orderBy("doc_id", "pos")


ORACLE_FEATURE_HASH_TF = rf"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) > 0)) AS tok
  FROM documents
)
SELECT doc_id,
       CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) % {FH_DIM} AS pos,
       CAST(count(*) AS INT) AS tf
FROM w GROUP BY 1, 2
ORDER BY doc_id, pos
"""


def q_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster formation + keep-best representative selection
    — the full fuzzy-dedup DECISION step a curation pipeline actually
    ships (cluster, then keep one doc per cluster; cf. the keep-longest
    policy of C4/FineWeb-style pipelines): exact 5-gram Jaccard pairs
    (inverted-index join, operators/dedup.py) -> connected components
    (pointer jumping, operators/components.py) -> per-cluster keeper =
    longest doc, ties to the smallest doc_id.

    Output: cluster_id, keeper_id, n_members, kept_chars,
    dropped_chars (chars removed from the corpus by this cluster).
    Singletons appear with n_members = 1 and dropped_chars = 0, so the
    result IS the corpus-wide dedup ledger.

    The DuckDB oracle recomputes the clustering via recursive-CTE
    transitive closure (independent algorithm) and the keeper via the
    same deterministic ranking, so a hash match checks the composition
    end-to-end.

    Scale: pairs shuffle O(shared shingles) via the inverted index
    (never all-pairs); components converge in O(log n) rounds; the
    keeper windows partition BY CLUSTER (bounded by the largest dup
    group, never global). Window.partitionBy covers row_number, count
    and sum in ONE exchange.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=5, threshold=0.8)
    cc = connected_components(
        pairs.select("doc_a", "doc_b"),
        src="doc_a",
        dst="doc_b",
        nodes=docs,
        node_col="doc_id",
    )
    member = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    by_cluster = Window.partitionBy("cluster_id")
    ranked = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        member.withColumn("rn", F.row_number().over(ranked))
        .withColumn("n_members", F.count("*").over(by_cluster))
        .withColumn("total_chars", F.sum("n_chars").over(by_cluster))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            "n_members",
            F.col("n_chars").alias("kept_chars"),
            (F.col("total_chars") - F.col("n_chars")).alias("dropped_chars"),
        )
    )


ORACLE_CLUSTER_REPRESENTATIVE = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
       FROM toks, unnest(range(1, greatest(len(w)-4, 0)+1)) AS t(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE ROUND(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.8),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT doc_id AS n FROM documents),
reach(src, dst) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
member AS (SELECT c.cluster_id, d.doc_id, d.n_chars
           FROM cc c JOIN documents d USING (doc_id)),
rk AS (SELECT cluster_id, doc_id, n_chars,
              ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id) AS rn,
              COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
              SUM(n_chars) OVER (PARTITION BY cluster_id) AS total_chars
       FROM member)
SELECT cluster_id, doc_id AS keeper_id, n_members,
       n_chars AS kept_chars,
       CAST(total_chars - n_chars AS BIGINT) AS dropped_chars
FROM rk WHERE rn = 1
"""


# target language mix for the mixture planner — the knob a pretraining
# run sets; literals shared verbatim with the oracle
_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
_MIX_BUDGET_FRAC = 0.5  # plan a run over half the corpus's tokens


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning — the arithmetic BEFORE
    ``mixture_sample`` draws anything: given observed token supply per
    language and a target weight vector, derive each language's token
    target, sampling rate, and epoch count (rate > 1 means the
    language must repeat to hit its weight — the DoReMi/LLaMA-style
    oversampling diagnostic).

    Output per language: tokens_avail, weight, tokens_target,
    sample_rate (capped at 1), epochs (uncapped rate). A planner reads
    `epochs > 1` as "this language is the binding constraint".

    Scale: one map-side-combined aggregate over the corpus (token
    counts), then all planning arithmetic happens on a |languages|-row
    frame — the corpus is scanned exactly once, text never shuffles.
    """
    docs = _t(spark, sf_dir, "documents")
    # plan ONLY the languages in the target mixture — a lang outside
    # the weight vector has no defined plan row (and the oracle's
    # weight join drops it), so it is filtered here, not NULL-planned
    supply = (
        docs.where(F.col("lang").isin(*_MIX_WEIGHTS))
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("tokens_avail"))
    )
    wmap = F.create_map(
        *[F.lit(x) for kv in _MIX_WEIGHTS.items() for x in kv]
    )
    total = supply.agg(F.sum("tokens_avail").alias("__total"))
    planned = (
        supply.crossJoin(F.broadcast(total))
        .withColumn("weight", wmap[F.col("lang")])
        .withColumn(
            "tokens_target",
            F.floor(
                F.col("weight") * F.lit(_MIX_BUDGET_FRAC) * F.col("__total")
            ).cast("long"),
        )
    )
    rate = F.col("tokens_target") / F.col("tokens_avail")
    return planned.select(
        "lang",
        "tokens_avail",
        "weight",
        "tokens_target",
        F.round(F.least(rate, F.lit(1.0)), 6).alias("sample_rate"),
        F.round(rate, 6).alias("epochs"),
    )


ORACLE_MIXTURE_PLAN = """
WITH supply AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
  FROM documents GROUP BY lang),
total AS (SELECT SUM(tokens_avail) AS t FROM supply),
w(lang, weight) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
                           ('fr', 0.15), ('zh', 0.15)),
planned AS (
  SELECT s.lang, s.tokens_avail, CAST(w.weight AS DOUBLE) AS weight,
         CAST(FLOOR(CAST(w.weight AS DOUBLE) * 0.5 * total.t) AS BIGINT)
           AS tokens_target
  FROM supply s JOIN w ON s.lang = w.lang, total)
SELECT lang, tokens_avail, weight, tokens_target,
       ROUND(LEAST(tokens_target * 1.0 / tokens_avail, 1.0), 6)
         AS sample_rate,
       ROUND(tokens_target * 1.0 / tokens_avail, 6) AS epochs
FROM planned
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law input): the corpus in 10
    doc_id-deciles, counting word types FIRST SEEN in each decile and
    the cumulative vocabulary — the diagnostic for "does more data
    still add new vocabulary", which drives tokenizer-retraining and
    data-mixing decisions.

    Scale: explode to (token, decile), ONE min-aggregate per distinct
    token (map-side combined; shuffle is |vocab|, not |tokens|), then
    the growth curve lives on a 10-row frame (the cumulative window is
    bounded by the decile count — whitelisted).
    """
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # doc_id is dense 0..n-1 in the testdata
    tok = docs.select(
        # explicit floor: Spark's double->int cast truncates where
        # DuckDB's rounds (verify-skill gotcha)
        F.floor(F.col("doc_id") * 10 / F.lit(n_docs))
        .cast("int")
        .alias("decile"),
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    )
    per_dec = tok.groupBy("decile").agg(F.count("*").alias("n_tokens"))
    first = tok.groupBy("w").agg(F.min("decile").alias("decile"))
    growth = first.groupBy("decile").agg(F.count("*").alias("new_types"))
    from pyspark.sql import Window

    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_dec.join(growth, "decile", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)))
        .select(
            "decile",
            "n_tokens",
            "new_types",
            F.sum("new_types").over(cum).alias("cum_types"),
        )
    )


ORACLE_VOCAB_GROWTH = """
WITH n AS (SELECT COUNT(*) AS c FROM documents),
tok AS (
  SELECT CAST(FLOOR(doc_id * 10 / n.c) AS INT) AS decile,
         unnest(string_split(lower(text), ' ')) AS w
  FROM documents, n),
per_dec AS (SELECT decile, COUNT(*) AS n_tokens FROM tok GROUP BY decile),
first AS (SELECT w, MIN(decile) AS decile FROM tok GROUP BY w),
growth AS (SELECT decile, COUNT(*) AS new_types FROM first GROUP BY decile)
SELECT p.decile, p.n_tokens, COALESCE(g.new_types, 0) AS new_types,
       CAST(SUM(COALESCE(g.new_types, 0)) OVER (ORDER BY p.decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_types
FROM per_dec p LEFT JOIN growth g ON p.decile = g.decile
"""


def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-BM25-index retrieval (operators/text_index.py): build
    the term-bucket-partitioned postings once in a scratch dir, then
    answer top-k via partition-pruned scans. Scores are identical to
    ``bm25_topk`` by construction, so this entry reuses ITS oracle —
    the hash match proves the index round-trip loses nothing. Pruning
    and bucket-lockstep gates live in tests/test_text_index.py."""
    import tempfile

    from ..operators.text_index import bm25_index_query, bm25_index_write

    # per-run mkdtemp: see q_ann_index_topk
    path = tempfile.mkdtemp(prefix="dwds_bm25_idx_") + "/idx"
    bm25_index_write(_t(spark, sf_dir, "documents"), path)
    return bm25_index_query(
        spark, path, BM25_TERMS, k1=BM25_K1, b=BM25_B, topk=BM25_TOPK
    )


def q_lm_artifact_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-LM scoring (operators/lm.py lm_train_write/lm_score):
    train the bigram model into a scratch artifact, then score the
    corpus UNDER THE ARTIFACT. Identical to ``lm_perplexity`` on the
    training corpus by construction, so this entry reuses ITS oracle —
    the hash match proves the model round-trips through parquet
    losslessly. Held-out add-k backoff semantics (the artifact's
    reason to exist) are pinned in tests/test_lm_artifact.py."""
    import tempfile

    from ..operators.lm import lm_score, lm_train_write

    docs = _t(spark, sf_dir, "documents")
    # per-run mkdtemp: see q_ann_index_topk
    path = tempfile.mkdtemp(prefix="dwds_lm_") + "/model"
    lm_train_write(docs, path)
    return lm_score(spark, path, docs, add_k=LM_ADD_K)


# ------------------------------------------------- round-8 additions
# (ROADMAP r8 / VERDICT r7 #3): registered BEFORE the r8 window froze,
# each with the full evidence kit the day it landed.

def _url_host_cols() -> tuple:
    """The shared deterministic host recipe of every URL-family
    fixture (``_url_documents``, ``_slug_url_documents``,
    ``_snapshot_url_documents`` — review r9 #3 deduplicated the three
    verbatim copies): subdomain by doc_id % 4, ccSLD-exercising tld
    by lang; both pure functions of (doc_id, lang) so the DuckDB
    oracles re-derive the SAME strings in SQL. Returns (sub, tld)
    Columns."""
    d = F.col("doc_id")
    sub = (
        F.when(d % 4 == 0, "www.")
        .when(d % 4 == 1, "cdn.")
        .when(d % 4 == 2, "api.")
        .otherwise("")
    )
    tld = (
        F.when(F.col("lang") == "en", "com")
        .when(F.col("lang") == "de", "co.uk")
        .when(F.col("lang") == "es", "com.es")
        .when(F.col("lang") == "zh", "com.cn")
        .when(F.col("lang") == "fr", "fr")
        .otherwise("org")
    )
    return sub, tld


def _url_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with a deterministic derived ``url`` column
    (the table carries none): subdomain / ccSLD tld / port /
    trailing-slash / query variants all exercised, every piece a pure
    function of (doc_id, source, lang) so the oracles re-derive the
    SAME string in SQL. Shared by the URL-family registry queries."""
    d = F.col("doc_id")
    sub, tld = _url_host_cols()
    url = F.concat(
        F.lit("https://"),
        sub,
        F.col("source"),
        F.lit("."),
        tld,
        F.when(d % 7 == 0, ":8080").otherwise(""),
        F.lit("/doc/"),
        (d % 40).cast("string"),
        F.when(d % 6 == 0, "/").otherwise(""),
        F.when(d % 5 == 0, "?ref=rss").otherwise(""),
    )
    return _t(spark, sf_dir, "documents").withColumn("url", url)


def q_domain_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style registered-domain URL rollup (operators/urls.py
    domain_dedup) — the groupBy twin of exact_dedup keyed on the
    registrable domain. URL column derived by ``_url_documents``; the
    oracle re-derives the SAME url string in SQL and re-implements
    host, registered-domain and normalize-url independently."""
    from ..operators.urls import domain_dedup

    docs = _url_documents(spark, sf_dir)
    return domain_dedup(docs, url_col="url", id_col="doc_id")


ORACLE_DOMAIN_DEDUP = r"""
WITH u AS (
  SELECT doc_id,
         'https://'
         || CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.'
                            WHEN 2 THEN 'api.' ELSE '' END
         || source || '.'
         || CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                      WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                      WHEN 'fr' THEN 'fr' ELSE 'org' END
         || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
         || '/doc/' || CAST(doc_id % 40 AS VARCHAR)
         || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?ref=rss' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id,
         lower(regexp_replace(regexp_replace(
             regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1),
             '^[^@]*@', ''), ':[0-9]+$', '')) AS host,
         regexp_replace(
             regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//[^/?#]*([^?#]*)', 1),
             '/+$', '') AS p0
  FROM u),
keyed AS (
  SELECT doc_id, host,
         CASE
           WHEN len(w) >= 3 AND array_to_string(w[len(w)-1:len(w)], '.') IN
                ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
                 'co.jp','ne.jp','or.jp','com.br','com.cn','com.ar','com.mx',
                 'com.tr','co.in','co.kr','co.za','com.es')
             THEN array_to_string(w[len(w)-2:len(w)], '.')
           WHEN len(w) >= 2 THEN array_to_string(w[len(w)-1:len(w)], '.')
           ELSE host
         END AS domain,
         regexp_replace(host, '^www\.', '')
           || CASE WHEN p0 = '' THEN '/' ELSE p0 END AS nurl
  FROM (SELECT doc_id, host, p0, string_split(host, '.') AS w FROM parts))
SELECT domain,
       count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT nurl) AS n_urls,
       count(*) - count(DISTINCT nurl) AS n_url_dups,
       min(doc_id) AS keeper_id
FROM keyed GROUP BY domain
"""


NOVELTY_N = 3


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus n-gram novelty (operators/curation.py
    ngram_novelty): per src0 document, the fraction of its distinct
    trigrams NOT already present anywhere in the src1+ corpus — the
    memorization-rate measure between an incoming crawl shard and the
    existing corpus. Spark side joins on 8-byte shingle hashes (scale
    contract); the oracle joins the shingle STRINGS — identical counts
    barring a 64-bit collision (~2^-64 per pair, the documented
    decontaminate convention)."""
    from ..operators.curation import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=NOVELTY_N,
    )


ORACLE_NGRAM_NOVELTY = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
train AS (SELECT DISTINCT s FROM sh WHERE source != 'src0'),
ev AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
-- base from the DOCUMENTS side, not the shingle rows: an eval doc
-- with < n tokens has zero shingles but must still emit a row
-- (n_shingles=0, novelty NULL) to match the operator's contract
base AS (SELECT t.doc_id, count(e.s) AS n_shingles
         FROM toks t LEFT JOIN ev e USING (doc_id)
         WHERE t.source = 'src0' GROUP BY t.doc_id),
seen AS (SELECT doc_id, count(*) AS n_seen
         FROM ev JOIN train USING (s) GROUP BY doc_id)
SELECT b.doc_id, b.n_shingles,
       COALESCE(n_seen, 0) AS n_seen,
       CASE WHEN b.n_shingles > 0 THEN
         ROUND(1.0 - COALESCE(n_seen, 0) * 1.0 / b.n_shingles, 6) + 0.0
       END AS novelty
FROM base b LEFT JOIN seen USING (doc_id)
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of embedding dims (operators/
    embedding_ops.quantile_normalize — ROADMAP r8 'rides quantile'
    candidate): after the transform every dimension carries the same
    marginal distribution. Ranks via the grouped distributed_rank
    recipe (NO per-dim global window); output is the scalar (vec_id,
    dim, qn) grid, rounded like every double surface at the registry
    boundary."""
    from ..operators.embedding_ops import quantile_normalize

    out = quantile_normalize(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id", "dim", (F.round("qn", 6) + F.lit(0.0)).alias("qn")
    )


ORACLE_QUANTILE_NORMALIZE = """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
r AS (
  SELECT vec_id, dim, x,
         row_number() OVER (PARTITION BY dim ORDER BY x, vec_id) AS rn
  FROM ex),
m AS (SELECT rn, SUM(x) / COUNT(*) AS mu FROM r GROUP BY rn)
SELECT r.vec_id, r.dim, ROUND(m.mu, 6) + 0.0 AS qn
FROM r JOIN m USING (rn)
"""


def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-band curation cut (operators/curation.py
    length_band_filter): keep documents inside their language's exact
    [p10, p90] n_chars band. Exact rank-convention percentiles
    (value at 1-based rank ceil(p*n)), bounds broadcast back — the
    oracle recomputes them with row_number + ceil, never
    quantile_disc."""
    from ..operators.curation import length_band_filter

    docs = _t(spark, sf_dir, "documents")
    return length_band_filter(
        docs, group_col="lang", value_col="n_chars", lo_p=0.1, hi_p=0.9
    ).select("doc_id", "lang", "n_chars", "band_lo", "band_hi")


ORACLE_LENGTH_BAND_FILTER = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
         count(*) OVER (PARTITION BY lang) AS c
  FROM documents),
bounds AS (
  SELECT lang,
         max(CASE WHEN rn = CAST(ceil(0.1 * c) AS BIGINT) THEN n_chars END) AS band_lo,
         max(CASE WHEN rn = CAST(ceil(0.9 * c) AS BIGINT) THEN n_chars END) AS band_hi
  FROM ranked GROUP BY lang)
SELECT d.doc_id, d.lang, d.n_chars, b.band_lo, b.band_hi
FROM documents d JOIN bounds b USING (lang)
WHERE d.n_chars BETWEEN b.band_lo AND b.band_hi
"""


ZIPF_K = 200


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf power-law fit (operators/curation.py
    zipf_fit): OLS of ln(freq) on ln(rank) over each language's
    top-200 words — the corpus-health slope (~ -1 for natural text;
    templated/synthetic corpora flatten or cliff). Total tie order
    (cnt desc, word asc) makes the ranks engine-reproducible."""
    from ..operators.curation import zipf_fit

    return zipf_fit(
        _t(spark, sf_dir, "documents"), group_col="lang", k=ZIPF_K
    )


ORACLE_ZIPF_SLOPE = r"""
WITH counts AS (
  SELECT lang, word, count(*) AS cnt
  FROM (SELECT lang,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> len(x) > 0)) AS word
        FROM documents)
  GROUP BY lang, word),
n_types AS (SELECT lang, count(*) AS n_types FROM counts GROUP BY lang),
top AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, word ASC) AS rank
  FROM counts QUALIFY rank <= 200),
fit AS (
  SELECT lang,
         ROUND(regr_slope(ln(cnt), ln(rank)), 6) + 0.0 AS zipf_slope,
         ROUND(regr_intercept(ln(cnt), ln(rank)), 6) + 0.0 AS zipf_intercept,
         ROUND(regr_r2(ln(cnt), ln(rank)), 6) + 0.0 AS r2
  FROM top GROUP BY lang)
SELECT n.lang, n.n_types, f.zipf_slope, f.zipf_intercept, f.r2
FROM n_types n JOIN fit f USING (lang)
"""


# Registered AFTER the r8 window froze (standing rule): full evidence
# kits now, rotate into the r9 window as never-driver-verified.

def q_minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy surface (operators/dedup.minhash_jaccard_error):
    per banded-LSH candidate pair the eq/k estimate, the EXACT shingle
    Jaccard and their absolute error — the measurement that justifies
    k=128. md5_64 hashing so the candidate set and every value is
    engine-independent; the oracle re-derives signatures AND exact
    Jaccard in SQL."""
    from ..operators.dedup import minhash_jaccard_error

    return minhash_jaccard_error(
        _t(spark, sf_dir, "documents"), n=5, k=128, bands=32
    )


def _oracle_minhash_jaccard_error(
    n: int = 5, k: int = 128, bands: int = 32
) -> str:
    return f"""
WITH {_minhash_cand_ctes(n, k, bands)},
shq AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+{n - 1}], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM shq GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shq a ON a.doc_id = c.doc_a
  JOIN shq b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY 1, 2),
est AS (
  SELECT doc_a, doc_b,
         CAST(list_sum([CASE WHEN sa.s[i] = sb.s[i] THEN 1 ELSE 0 END
                        FOR i IN range(1, {k} + 1)]) AS BIGINT)
           / {k}.0 AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       ROUND(COALESCE(i, 0) * 1.0 / (na.n + nb.n - COALESCE(i, 0)), 6)
         + 0.0 AS jaccard,
       ROUND(ABS(e.est_jaccard
                 - COALESCE(i, 0) * 1.0 / (na.n + nb.n - COALESCE(i, 0))), 6)
         + 0.0 AS abs_err
FROM est e
LEFT JOIN inter USING (doc_a, doc_b)
JOIN sizes na ON na.doc_id = e.doc_a
JOIN sizes nb ON nb.doc_id = e.doc_b
"""


ORACLE_MINHASH_JACCARD_ERROR = _oracle_minhash_jaccard_error()


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate mass (operators/curation.py
    dup_rate_by_group) — the curation dashboard rollup of exact_dedup:
    which crawl shard is feeding copies."""
    from ..operators.curation import dup_rate_by_group

    return dup_rate_by_group(_t(spark, sf_dir, "documents"))


ORACLE_DUP_RATE_BY_SOURCE = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dup_docs,
       ROUND((count(*) - count(DISTINCT md5(text))) * 1.0 / count(*), 6)
         + 0.0 AS dup_rate,
       min(doc_id) AS keeper_id
FROM documents GROUP BY source
"""


def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain quota sample (operators/urls.py
    domain_quota_sample): at most 3 docs per registered domain, picked
    content-addressed (md5(doc_id) order — deterministic, nested under
    quota increases). Same derived URL column as domain_dedup; the
    oracle re-derives everything in SQL including the md5 pick
    order."""
    from ..operators.urls import domain_quota_sample

    docs = _url_documents(spark, sf_dir)
    return domain_quota_sample(
        docs, url_col="url", id_col="doc_id", quota=3
    ).select("doc_id", "domain")


ORACLE_DOMAIN_QUOTA_SAMPLE = r"""
WITH u AS (
  SELECT doc_id,
         'https://'
         || CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.'
                            WHEN 2 THEN 'api.' ELSE '' END
         || source || '.'
         || CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                      WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                      WHEN 'fr' THEN 'fr' ELSE 'org' END
         || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
         || '/doc/' || CAST(doc_id % 40 AS VARCHAR)
         || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '?ref=rss' ELSE '' END AS url
  FROM documents),
parts AS (
  SELECT doc_id,
         lower(regexp_replace(regexp_replace(
             regexp_extract(url, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]+)', 1),
             '^[^@]*@', ''), ':[0-9]+$', '')) AS host
  FROM u),
keyed AS (
  SELECT doc_id,
         CASE
           WHEN len(w) >= 3 AND array_to_string(w[len(w)-1:len(w)], '.') IN
                ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
                 'co.jp','ne.jp','or.jp','com.br','com.cn','com.ar','com.mx',
                 'com.tr','co.in','co.kr','co.za','com.es')
             THEN array_to_string(w[len(w)-2:len(w)], '.')
           WHEN len(w) >= 2 THEN array_to_string(w[len(w)-1:len(w)], '.')
           ELSE host
         END AS domain
  FROM (SELECT doc_id, host, string_split(host, '.') AS w FROM parts)),
ranked AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM keyed)
SELECT doc_id, domain FROM ranked WHERE rn <= 3
"""


def q_suffix_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenation-artifact pairs (operators/dedup.py
    suffix_prefix_pairs): doc A's last 3 tokens = doc B's first 3
    tokens — one map stage + ONE equi hash join on the boundary
    n-gram, never a nested loop."""
    from ..operators.dedup import suffix_prefix_pairs

    return suffix_prefix_pairs(_t(spark, sf_dir, "documents"), n=3)


ORACLE_SUFFIX_PREFIX_JOIN = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
keyed AS (
  SELECT doc_id,
         array_to_string(w[1:3], ' ') AS head,
         array_to_string(w[len(w)-2:len(w)], ' ') AS tail
  FROM toks WHERE len(w) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail AS boundary
FROM keyed a JOIN keyed b ON a.tail = b.head AND a.doc_id != b.doc_id
"""


RBO_P = 0.9


def q_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap between the BM25 lexical top-50 and the
    dense-cosine top-50 (operators/retrieval.rbo_overlap) — the
    top-weighted agreement diagnostic of the hybrid retrieval pair
    hybrid_rrf fuses. Same two rankings as q_hybrid_rrf; one scalar
    row out."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..operators.retrieval import bm25_topk, rbo_overlap

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, BM25_TERMS, k1=BM25_K1, b=BM25_B, topk=BM25_TOPK
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    sem = cosine_topk(
        emb, emb.where(F.col("vec_id") == 0), k=BM25_TOPK
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rbo_overlap(lex, sem, depth=BM25_TOPK, p=RBO_P)


def _oracle_rbo() -> str:
    bm25 = ORACLE_BM25_TOPK.strip().rstrip()
    k = BM25_TOPK
    return rf"""
WITH lex_raw AS ({bm25}),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM lex_raw),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
un AS (SELECT c.vec_id AS nid, unnest(q.qe) AS x, unnest(c.embedding) AS y
       FROM q, embeddings c WHERE c.vec_id != 0),
dots AS (SELECT nid, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
                SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS qq,
                SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS cc
         FROM un GROUP BY nid),
sem_r AS (SELECT nid AS doc_id,
                 CAST(row_number() OVER (
                   ORDER BY ROUND(dot / (sqrt(qq) * sqrt(cc)), 6) DESC, nid
                 ) AS INT) AS rank
          FROM dots),
sem AS (SELECT doc_id, rank FROM sem_r WHERE rank <= {k}),
terms AS (
  SELECT CAST(d AS INT) AS d,
         power(CAST({RBO_P} AS DOUBLE), d - 1) / d AS t
  FROM range(1, {k} + 1) tt(d)),
tails AS (
  SELECT d AS m,
         SUM(t) OVER (ORDER BY d
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS tail
  FROM terms),
shared AS (
  SELECT greatest(l.rank, s.rank) AS m
  FROM lex l JOIN sem s USING (doc_id)),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shared, SUM(tail) AS s
  FROM shared JOIN tails USING (m))
SELECT CAST({RBO_P} AS DOUBLE) AS p, {k} AS depth, n_shared,
       ROUND((CAST(1.0 AS DOUBLE) - CAST({RBO_P} AS DOUBLE))
             * COALESCE(s, 0.0), 6) + 0.0 AS rbo
FROM agg
"""


ORACLE_RBO_RANKINGS = _oracle_rbo()


# Late-round-8 additions (standing rule: post-window, full evidence
# kits now, rotate into the r9 window as never-driver-verified) — the
# three remaining ROADMAP r9 candidates.

def q_group_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label quantile normalization (operators/embedding_ops.
    quantile_normalize with group_col — ROADMAP r9 'per-label variant'
    candidate): ranks within (label, dim), rank-means within
    (label, rn), so every dimension carries its label's shared
    marginal and labels never mix — the batch-effect correction form
    of the transform."""
    from ..operators.embedding_ops import quantile_normalize

    out = quantile_normalize(
        _t(spark, sf_dir, "embeddings"), group_col="label"
    )
    return out.select(
        "vec_id", "label", "dim",
        (F.round("qn", 6) + F.lit(0.0)).alias("qn"),
    )


ORACLE_GROUP_QUANTILE_NORMALIZE = """
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
r AS (
  SELECT vec_id, label, dim, x,
         row_number() OVER (PARTITION BY label, dim
                            ORDER BY x, vec_id) AS rn
  FROM ex),
m AS (SELECT label, rn, SUM(x) / COUNT(*) AS mu
      FROM r GROUP BY label, rn)
SELECT r.vec_id, r.label, r.dim, ROUND(m.mu, 6) + 0.0 AS qn
FROM r JOIN m USING (label, rn)
"""


def _slug_url_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with a derived CONTENT-SLUG url (the
    url_path_neardup fixture): host as in ``_url_documents`` (same
    subdomain / ccSLD-tld recipe, pure function of (doc_id, source,
    lang)), path = the document's first five tokens as segments — the
    slugified-title URL shape real CMSes emit, which makes
    path-segment Jaccard a meaningful near-dup signal instead of the
    degenerate '/doc/<n>' two-segment path."""
    d = F.col("doc_id")
    sub, tld = _url_host_cols()
    # sanitize tokens to URL-safe chars so the oracle's raw-token
    # segment model and the operator's URL parsing (strip at ?/#,
    # split on /, drop empties) can never diverge on metacharacters
    slug = F.concat_ws(
        "/",
        F.transform(
            F.slice(F.split(F.lower(F.col("text")), " "), 1, 5),
            lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
        ),
    )
    url = F.concat(
        F.lit("https://"), sub, F.col("source"), F.lit("."), tld,
        F.lit("/"), slug,
    )
    return _t(spark, sf_dir, "documents").withColumn("url", url)


PATH_NEARDUP_THRESHOLD = 0.4
# mirrors path_neardup_pairs' finite default postings cap (VERDICT r8
# #3); the oracle applies the same cap so Spark/DuckDB agree at ANY sf
PATH_NEARDUP_MAX_SEGMENT_DF = 10_000


def q_url_path_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site URL near-dup pairs (operators/urls.py
    path_neardup_pairs — ROADMAP r9 'per-URL-path near-dup'
    candidate): same registered domain, path-segment Jaccard >= 0.4,
    candidates met in a (domain, segment) inverted index, never an
    in-domain all-pairs."""
    from ..operators.urls import path_neardup_pairs

    docs = _slug_url_documents(spark, sf_dir)
    return path_neardup_pairs(
        docs, url_col="url", id_col="doc_id",
        threshold=PATH_NEARDUP_THRESHOLD,
        max_segment_df=PATH_NEARDUP_MAX_SEGMENT_DF,
    )


ORACLE_URL_PATH_NEARDUP = f"""
WITH u AS (
  SELECT doc_id,
         source || '.' ||
         CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                   WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                   WHEN 'fr' THEN 'fr' ELSE 'org' END AS domain,
         list_distinct(list_filter(
           list_transform(string_split(lower(text), ' ')[1:5],
                          x -> regexp_replace(x, '[^a-z0-9]', '', 'g')),
           x -> len(x) > 0)) AS segs
  FROM documents),
seg0 AS (SELECT doc_id, domain, unnest(segs) AS s FROM u),
segdf AS (SELECT domain, s, count(*) AS df FROM seg0 GROUP BY 1, 2),
-- the postings cap (path_neardup_pairs max_segment_df): drop
-- in-domain stop-segments; sizes are AFTER the cap, matching the
-- operator's containment_pairs convention
seg AS (SELECT seg0.doc_id, seg0.domain, seg0.s
        FROM seg0 JOIN segdf USING (domain, s)
        WHERE df <= {PATH_NEARDUP_MAX_SEGMENT_DF}),
sizes AS (SELECT doc_id, count(*) AS n FROM seg GROUP BY 1),
inter AS (
  SELECT a.domain, a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM seg a
  JOIN seg b ON a.domain = b.domain AND a.s = b.s
            AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3),
j AS (
  SELECT doc_a, doc_b, domain,
         ROUND(i * 1.0 / (na.n + nb.n - i), 6) + 0.0 AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b)
SELECT doc_a, doc_b, domain, jaccard
FROM j WHERE jaccard >= {PATH_NEARDUP_THRESHOLD}
"""


def _snapshot_url_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with a SECTION url + a crawl snapshot (the
    temporal_path_drift fixture): host as in ``_slug_url_documents``
    (subdomain / ccSLD-tld recipe, pure function of (doc_id, source,
    lang)); path = the document's first token — the section-index URL
    shape (``/news``, ``/sports``) whose per-domain set is small
    enough to genuinely overlap across snapshots; snapshot =
    doc_id % 3 — three interleaved crawls of the same sites, so
    consecutive-snapshot path sets drift without being disjoint."""
    d = F.col("doc_id")
    sub, tld = _url_host_cols()
    sec = F.regexp_replace(
        F.regexp_extract(F.lower(F.col("text")), r"^([^ ]*)", 1),
        "[^a-z0-9]",
        "",
    )
    url = F.concat(
        F.lit("https://"), sub, F.col("source"), F.lit("."), tld,
        F.lit("/"), sec,
    )
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("url", url)
        .withColumn("snapshot", (d % 3).cast("int"))
    )


def q_temporal_path_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL-set drift across consecutive crawl snapshots
    (operators/urls.py path_drift — the ROADMAP r10 'temporal path
    drift' candidate): Jaccard between each registered domain's
    distinct path set in snapshot t and t+1; births/deaths emit
    jaccard 0 rows."""
    from ..operators.urls import path_drift

    docs = _snapshot_url_documents(spark, sf_dir)
    return path_drift(docs, url_col="url", period_col="snapshot")


ORACLE_TEMPORAL_PATH_DRIFT = """
WITH u AS (
  SELECT CAST(doc_id % 3 AS INT) AS snapshot,
         source || '.' ||
         CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                   WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                   WHEN 'fr' THEN 'fr' ELSE 'org' END AS domain,
         '/' || regexp_replace(
           regexp_extract(lower(text), '^([^ ]*)', 1),
           '[^a-z0-9]', '', 'g') AS path
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
d AS (SELECT DISTINCT domain, snapshot, path FROM u),
per AS (SELECT DISTINCT snapshot FROM d),
pairs AS (
  SELECT snapshot, lead(snapshot) OVER (ORDER BY snapshot) AS next_snapshot
  FROM per QUALIFY next_snapshot IS NOT NULL),
sizes AS (SELECT domain, snapshot, count(*) AS n FROM d GROUP BY 1, 2),
common AS (
  SELECT a.domain, p.snapshot, p.next_snapshot, count(*) AS c
  FROM pairs p
  JOIN d a ON a.snapshot = p.snapshot
  JOIN d b ON b.domain = a.domain AND b.path = a.path
          AND b.snapshot = p.next_snapshot
  GROUP BY 1, 2, 3),
doms AS (
  SELECT DISTINCT p.snapshot, p.next_snapshot, s.domain
  FROM pairs p JOIN sizes s ON s.snapshot IN (p.snapshot, p.next_snapshot))
SELECT dm.domain, dm.snapshot, dm.next_snapshot,
       CAST(coalesce(sa.n, 0) AS BIGINT) AS n_prev,
       CAST(coalesce(sb.n, 0) AS BIGINT) AS n_next,
       CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
       ROUND(coalesce(c.c, 0) * 1.0
             / (coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(c.c, 0)),
             6) + 0.0 AS jaccard
FROM doms dm
LEFT JOIN sizes sa ON sa.domain = dm.domain AND sa.snapshot = dm.snapshot
LEFT JOIN sizes sb ON sb.domain = dm.domain
                  AND sb.snapshot = dm.next_snapshot
LEFT JOIN common c ON c.domain = dm.domain AND c.snapshot = dm.snapshot
                  AND c.next_snapshot = dm.next_snapshot
"""


def q_path_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot URL novelty (operators/urls.py path_novelty): for
    each crawl snapshot of the section-URL fixture, the fraction of
    its distinct (domain, path) space first seen in that snapshot —
    the crawl-yield decay curve; cumulative complement of
    temporal_path_drift."""
    from ..operators.urls import path_novelty

    docs = _snapshot_url_documents(spark, sf_dir)
    return path_novelty(docs, url_col="url", period_col="snapshot")


ORACLE_PATH_NOVELTY = """
WITH u AS (
  SELECT CAST(doc_id % 3 AS INT) AS snapshot,
         source || '.' ||
         CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                   WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                   WHEN 'fr' THEN 'fr' ELSE 'org' END AS domain,
         '/' || regexp_replace(
           regexp_extract(lower(text), '^([^ ]*)', 1),
           '[^a-z0-9]', '', 'g') AS path
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
d AS (SELECT DISTINCT domain, snapshot, path FROM u),
f AS (SELECT domain, path, MIN(snapshot) AS fs FROM d GROUP BY 1, 2),
newc AS (SELECT fs AS snapshot, count(*) AS n_new FROM f GROUP BY 1),
tot AS (SELECT snapshot, count(*) AS n_urls FROM d GROUP BY 1)
SELECT t.snapshot,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
       ROUND(coalesce(n_new, 0) * 1.0 / n_urls, 6) + 0.0 AS novelty
FROM tot t LEFT JOIN newc USING (snapshot)
"""


def q_ks_source_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS bias panel (operators/curation.ks_panel — the
    grouped composition of ks_distance): every source's n_chars
    distribution against the whole documents corpus in ONE plan with
    group-partitioned ECDF windows — no single-partition pass."""
    from ..operators.curation import ks_panel

    docs = _t(spark, sf_dir, "documents")
    return ks_panel(
        docs, docs, group_col="source", value_col="n_chars"
    )


ORACLE_KS_SOURCE_PANEL = """
WITH hg AS (
  SELECT source AS g, n_chars AS v, count(*) AS ca
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2),
hr AS (
  SELECT n_chars AS v, count(*) AS cb
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
grp AS (SELECT g, SUM(ca) AS n_sample FROM hg GROUP BY 1),
rt AS (SELECT CAST(coalesce(SUM(cb), 0) AS BIGINT) AS n_ref FROM hr),
grid AS (
  SELECT g, v FROM hg
  UNION
  SELECT grp.g, hr.v FROM grp, hr),
m AS (
  SELECT grid.g, grid.v,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM grid
  LEFT JOIN hg ON hg.g = grid.g AND hg.v = grid.v
  LEFT JOIN hr ON hr.v = grid.v),
c AS (
  SELECT g,
         SUM(ca) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         SUM(cb) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM m)
SELECT g AS source,
       CAST(n_sample AS BIGINT) AS n_sample,
       n_ref,
       ROUND(MAX(ABS(cca * 1.0 / n_sample - ccb * 1.0 / n_ref)), 6)
         + 0.0 AS ks
FROM c JOIN grp USING (g) CROSS JOIN rt
GROUP BY 1, 2, 3
"""


def q_content_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content drift across consecutive snapshots
    (operators/curation.content_drift — the content twin of
    temporal_path_drift, via the shared set_drift assembly): Jaccard
    of each source's distinct word-3-gram set between snapshot t and
    t+1, gram text reduced to md5 digests before any exchange."""
    from ..operators.curation import content_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return content_drift(
        docs, text_col="text", period_col="snapshot",
        group_col="source", n=3,
    )


ORACLE_CONTENT_DRIFT = r"""
WITH toks AS (
  SELECT CAST(doc_id % 3 AS INT) AS snapshot, source,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> len(x) > 0) AS w
  FROM documents WHERE source IS NOT NULL),
d AS (
  SELECT DISTINCT source, snapshot,
         md5(array_to_string(w[i:i+2], ' ')) AS h
  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)),
per AS (SELECT DISTINCT snapshot FROM d),
pairs AS (
  SELECT snapshot, lead(snapshot) OVER (ORDER BY snapshot) AS next_snapshot
  FROM per QUALIFY next_snapshot IS NOT NULL),
sizes AS (SELECT source, snapshot, count(*) AS n FROM d GROUP BY 1, 2),
common AS (
  SELECT a.source, p.snapshot, p.next_snapshot, count(*) AS c
  FROM pairs p
  JOIN d a ON a.snapshot = p.snapshot
  JOIN d b ON b.source = a.source AND b.h = a.h
          AND b.snapshot = p.next_snapshot
  GROUP BY 1, 2, 3),
doms AS (
  SELECT DISTINCT p.snapshot, p.next_snapshot, s.source
  FROM pairs p JOIN sizes s ON s.snapshot IN (p.snapshot, p.next_snapshot))
SELECT dm.source, dm.snapshot, dm.next_snapshot,
       CAST(coalesce(sa.n, 0) AS BIGINT) AS n_prev,
       CAST(coalesce(sb.n, 0) AS BIGINT) AS n_next,
       CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
       ROUND(coalesce(c.c, 0) * 1.0
             / (coalesce(sa.n, 0) + coalesce(sb.n, 0) - coalesce(c.c, 0)),
             6) + 0.0 AS jaccard
FROM doms dm
LEFT JOIN sizes sa ON sa.source = dm.source AND sa.snapshot = dm.snapshot
LEFT JOIN sizes sb ON sb.source = dm.source
                  AND sb.snapshot = dm.next_snapshot
LEFT JOIN common c ON c.source = dm.source AND c.snapshot = dm.snapshot
                  AND c.next_snapshot = dm.next_snapshot
"""


def q_dup_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dup-mass drift across consecutive snapshots
    (operators/curation.dup_rate_drift — the exact-dup leg of the
    temporal audit family): each source's md5-digest dup_rate in
    snapshot t vs t+1 plus the delta; pairs emit only where the
    source has docs in BOTH snapshots."""
    from ..operators.curation import dup_rate_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return dup_rate_drift(
        docs, text_col="text", group_col="source",
        period_col="snapshot", id_col="doc_id",
    )


ORACLE_DUP_RATE_DRIFT = """
WITH s AS (
  SELECT source, CAST(doc_id % 3 AS INT) AS snapshot,
         CAST(count(*) AS BIGINT) AS n_docs,
         ROUND((count(*) - count(DISTINCT md5(text))) * 1.0 / count(*),
               6) + 0.0 AS dup_rate
  FROM documents WHERE source IS NOT NULL
  GROUP BY 1, 2),
per AS (SELECT DISTINCT snapshot FROM s),
pairs AS (
  SELECT snapshot, lead(snapshot) OVER (ORDER BY snapshot) AS next_snapshot
  FROM per QUALIFY next_snapshot IS NOT NULL)
SELECT a.source, p.snapshot, p.next_snapshot,
       a.n_docs, b.n_docs AS next_n_docs,
       a.dup_rate, b.dup_rate AS next_dup_rate,
       ROUND(b.dup_rate - a.dup_rate, 6) + 0.0 AS delta
FROM pairs p
JOIN s a ON a.snapshot = p.snapshot
JOIN s b ON b.source = a.source AND b.snapshot = p.next_snapshot
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distributional drift across consecutive snapshots
    (operators/curation.ks_drift — the fourth leg of the temporal
    audit family): exact two-sample KS between each source's n_chars
    distribution in snapshot t and t+1; pairs emit only where the
    source has values in BOTH snapshots."""
    from ..operators.curation import ks_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return ks_drift(
        docs, value_col="n_chars", group_col="source",
        period_col="snapshot",
    )


ORACLE_KS_DRIFT = """
WITH hg AS (
  SELECT source AS g, CAST(doc_id % 3 AS INT) AS p, n_chars AS v,
         count(*) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT p FROM hg),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
a AS (SELECT hg.g, hg.p, pairs.np, hg.v, hg.c AS ca
      FROM hg JOIN pairs USING (p)),
b AS (SELECT hg.g, pairs.p, hg.p AS np, hg.v, hg.c AS cb
      FROM hg JOIN pairs ON hg.p = pairs.np),
grid AS (
  SELECT g, p, np, v FROM a
  UNION
  SELECT g, p, np, v FROM b),
m AS (
  SELECT grid.g, grid.p, grid.np, grid.v,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM grid
  LEFT JOIN a ON a.g = grid.g AND a.p = grid.p AND a.np = grid.np
             AND a.v = grid.v
  LEFT JOIN b ON b.g = grid.g AND b.p = grid.p AND b.np = grid.np
             AND b.v = grid.v),
c AS (
  SELECT g, p, np,
         SUM(ca) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         SUM(cb) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM m),
t AS (
  SELECT g, p, np,
         CAST(MAX(cca) AS BIGINT) AS n_prev,
         CAST(MAX(ccb) AS BIGINT) AS n_next
  FROM c GROUP BY 1, 2, 3)
SELECT c.g AS source, c.p AS snapshot, c.np AS next_snapshot,
       t.n_prev, t.n_next,
       ROUND(MAX(ABS(cca * 1.0 / n_prev - ccb * 1.0 / n_next)), 6)
         + 0.0 AS ks
FROM c
JOIN t ON t.g = c.g AND t.p = c.p AND t.np = c.np
WHERE t.n_prev > 0 AND t.n_next > 0
GROUP BY 1, 2, 3, 4, 5
"""


def q_drift_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift anomaly panel (ROADMAP r10 candidate; a pure COMPOSITION
    over the landed path_drift — no new operator): z-score each
    domain's snapshot-pair jaccard against that pair's population, so
    the churners a flat threshold misses surface. Population stats
    come from EXACT integer sums (jaccard is 6dp by construction, so
    round(j*1e6) is a lossless long; sums and sums-of-squares are
    order-independent integers), which makes the derived mean/stddev
    — and therefore the 6dp z — bit-identical across engines and
    partitionings where a naive double stddev would flake on
    summation order. Pairs with zero variance (all domains drift
    alike) emit z = 0. Population frames are (pair)-sized and move by
    broadcast."""
    from ..operators.urls import path_drift

    docs = _snapshot_url_documents(spark, sf_dir)
    base = path_drift(docs, url_col="url", period_col="snapshot")
    j6 = F.round(F.col("jaccard") * 1e6).cast("long")
    b = base.select(
        "domain", "snapshot", "next_snapshot", "jaccard",
        j6.alias("__j"),
    )
    pop = b.groupBy("snapshot", "next_snapshot").agg(
        F.count("*").alias("__n"),
        F.sum("__j").alias("__s1"),
        F.sum(F.col("__j") * F.col("__j")).alias("__s2"),
    )
    nd = F.col("__n").cast("double")
    s1d = F.col("__s1").cast("double")
    s2d = F.col("__s2").cast("double")
    jd = F.col("__j").cast("double")
    var = (s2d - (s1d * s1d) / nd) / nd
    z = F.when(var > 0, (jd - s1d / nd) / F.sqrt(var)).otherwise(F.lit(0.0))
    return (
        b.join(F.broadcast(pop), ["snapshot", "next_snapshot"])
        .select(
            "domain", "snapshot", "next_snapshot", "jaccard",
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
    )


ORACLE_DRIFT_ANOMALY = f"""
WITH base AS ({ORACLE_TEMPORAL_PATH_DRIFT}),
b AS (
  SELECT domain, snapshot, next_snapshot, jaccard,
         CAST(ROUND(jaccard * 1000000) AS BIGINT) AS j
  FROM base),
pop AS (
  SELECT snapshot, next_snapshot,
         count(*) AS n, SUM(j) AS s1, SUM(j * j) AS s2
  FROM b GROUP BY 1, 2)
SELECT b.domain, b.snapshot, b.next_snapshot, b.jaccard,
       ROUND(CASE WHEN ((s2 * 1.0) - ((s1 * 1.0) * (s1 * 1.0))
                        / (n * 1.0)) / (n * 1.0) > 0
             THEN ((j * 1.0) - (s1 * 1.0) / (n * 1.0))
                  / sqrt(((s2 * 1.0) - ((s1 * 1.0) * (s1 * 1.0))
                          / (n * 1.0)) / (n * 1.0))
             ELSE 0.0 END, 6) + 0.0 AS z
FROM b JOIN pop USING (snapshot, next_snapshot)
"""


KS_BINS = 32


def q_ks_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned distributional drift on a CONTINUOUS column
    (operators/curation.ks_drift(bins=) — the quantizer threaded into
    the temporal leg): per-event_type KS of `value` between
    consecutive DAYS, all cells sharing one 32-bin grid derived from
    the whole frame, so per-cell histograms are bins-bounded on any
    value domain."""
    from ..operators.curation import ks_drift

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return ks_drift(
        ev, value_col="value", group_col="event_type",
        period_col="day", bins=KS_BINS,
    )


ORACLE_KS_DRIFT_BINNED = f"""
WITH st AS (
  SELECT min(value) AS lo, max(value) AS hi
  FROM events WHERE value IS NOT NULL),
q AS (
  SELECT event_type AS g,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS p,
         CASE WHEN hi = lo THEN 1
              WHEN value >= hi THEN {KS_BINS}
              ELSE LEAST({KS_BINS}, GREATEST(1,
                CAST(FLOOR((value - lo) / (hi - lo) * {KS_BINS}.0)
                     AS INT) + 1))
         END AS v
  FROM events, st
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL),
hg AS (SELECT g, p, v, count(*) AS c FROM q GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT p FROM hg),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
a AS (SELECT hg.g, hg.p, pairs.np, hg.v, hg.c AS ca
      FROM hg JOIN pairs USING (p)),
b AS (SELECT hg.g, pairs.p, hg.p AS np, hg.v, hg.c AS cb
      FROM hg JOIN pairs ON hg.p = pairs.np),
grid AS (
  SELECT g, p, np, v FROM a
  UNION
  SELECT g, p, np, v FROM b),
m AS (
  SELECT grid.g, grid.p, grid.np, grid.v,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM grid
  LEFT JOIN a ON a.g = grid.g AND a.p = grid.p AND a.np = grid.np
             AND a.v = grid.v
  LEFT JOIN b ON b.g = grid.g AND b.p = grid.p AND b.np = grid.np
             AND b.v = grid.v),
c AS (
  SELECT g, p, np,
         SUM(ca) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         SUM(cb) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM m),
t AS (
  SELECT g, p, np,
         CAST(MAX(cca) AS BIGINT) AS n_prev,
         CAST(MAX(ccb) AS BIGINT) AS n_next
  FROM c GROUP BY 1, 2, 3)
SELECT c.g AS event_type, c.p AS day, c.np AS next_day,
       t.n_prev, t.n_next,
       ROUND(MAX(ABS(cca * 1.0 / n_prev - ccb * 1.0 / n_next)), 6)
         + 0.0 AS ks
FROM c
JOIN t ON t.g = c.g AND t.p = c.p AND t.np = c.np
WHERE t.n_prev > 0 AND t.n_next > 0
GROUP BY 1, 2, 3, 4, 5
"""
def q_ks_value_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned per-group KS panel on a CONTINUOUS column
    (operators/curation.ks_panel(bins=) — the quantize-first caveat
    as a one-arg path): each event_type's `value` distribution vs all
    events, bucketed onto one common 32-bin grid, so the histogram
    and every ECDF pass are bins-bounded on any value domain."""
    from ..operators.curation import ks_panel

    ev = _t(spark, sf_dir, "events")
    return ks_panel(
        ev, ev, group_col="event_type", value_col="value", bins=KS_BINS
    )


ORACLE_KS_VALUE_BINNED = f"""
WITH st AS (
  SELECT min(value) AS lo, max(value) AS hi
  FROM events WHERE value IS NOT NULL),
sb AS (
  SELECT event_type AS g,
         CASE WHEN hi = lo THEN 1
              WHEN value >= hi THEN {KS_BINS}
              ELSE LEAST({KS_BINS}, GREATEST(1,
                CAST(FLOOR((value - lo) / (hi - lo) * {KS_BINS}.0)
                     AS INT) + 1))
         END AS v
  FROM events, st
  WHERE value IS NOT NULL AND event_type IS NOT NULL),
rb AS (
  SELECT CASE WHEN hi = lo THEN 1
              WHEN value >= hi THEN {KS_BINS}
              ELSE LEAST({KS_BINS}, GREATEST(1,
                CAST(FLOOR((value - lo) / (hi - lo) * {KS_BINS}.0)
                     AS INT) + 1))
         END AS v
  FROM events, st WHERE value IS NOT NULL),
hg AS (SELECT g, v, count(*) AS ca FROM sb GROUP BY 1, 2),
hr AS (SELECT v, count(*) AS cb FROM rb GROUP BY 1),
grp AS (SELECT g, SUM(ca) AS n_sample FROM hg GROUP BY 1),
rt AS (SELECT CAST(coalesce(SUM(cb), 0) AS BIGINT) AS n_ref FROM hr),
grid AS (
  SELECT g, v FROM hg
  UNION
  SELECT grp.g, hr.v FROM grp, hr),
m AS (
  SELECT grid.g, grid.v,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM grid
  LEFT JOIN hg ON hg.g = grid.g AND hg.v = grid.v
  LEFT JOIN hr ON hr.v = grid.v),
c AS (
  SELECT g,
         SUM(ca) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         SUM(cb) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM m)
SELECT g AS event_type,
       CAST(n_sample AS BIGINT) AS n_sample,
       n_ref,
       ROUND(MAX(ABS(cca * 1.0 / n_sample - ccb * 1.0 / n_ref)), 6)
         + 0.0 AS ks
FROM c JOIN grp USING (g) CROSS JOIN rt
GROUP BY 1, 2, 3
"""


RBO_DRIFT_DEPTH = 20


def q_rbo_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RBO drift (operators/retrieval.rbo_drift — ROADMAP r9
    'windowed RBO drift' candidate): RBO between each day's top-20
    users-by-event-count leaderboard and the next day's — the
    trend-stability series. Deterministic ranks (count desc, user_id
    asc); one row per consecutive day pair."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..operators.retrieval import rbo_drift

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).agg(F.count("*").alias("__n"))
    rnk = F.row_number().over(
        Window.partitionBy("day").orderBy(F.desc("__n"), F.asc("user_id"))
    )
    ranked = daily.select(
        "day", "user_id", rnk.cast("int").alias("rank")
    ).where(F.col("rank") <= RBO_DRIFT_DEPTH)
    return rbo_drift(
        ranked, depth=RBO_DRIFT_DEPTH, p=RBO_P,
        period_col="day", id_col="user_id",
    )


ORACLE_RBO_DRIFT = f"""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         user_id, count(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT day, user_id,
         CAST(row_number() OVER (PARTITION BY day
                                 ORDER BY n DESC, user_id) AS INT) AS rank
  FROM cnt QUALIFY rank <= {RBO_DRIFT_DEPTH}),
pairs AS (
  SELECT day, lead(day) OVER (ORDER BY day) AS next_day
  FROM (SELECT DISTINCT day FROM r)
  QUALIFY next_day IS NOT NULL),
terms AS (
  SELECT CAST(d AS INT) AS d,
         power(CAST({RBO_P} AS DOUBLE), d - 1) / d AS t
  FROM range(1, {RBO_DRIFT_DEPTH} + 1) tt(d)),
tails AS (
  SELECT d AS m,
         SUM(t) OVER (ORDER BY d
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS tail
  FROM terms),
shared AS (
  SELECT p.day, p.next_day, greatest(a.rank, b.rank) AS m
  FROM pairs p
  JOIN r a ON a.day = p.day
  JOIN r b ON b.day = p.next_day AND b.user_id = a.user_id),
agg AS (
  SELECT day, next_day, CAST(count(*) AS BIGINT) AS n_shared,
         SUM(tail) AS s
  FROM shared JOIN tails USING (m)
  GROUP BY day, next_day)
SELECT p.day, p.next_day,
       COALESCE(a.n_shared, 0) AS n_shared,
       ROUND((CAST(1.0 AS DOUBLE) - CAST({RBO_P} AS DOUBLE))
             * COALESCE(a.s, 0.0), 6) + 0.0 AS rbo
FROM pairs p LEFT JOIN agg a USING (day, next_day)
"""


RBO_PANEL_DEPTH = 50


def q_rbo_source_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source term-profile drift panel (operators/retrieval.
    rbo_panel — ROADMAP r9 'per-group RBO panel' candidate): RBO of
    each source's top-50 words against the corpus-wide top-50 — which
    crawl shard's vocabulary diverges from the mix. Deterministic
    ranks (cnt desc, word asc); one row per source."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..functions.text import tokens
    from ..operators.retrieval import rbo_panel

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("word")
    )
    per_src = words.groupBy("source", "word").agg(F.count("*").alias("__n"))
    src_rank = per_src.select(
        "source",
        "word",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("__n"), F.asc("word")
            )
        )
        .cast("int")
        .alias("rank"),
    ).where(F.col("rank") <= RBO_PANEL_DEPTH)
    corpus = words.groupBy("word").agg(F.count("*").alias("__n"))
    ref_rank = corpus.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.desc("__n"), F.asc("word")))
        .cast("int")
        .alias("rank"),
    ).where(F.col("rank") <= RBO_PANEL_DEPTH)
    return rbo_panel(
        src_rank, ref_rank, depth=RBO_PANEL_DEPTH, p=RBO_P,
        group_col="source", id_col="word",
    )


ORACLE_RBO_SOURCE_PANEL = rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS word
  FROM documents),
per_src AS (
  SELECT source, word, count(*) AS n FROM toks GROUP BY 1, 2),
src_rank AS (
  SELECT source, word,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n DESC, word) AS INT) AS rank
  FROM per_src QUALIFY rank <= {RBO_PANEL_DEPTH}),
corpus AS (SELECT word, count(*) AS n FROM toks GROUP BY 1),
ref_rank AS (
  SELECT word,
         CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank
  FROM corpus QUALIFY rank <= {RBO_PANEL_DEPTH}),
terms AS (
  SELECT CAST(d AS INT) AS d,
         power(CAST({RBO_P} AS DOUBLE), d - 1) / d AS t
  FROM range(1, {RBO_PANEL_DEPTH} + 1) tt(d)),
tails AS (
  SELECT d AS m,
         SUM(t) OVER (ORDER BY d
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS tail
  FROM terms),
shared AS (
  SELECT s.source, greatest(s.rank, r.rank) AS m
  FROM src_rank s JOIN ref_rank r USING (word)),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_shared, SUM(tail) AS s
  FROM shared JOIN tails USING (m) GROUP BY source)
SELECT g.source,
       COALESCE(a.n_shared, 0) AS n_shared,
       ROUND((CAST(1.0 AS DOUBLE) - CAST({RBO_P} AS DOUBLE))
             * COALESCE(a.s, 0.0), 6) + 0.0 AS rbo
FROM (SELECT DISTINCT source FROM src_rank) g
LEFT JOIN agg a USING (source)
"""


def q_quota_sample_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-sample bias audit (operators/curation.ks_distance —
    ROADMAP r9 'quota-sample bias audit' candidate): exact two-sample
    KS distance between the domain_quota_sample keep-set's n_chars
    distribution and the full corpus's — did the per-domain cap skew
    document lengths? One scalar row."""
    from ..operators.curation import ks_distance
    from ..operators.urls import domain_quota_sample

    docs = _url_documents(spark, sf_dir)
    samp = domain_quota_sample(
        docs, url_col="url", id_col="doc_id", quota=3
    )
    return ks_distance(samp, docs, value_col="n_chars")


ORACLE_QUOTA_SAMPLE_KS = f"""
WITH samp_ids AS ({ORACLE_DOMAIN_QUOTA_SAMPLE}),
samp AS (
  SELECT d.n_chars FROM samp_ids s JOIN documents d USING (doc_id)),
va AS (SELECT n_chars AS v, count(*) AS ca FROM samp GROUP BY 1),
vb AS (SELECT n_chars AS v, count(*) AS cb FROM documents GROUP BY 1),
m AS (
  SELECT COALESCE(va.v, vb.v) AS v,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM va FULL JOIN vb ON va.v = vb.v),
c AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS cca,
         SUM(cb) OVER (ORDER BY v) AS ccb
  FROM m),
t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_sample,
             CAST(SUM(cb) AS BIGINT) AS n_ref FROM m)
SELECT t.n_sample, t.n_ref,
       ROUND(MAX(ABS(cca * 1.0 / t.n_sample - ccb * 1.0 / t.n_ref)), 6)
         + 0.0 AS ks
FROM c, t GROUP BY t.n_sample, t.n_ref
"""


# ---------------------------------------------------------------------
# round 10 post-window batch (registered AFTER the r10 DRIVER_WINDOW
# froze — standing rule; they rotate into the r11 window as
# never-driver-verified). VERDICT r9 #4's diversity ask: three NEW
# operator families (embedding-space drift, incremental near-dup
# ledger, lexical divergence) before the two queued compositions.


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift between consecutive snapshots
    (operators/embedding_ops.centroid_drift — the representation-level
    leg of the temporal audit family, the 'per-source embedding/
    centroid drift between snapshots' capability VERDICT r9 #4
    queued): cosine similarity and L2 shift of each label's centroid
    from snapshot t to t+1; snapshot = vec_id % 3 — three interleaved
    refreshes of the same embedding space."""
    from ..operators.embedding_ops import centroid_drift

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "snapshot", (F.col("vec_id") % 3).cast("int")
    )
    return centroid_drift(
        emb, vec_col="embedding", group_col="label",
        period_col="snapshot",
    )


ORACLE_CENTROID_DRIFT = """
WITH ex AS (
  SELECT label, CAST(vec_id % 3 AS INT) AS snapshot,
         generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id IS NOT NULL
    AND embedding IS NOT NULL),
c AS (
  SELECT label, snapshot, dim, AVG(x) AS c
  FROM ex GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT snapshot FROM c),
pairs AS (
  SELECT snapshot, lead(snapshot) OVER (ORDER BY snapshot) AS next_snapshot
  FROM per QUALIFY next_snapshot IS NOT NULL),
m AS (
  SELECT a.label, p.snapshot, p.next_snapshot,
         SUM(a.c * b.c) AS dot,
         SUM(a.c * a.c) AS na2,
         SUM(b.c * b.c) AS nb2,
         SUM((a.c - b.c) * (a.c - b.c)) AS d2
  FROM pairs p
  JOIN c a ON a.snapshot = p.snapshot
  JOIN c b ON b.label = a.label AND b.dim = a.dim
          AND b.snapshot = p.next_snapshot
  GROUP BY 1, 2, 3),
cnt AS (
  SELECT label, CAST(vec_id % 3 AS INT) AS snapshot,
         CAST(count(*) AS BIGINT) AS n
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id IS NOT NULL
    AND embedding IS NOT NULL
  GROUP BY 1, 2)
SELECT m.label, m.snapshot, m.next_snapshot,
       ca.n AS n_prev, cb.n AS n_next,
       CASE WHEN sqrt(na2) * sqrt(nb2) > 0
            THEN ROUND(dot / (sqrt(na2) * sqrt(nb2)), 6) + 0.0
       END AS cos_sim,
       ROUND(sqrt(d2), 6) + 0.0 AS l2_shift
FROM m
JOIN cnt ca ON ca.label = m.label AND ca.snapshot = m.snapshot
JOIN cnt cb ON cb.label = m.label AND cb.snapshot = m.next_snapshot
"""


MINHASH_LEDGER_THRESHOLD = 0.5


# NOTE (optimization round r12): the r11→r12 interim briefly served
# this query family from a process-local memo of the materialized
# replay (VERDICT r11 #5). Removed: a module-level memo of results
# makes per-query bench numbers order-dependent (and the bench's
# spike-retry pass would re-time the memoized scan instead of the
# plan). Both consumers compute live from the parquet inputs again;
# the replay plan itself is what gets optimized.
def _minhash_replay_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_ledger_replay

    docs = _t(spark, sf_dir, "documents").withColumn(
        "batch", (F.col("doc_id") % 3).cast("int")
    )
    return minhash_ledger_replay(
        docs, text_col="text", id_col="doc_id", batch_col="batch",
        batch_values=[0, 1, 2], n=5, k=128, bands=32,
        threshold=MINHASH_LEDGER_THRESHOLD,
    )


def q_minhash_ledger_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot near-dup replay (operators/dedup.
    minhash_ledger_replay — the MinHash extension of the exact-key
    ledger, VERDICT r9 #4's queued capability): three crawl snapshots
    (doc_id % 3) replay in order; each snapshot's docs LSH-probe the
    accumulated survivor ledger, est >= 0.5 matches take the lowest-id
    ledger keeper, survivors append. md5_64 hashing so the candidate
    set is engine-independent; the oracle UNROLLS the three-step
    replay in SQL and certifies the sequential ledger semantics."""
    return _minhash_replay_frame(spark, sf_dir)


def _oracle_minhash_ledger_replay(
    n: int = 5, k: int = 128, bands: int = 32, thr: float = 0.5
) -> str:
    return f"""
WITH {_minhash_cand_ctes(n, k, bands)},
bat AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch FROM documents),
est AS (
  SELECT doc_a, doc_b,
         CAST(list_sum([CASE WHEN sa.s[i] = sb.s[i] THEN 1 ELSE 0 END
                        FOR i IN range(1, {k} + 1)]) AS BIGINT)
           / {k}.0 AS est
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b),
p AS (
  SELECT CASE WHEN ba.batch < bb.batch THEN e.doc_b ELSE e.doc_a END
           AS new_id,
         CASE WHEN ba.batch < bb.batch THEN e.doc_a ELSE e.doc_b END
           AS led_id,
         greatest(ba.batch, bb.batch) AS new_batch,
         least(ba.batch, bb.batch) AS led_batch,
         e.est
  FROM est e
  JOIN bat ba ON ba.doc_id = e.doc_a
  JOIN bat bb ON bb.doc_id = e.doc_b
  WHERE ba.batch <> bb.batch AND e.est >= {thr}),
d1 AS (
  SELECT new_id, min(led_id) AS keeper
  FROM p WHERE new_batch = 1 AND led_batch = 0 GROUP BY 1),
d1e AS (
  SELECT d1.new_id, d1.keeper, p.est
  FROM d1 JOIN p ON p.new_id = d1.new_id AND p.led_id = d1.keeper
              AND p.new_batch = 1 AND p.led_batch = 0),
led2 AS (
  SELECT doc_id FROM bat WHERE batch < 2
  EXCEPT SELECT new_id FROM d1),
d2 AS (
  SELECT new_id, min(led_id) AS keeper
  FROM p
  WHERE new_batch = 2
    AND led_id IN (SELECT doc_id FROM led2)
  GROUP BY 1),
d2e AS (
  SELECT d2.new_id, d2.keeper, p.est
  FROM d2 JOIN p ON p.new_id = d2.new_id AND p.led_id = d2.keeper
              AND p.new_batch = 2),
dups AS (
  SELECT new_id, keeper, est FROM d1e
  UNION ALL SELECT new_id, keeper, est FROM d2e)
SELECT b.doc_id, b.batch,
       COALESCE(d.keeper, b.doc_id) AS keeper_id,
       d.est AS est_jaccard
FROM bat b LEFT JOIN dups d ON d.new_id = b.doc_id
"""


ORACLE_MINHASH_LEDGER_REPLAY = _oracle_minhash_ledger_replay(
    thr=MINHASH_LEDGER_THRESHOLD
)


def q_token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical bias audit (operators/curation.
    token_js_divergence): Jensen–Shannon divergence between each
    source's unigram distribution and the whole corpus's, via the
    exact-support algebra (absent tokens collapse to the ln2
    correction term) so nothing source x vocab ever materializes."""
    from ..operators.curation import token_js_divergence

    docs = _t(spark, sf_dir, "documents")
    return token_js_divergence(docs, text_col="text", group_col="source")


ORACLE_TOKEN_JS_DIVERGENCE = r"""
WITH tok AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS t
  FROM documents WHERE source IS NOT NULL),
gt AS (SELECT g, t, count(*) AS c FROM tok GROUP BY 1, 2),
gl AS (SELECT t, SUM(c) AS ct FROM gt GROUP BY 1),
gtot AS (SELECT g, SUM(c) AS ng, count(*) AS vocab FROM gt GROUP BY 1),
tot AS (SELECT SUM(ct) AS nt FROM gl),
terms AS (
  SELECT gt.g,
         (gt.c * 1.0 / ng) AS p,
         (ct * 1.0 / nt) AS q
  FROM gt JOIN gl USING (t) JOIN gtot USING (g), tot),
agg AS (
  SELECT g,
         SUM(p * ln(p / ((p + q) / 2.0))
             + q * ln(q / ((p + q) / 2.0))) AS s,
         SUM(q) AS qcov
  FROM terms GROUP BY 1)
SELECT a.g AS source,
       CAST(gtot.ng AS BIGINT) AS n_tokens,
       CAST(gtot.vocab AS BIGINT) AS vocab,
       ROUND(qcov, 6) + 0.0 AS coverage,
       ROUND(0.5 * (s + ln(2.0) * (1.0 - qcov)), 6) + 0.0 AS js
FROM agg a JOIN gtot ON gtot.g = a.g
"""


def q_novelty_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty half-life (ROADMAP r10 queued composition over
    path_novelty(per_domain=True) — no new operator): fit ln(novelty)
    ~ slope * snapshot per domain by least squares and convert to a
    half-life (-ln 2 / slope) — 'how many more crawls until this site
    stops yielding'. Domains whose novelty is not decaying (slope >=
    0) emit a NULL half_life; fewer than 2 positive-novelty points
    leaves the fit (and slope) undefined. The regression runs on the
    6dp-rounded novelty values both engines already agree on, and the
    sums are domain-keyed folds over calendar-sized point sets (IEEE
    sums of <= |snapshots| ln terms; the final 6dp round absorbs
    order-variation — the embedding_covariance determinism class)."""
    from ..operators.urls import path_novelty

    docs = _snapshot_url_documents(spark, sf_dir)
    base = path_novelty(
        docs, url_col="url", period_col="snapshot", per_domain=True
    )
    pts = base.where(F.col("novelty") > 0).select(
        "domain",
        F.col("snapshot").cast("double").alias("x"),
        F.log("novelty").alias("y"),
    )
    agg = pts.groupBy("domain").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope_raw = F.when(den > F.lit(0.0), num / den)
    half = F.when(
        slope_raw < F.lit(0.0),
        F.round(-F.log(F.lit(2.0)) / slope_raw, 6) + F.lit(0.0),
    )
    return agg.select(
        "domain",
        F.col("n").cast("long").alias("n_points"),
        (F.round(slope_raw, 6) + F.lit(0.0)).alias("slope"),
        half.alias("half_life"),
    )


ORACLE_NOVELTY_HALF_LIFE = """
WITH u AS (
  SELECT CAST(doc_id % 3 AS INT) AS snapshot,
         source || '.' ||
         CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                   WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                   WHEN 'fr' THEN 'fr' ELSE 'org' END AS domain,
         '/' || regexp_replace(
           regexp_extract(lower(text), '^([^ ]*)', 1),
           '[^a-z0-9]', '', 'g') AS path
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
d AS (SELECT DISTINCT domain, snapshot, path FROM u),
f AS (SELECT domain, path, MIN(snapshot) AS fs FROM d GROUP BY 1, 2),
newc AS (
  SELECT domain, fs AS snapshot, count(*) AS n_new
  FROM f GROUP BY 1, 2),
tot AS (
  SELECT domain, snapshot, count(*) AS n_urls FROM d GROUP BY 1, 2),
nov AS (
  SELECT t.domain, t.snapshot,
         ROUND(coalesce(n_new, 0) * 1.0 / n_urls, 6) + 0.0 AS novelty
  FROM tot t LEFT JOIN newc USING (domain, snapshot)),
pts AS (
  SELECT domain, CAST(snapshot AS DOUBLE) AS x, ln(novelty) AS y
  FROM nov WHERE novelty > 0),
agg AS (
  SELECT domain, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts GROUP BY 1)
SELECT domain,
       CAST(n AS BIGINT) AS n_points,
       CASE WHEN n * sxx - sx * sx > 0
            THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                 + 0.0
       END AS slope,
       CASE WHEN n * sxx - sx * sx > 0
             AND (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0
            THEN ROUND(-ln(2.0)
                       / ((n * sxy - sx * sy) / (n * sxx - sx * sx)),
                       6) + 0.0
       END AS half_life
FROM agg
"""


def q_domain_drift_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain drift dashboard (ROADMAP r10 queued composition over
    path_drift + dup_rate_by_group — no new operator): one row per
    (domain, consecutive snapshot pair) joining the URL-set jaccard
    with the domain's exact-dup rate on each side of the pair and the
    delta — the per-site health panel a crawl operator reads before
    re-weighting ('set churned AND dup mass doubled' is a different
    diagnosis than either alone). Sides where the domain has no docs
    carry NULL dup legs (births/deaths keep their jaccard-0 rows)."""
    from ..operators.curation import dup_rate_by_group
    from ..operators.urls import path_drift, registered_domain, url_host

    docs = _snapshot_url_documents(spark, sf_dir)
    base = path_drift(docs, url_col="url", period_col="snapshot")
    rates = dup_rate_by_group(
        docs.withColumn(
            "domain", registered_domain(url_host(F.col("url")))
        ),
        group_col=["domain", "snapshot"],
        text_col="text",
        id_col="doc_id",
    ).select("domain", "snapshot", "n_docs", "dup_rate")
    prev = rates.select(
        "domain", "snapshot",
        F.col("n_docs").alias("docs_prev"),
        F.col("dup_rate").alias("dup_prev"),
    )
    nxt = rates.select(
        "domain",
        F.col("snapshot").alias("next_snapshot"),
        F.col("n_docs").alias("docs_next"),
        F.col("dup_rate").alias("dup_next"),
    )
    delta = F.round(
        F.col("dup_next") - F.col("dup_prev"), 6
    ) + F.lit(0.0)
    return (
        base.join(prev, ["domain", "snapshot"], "left")
        .join(nxt, ["domain", "next_snapshot"], "left")
        .select(
            "domain", "snapshot", "next_snapshot",
            "n_prev", "n_next", "jaccard",
            F.col("docs_prev").cast("long").alias("docs_prev"),
            F.col("docs_next").cast("long").alias("docs_next"),
            "dup_prev", "dup_next",
            delta.alias("dup_delta"),
        )
    )


ORACLE_DOMAIN_DRIFT_PANEL = f"""
WITH base AS ({ORACLE_TEMPORAL_PATH_DRIFT}),
docs AS (
  SELECT source || '.' ||
         CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'co.uk'
                   WHEN 'es' THEN 'com.es' WHEN 'zh' THEN 'com.cn'
                   WHEN 'fr' THEN 'fr' ELSE 'org' END AS domain,
         CAST(doc_id % 3 AS INT) AS snapshot,
         text
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
rates AS (
  SELECT domain, snapshot,
         CAST(count(*) AS BIGINT) AS n_docs,
         ROUND((count(*) - count(DISTINCT md5(text))) * 1.0
               / count(*), 6) + 0.0 AS dup_rate
  FROM docs GROUP BY 1, 2)
SELECT b.domain, b.snapshot, b.next_snapshot,
       b.n_prev, b.n_next, b.jaccard,
       p.n_docs AS docs_prev, n.n_docs AS docs_next,
       p.dup_rate AS dup_prev, n.dup_rate AS dup_next,
       ROUND(n.dup_rate - p.dup_rate, 6) + 0.0 AS dup_delta
FROM base b
LEFT JOIN rates p ON p.domain = b.domain AND p.snapshot = b.snapshot
LEFT JOIN rates n ON n.domain = b.domain
                 AND n.snapshot = b.next_snapshot
"""


PSI_BINS = 32


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type Population Stability Index between consecutive
    days (operators/curation.psi_drift): the industry-standard drift
    score over the shared 32-bin _ks_quantize grid, Laplace-1/2
    smoothed so every bin is defined — the tail-mass-weighting
    companion to ks_drift_binned on the same fixture."""
    from ..operators.curation import psi_drift

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return psi_drift(
        ev, value_col="value", group_col="event_type",
        period_col="day", bins=PSI_BINS,
    )


ORACLE_PSI_DRIFT = f"""
WITH st AS (
  SELECT min(value) AS lo, max(value) AS hi
  FROM events WHERE value IS NOT NULL),
q AS (
  SELECT event_type AS g,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS p,
         CASE WHEN hi = lo THEN 1
              WHEN value >= hi THEN {PSI_BINS}
              ELSE LEAST({PSI_BINS}, GREATEST(1,
                CAST(FLOOR((value - lo) / (hi - lo) * {PSI_BINS}.0)
                     AS INT) + 1))
         END AS v
  FROM events, st
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL),
hg AS (SELECT g, p, v, count(*) AS c FROM q GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT p FROM hg),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
tot AS (
  SELECT a.g, a.p, pairs.np,
         CAST(SUM(a.c) AS BIGINT) AS n_prev
  FROM hg a JOIN pairs USING (p) GROUP BY 1, 2, 3),
totb AS (
  SELECT b.g, pairs.p, b.p AS np,
         CAST(SUM(b.c) AS BIGINT) AS n_next
  FROM hg b JOIN pairs ON b.p = pairs.np GROUP BY 1, 2, 3),
cells AS (
  SELECT t.g, t.p, t.np, t.n_prev, tb.n_next, bins.v
  FROM tot t
  JOIN totb tb ON tb.g = t.g AND tb.p = t.p AND tb.np = t.np,
  unnest(range(1, {PSI_BINS} + 1)) AS bins(v)),
dense AS (
  SELECT c.g, c.p, c.np, c.n_prev, c.n_next, c.v,
         COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
  FROM cells c
  LEFT JOIN hg a ON a.g = c.g AND a.p = c.p AND a.v = c.v
  LEFT JOIN hg b ON b.g = c.g AND b.p = c.np AND b.v = c.v)
SELECT g AS event_type, p AS day, np AS next_day, n_prev, n_next,
       ROUND(SUM(((ca + 0.5) / (n_prev + {PSI_BINS} / 2.0)
                  - (cb + 0.5) / (n_next + {PSI_BINS} / 2.0))
                 * ln(((ca + 0.5) / (n_prev + {PSI_BINS} / 2.0))
                      / ((cb + 0.5) / (n_next + {PSI_BINS} / 2.0)))),
             6) + 0.0 AS psi
FROM dense
GROUP BY 1, 2, 3, 4, 5
"""


def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical JS drift between consecutive snapshots
    (operators/curation.js_drift — the temporal leg of
    token_js_divergence): each source's unigram distribution in
    snapshot t vs t+1 over the union support, token text reduced to
    xxhash64 digests before the fold; the oracle folds raw strings."""
    from ..operators.curation import js_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return js_drift(
        docs, text_col="text", group_col="source",
        period_col="snapshot",
    )


ORACLE_JS_DRIFT = r"""
WITH tok AS (
  SELECT source AS g, CAST(doc_id % 3 AS INT) AS p,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS t
  FROM documents
  -- doc_id IS NOT NULL replicates the operator's NULL-period drop
  -- (the derived snapshot doc_id % 3 is NULL exactly when doc_id is)
  WHERE source IS NOT NULL AND doc_id IS NOT NULL),
hg AS (SELECT g, p, t, count(*) AS c FROM tok GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT p FROM hg),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
a AS (SELECT hg.g, hg.p, pairs.np, hg.t, hg.c AS ca
      FROM hg JOIN pairs USING (p)),
b AS (SELECT hg.g, pairs.p, hg.p AS np, hg.t, hg.c AS cb
      FROM hg JOIN pairs ON hg.p = pairs.np),
grid AS (
  SELECT g, p, np, t FROM a UNION SELECT g, p, np, t FROM b),
m AS (
  SELECT grid.g, grid.p, grid.np, grid.t,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM grid
  LEFT JOIN a ON a.g = grid.g AND a.p = grid.p AND a.np = grid.np
             AND a.t = grid.t
  LEFT JOIN b ON b.g = grid.g AND b.p = grid.p AND b.np = grid.np
             AND b.t = grid.t),
tot AS (
  SELECT g, p, np,
         CAST(SUM(ca) AS BIGINT) AS n_prev,
         CAST(SUM(cb) AS BIGINT) AS n_next
  FROM m GROUP BY 1, 2, 3)
SELECT m.g AS source, m.p AS snapshot, m.np AS next_snapshot,
       tot.n_prev, tot.n_next,
       ROUND(0.5 * SUM(
         CASE WHEN ca > 0
              THEN (ca * 1.0 / n_prev)
                   * ln((ca * 1.0 / n_prev)
                        / ((ca * 1.0 / n_prev + cb * 1.0 / n_next)
                           / 2.0))
              ELSE 0.0 END
         + CASE WHEN cb > 0
                THEN (cb * 1.0 / n_next)
                     * ln((cb * 1.0 / n_next)
                          / ((ca * 1.0 / n_prev + cb * 1.0 / n_next)
                             / 2.0))
                ELSE 0.0 END), 6) + 0.0 AS js
FROM m
JOIN tot ON tot.g = m.g AND tot.p = m.p AND tot.np = m.np
WHERE n_prev > 0 AND n_next > 0
GROUP BY 1, 2, 3, 4, 5
"""


def q_token_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary novelty by snapshot (operators/curation.
    token_novelty — path_novelty's lexical twin via the shared
    drift.set_novelty assembly): the fraction of each source's
    distinct token set first seen in that snapshot."""
    from ..operators.curation import token_novelty

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return token_novelty(
        docs, text_col="text", group_col="source",
        period_col="snapshot",
    )


ORACLE_TOKEN_NOVELTY = r"""
WITH d AS (
  SELECT DISTINCT source AS g, CAST(doc_id % 3 AS INT) AS p,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS t
  FROM documents
  -- doc_id IS NOT NULL replicates the operator's NULL-period drop
  -- (the derived snapshot doc_id % 3 is NULL exactly when doc_id is)
  WHERE source IS NOT NULL AND doc_id IS NOT NULL),
f AS (SELECT g, t, MIN(p) AS fs FROM d GROUP BY 1, 2),
newc AS (SELECT g, fs AS p, count(*) AS n_new FROM f GROUP BY 1, 2),
tot AS (SELECT g, p, count(*) AS n_tokens FROM d GROUP BY 1, 2)
SELECT t.g AS source, t.p AS snapshot,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
       ROUND(COALESCE(n_new, 0) * 1.0 / n_tokens, 6) + 0.0 AS novelty
FROM tot t LEFT JOIN newc ON newc.g = t.g AND newc.p = t.p
"""


def q_embedding_drift_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift anomaly panel (a pure COMPOSITION over
    centroid_drift — the drift_anomaly recipe carried to the
    representation axis, no new operator): z-score each label's
    centroid L2 shift against its snapshot-pair population, so the
    one label whose embedding re-centered surfaces even when every
    label drifts a little. Same exact-integer trick: the 6dp l2_shift
    scales to lossless longs, so the population mean/stddev — and the
    6dp z — are bit-identical across engines and partitionings;
    zero-variance pairs emit z = 0. Population frames are
    (pair)-sized and move by broadcast."""
    from ..operators.embedding_ops import centroid_drift

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "snapshot", (F.col("vec_id") % 3).cast("int")
    )
    base = centroid_drift(
        emb, vec_col="embedding", group_col="label",
        period_col="snapshot",
    )
    j6 = F.round(F.col("l2_shift") * 1e6).cast("long")
    b = base.select(
        "label", "snapshot", "next_snapshot", "l2_shift",
        j6.alias("__j"),
    )
    pop = b.groupBy("snapshot", "next_snapshot").agg(
        F.count("*").alias("__n"),
        F.sum("__j").alias("__s1"),
        F.sum(F.col("__j") * F.col("__j")).alias("__s2"),
    )
    nd = F.col("__n").cast("double")
    s1d = F.col("__s1").cast("double")
    s2d = F.col("__s2").cast("double")
    jd = F.col("__j").cast("double")
    var = (s2d - (s1d * s1d) / nd) / nd
    z = F.when(var > 0, (jd - s1d / nd) / F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    return b.join(F.broadcast(pop), ["snapshot", "next_snapshot"]).select(
        "label", "snapshot", "next_snapshot", "l2_shift",
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


ORACLE_EMBEDDING_DRIFT_ANOMALY = f"""
WITH base AS ({ORACLE_CENTROID_DRIFT}),
b AS (
  SELECT label, snapshot, next_snapshot, l2_shift,
         CAST(ROUND(l2_shift * 1000000) AS BIGINT) AS j
  FROM base),
pop AS (
  SELECT snapshot, next_snapshot,
         count(*) AS n, SUM(j) AS s1, SUM(j * j) AS s2
  FROM b GROUP BY 1, 2)
SELECT b.label, b.snapshot, b.next_snapshot, b.l2_shift,
       ROUND(CASE WHEN ((s2 * 1.0) - ((s1 * 1.0) * (s1 * 1.0))
                        / (n * 1.0)) / (n * 1.0) > 0
             THEN ((j * 1.0) - (s1 * 1.0) / (n * 1.0))
                  / sqrt(((s2 * 1.0) - ((s1 * 1.0) * (s1 * 1.0))
                          / (n * 1.0)) / (n * 1.0))
             ELSE 0.0 END, 6) + 0.0 AS z
FROM b JOIN pop USING (snapshot, next_snapshot)
"""


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy quality score (operators/curation.
    unigram_entropy): the compression-proxy signal from the in-row
    word histogram — map-only, zero shuffle, the repetition_stats
    shape with Shannon arithmetic."""
    from ..operators.curation import unigram_entropy

    docs = _t(spark, sf_dir, "documents")
    return unigram_entropy(docs, text_col="text", id_col="doc_id")


ORACLE_UNIGRAM_ENTROPY = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> len(x) > 0)) AS t
  FROM documents
  -- replicate the operator's NULL-id drop (a per-doc signal keyed by
  -- doc_id is undefined for NULL ids; without this filter the GROUP
  -- BY would collapse all NULL-id docs into one oracle row)
  WHERE doc_id IS NOT NULL),
c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS vocab,
         SUM(c * ln(c)) AS s
  FROM c GROUP BY 1)
SELECT doc_id, n AS n_tokens, vocab,
       ROUND(ln(n) - s / n, 6) + 0.0 AS entropy,
       CASE WHEN vocab > 1
            THEN ROUND((ln(n) - s / n) / ln(vocab), 6) + 0.0
       END AS norm_entropy
FROM agg
"""


def q_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup YIELD CURVE (ROADMAP r11 queued
    composition over minhash_ledger_replay — no new operator): per
    replayed batch, how much of the new crawl is already held by the
    accumulated ledger (n_dup / n_docs) and how large the ledger has
    grown — the operational "is this source still worth fetching"
    readout a crawl scheduler consumes. One calendar-sized fold over
    the replay output: groupBy(batch) with map-side combine, then a
    cumulative ledger_size window over the batch axis (|batches|
    rows — the calendar-bounded global-window class). Re-executes the
    replay live (the bench rule: every query computes from the parquet
    inputs — no cross-query artifact reuse), so the curve's cost is
    the replay plan plus a 3-row fold."""
    from pyspark.sql import Window  # noqa: PLC0415

    rep = _minhash_replay_frame(spark, sf_dir)
    per = rep.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            (F.col("keeper_id") != F.col("doc_id")).cast("long")
        ).alias("n_dup"),
    )
    w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per.select(
        "batch",
        "n_docs",
        "n_dup",
        (
            F.round(F.col("n_dup") / F.col("n_docs"), 6) + F.lit(0.0)
        ).alias("dup_rate"),
        F.sum(F.col("n_docs") - F.col("n_dup"))
        .over(w)
        .cast("long")
        .alias("ledger_size"),
    )


ORACLE_DEDUP_YIELD_CURVE = f"""
WITH replay AS ({ORACLE_MINHASH_LEDGER_REPLAY}),
per AS (
  SELECT batch,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN keeper_id <> doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup
  FROM replay GROUP BY 1)
SELECT batch, n_docs, n_dup,
       ROUND(n_dup * 1.0 / n_docs, 6) + 0.0 AS dup_rate,
       CAST(SUM(n_docs - n_dup)
              OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS ledger_size
FROM per
"""


def q_drift_panel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, snapshot-pair) DISTRIBUTIONAL drift panel (ROADMAP
    r11 queued composition — no new operator): the drift dashboard's
    row joining the three scores every crawl comparison reads
    together — PSI and KS of the n_chars length distribution on ONE
    shared 32-bin grid (both legs receive the same ``bins`` so the
    _ks_quantize grid is identical by construction), and lexical JS
    divergence of the unigram distribution. PSI weights tail mass, KS
    reads the supremum, JS reads vocabulary shift — disagreement
    between the columns IS the diagnostic. Inner join on the pair key
    for psi × ks (identical definedness: same value column, same
    both-sides-present contract), LEFT join for js (a source with
    lengths on both sides but no tokens reads NULL). Each leg keeps
    its own calendar-pair/broadcast shape; the final joins are
    (group × pair)-sized."""
    from ..operators.curation import (
        _ks_from_paired,
        _ks_quantize,
        _paired_value_counts,
        _psi_from_paired,
        js_drift,
    )
    from ..operators.spread import pinned

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    # psi_drift and ks_drift share their entire prefix — the
    # _ks_quantize grid pass and the (group, period, bin) histogram
    # assembly — so the panel runs that prefix ONCE and pins it
    # MATERIALIZED for the two reductions (before r12 each leg
    # re-scanned documents and re-folded the histogram; guide §1.2 /
    # §2.4). Values are identical by construction: each leg's
    # reduction is the operator's own, over the same merged frame it
    # would have built itself.
    q, _ = _ks_quantize(
        docs, None, "n_chars", KS_BINS, keep_cols=("source", "snapshot")
    )
    merged = pinned(
        _paired_value_counts(q, "n_chars", "source", "snapshot", pin=True)
    )
    psi = _psi_from_paired(merged, KS_BINS, "source", "snapshot")
    ks = _ks_from_paired(merged, "source", "snapshot", pin=True)
    js = js_drift(
        docs, text_col="text", group_col="source",
        period_col="snapshot",
    )
    keys = ["source", "snapshot", "next_snapshot"]
    return (
        psi.join(ks.select(*keys, "ks"), keys)
        .join(js.select(*keys, "js"), keys, "left")
        .select(*keys, "n_prev", "n_next", "psi", "ks", "js")
    )


ORACLE_DRIFT_PANEL_JOIN = f"""
WITH st AS (
  SELECT min(n_chars) AS lo, max(n_chars) AS hi
  FROM documents WHERE n_chars IS NOT NULL),
q AS (
  SELECT source AS g, CAST(doc_id % 3 AS INT) AS p,
         CASE WHEN hi = lo THEN 1
              WHEN n_chars >= hi THEN {KS_BINS}
              ELSE LEAST({KS_BINS}, GREATEST(1,
                CAST(FLOOR((n_chars - lo) / (hi - lo) * {KS_BINS}.0)
                     AS INT) + 1))
         END AS v
  FROM documents, st
  WHERE n_chars IS NOT NULL AND source IS NOT NULL
    AND doc_id IS NOT NULL),
hg AS (SELECT g, p, v, count(*) AS c FROM q GROUP BY 1, 2, 3),
per AS (SELECT DISTINCT p FROM hg),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
tot AS (
  SELECT a.g, a.p, pairs.np,
         CAST(SUM(a.c) AS BIGINT) AS n_prev
  FROM hg a JOIN pairs USING (p) GROUP BY 1, 2, 3),
totb AS (
  SELECT b.g, pairs.p, b.p AS np,
         CAST(SUM(b.c) AS BIGINT) AS n_next
  FROM hg b JOIN pairs ON b.p = pairs.np GROUP BY 1, 2, 3),
cells AS (
  SELECT t.g, t.p, t.np, t.n_prev, tb.n_next, bins.v
  FROM tot t
  JOIN totb tb ON tb.g = t.g AND tb.p = t.p AND tb.np = t.np,
  unnest(range(1, {KS_BINS} + 1)) AS bins(v)),
dense AS (
  SELECT c.g, c.p, c.np, c.n_prev, c.n_next, c.v,
         COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
  FROM cells c
  LEFT JOIN hg a ON a.g = c.g AND a.p = c.p AND a.v = c.v
  LEFT JOIN hg b ON b.g = c.g AND b.p = c.np AND b.v = c.v),
psi AS (
  SELECT g, p, np, n_prev, n_next,
         ROUND(SUM(((ca + 0.5) / (n_prev + {KS_BINS} / 2.0)
                    - (cb + 0.5) / (n_next + {KS_BINS} / 2.0))
                   * ln(((ca + 0.5) / (n_prev + {KS_BINS} / 2.0))
                        / ((cb + 0.5)
                           / (n_next + {KS_BINS} / 2.0)))),
               6) + 0.0 AS psi
  FROM dense GROUP BY 1, 2, 3, 4, 5),
ka AS (SELECT hg.g, hg.p, pairs.np, hg.v, hg.c AS ca
       FROM hg JOIN pairs USING (p)),
kb AS (SELECT hg.g, pairs.p, hg.p AS np, hg.v, hg.c AS cb
       FROM hg JOIN pairs ON hg.p = pairs.np),
kgrid AS (
  SELECT g, p, np, v FROM ka UNION SELECT g, p, np, v FROM kb),
km AS (
  SELECT kgrid.g, kgrid.p, kgrid.np, kgrid.v,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM kgrid
  LEFT JOIN ka ON ka.g = kgrid.g AND ka.p = kgrid.p
              AND ka.np = kgrid.np AND ka.v = kgrid.v
  LEFT JOIN kb ON kb.g = kgrid.g AND kb.p = kgrid.p
              AND kb.np = kgrid.np AND kb.v = kgrid.v),
kc AS (
  SELECT g, p, np,
         SUM(ca) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cca,
         SUM(cb) OVER (PARTITION BY g, p, np ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ccb
  FROM km),
kt AS (
  SELECT g, p, np,
         CAST(MAX(cca) AS BIGINT) AS n_prev,
         CAST(MAX(ccb) AS BIGINT) AS n_next
  FROM kc GROUP BY 1, 2, 3),
ks AS (
  SELECT kc.g, kc.p, kc.np,
         ROUND(MAX(ABS(cca * 1.0 / kt.n_prev
                       - ccb * 1.0 / kt.n_next)), 6) + 0.0 AS ks
  FROM kc
  JOIN kt ON kt.g = kc.g AND kt.p = kc.p AND kt.np = kc.np
  WHERE kt.n_prev > 0 AND kt.n_next > 0
  GROUP BY 1, 2, 3),
js AS ({ORACLE_JS_DRIFT})
SELECT psi.g AS source, psi.p AS snapshot, psi.np AS next_snapshot,
       psi.n_prev, psi.n_next, psi.psi, ks.ks, js.js
FROM psi
JOIN ks ON ks.g = psi.g AND ks.p = psi.p AND ks.np = psi.np
LEFT JOIN js ON js.source = psi.g AND js.snapshot = psi.p
            AND js.next_snapshot = psi.np
"""


def q_paragraph_ledger_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level cross-snapshot exact ledger (operators/dedup.
    paragraph_ledger_replay — the paragraph_dedup × incremental-ledger
    product, VERDICT r10 #5's queued NEW family): three crawl
    snapshots (doc_id % 3) replay in order; per document, the
    fraction of its span mass already held by earlier snapshots. The
    synthetic docs are single-line, so this plan runs the ledger at
    WORD-span granularity (sep=' ' — every token is a span, the
    densest cross-batch overlap the fixture offers); the pytest
    fixture exercises real multi-line paragraphs. Order-free by
    construction (held iff min(batch) over the span's occurrences <
    own batch), so the oracle needs no unrolling."""
    from ..operators.dedup import paragraph_ledger_replay

    docs = _t(spark, sf_dir, "documents").withColumn(
        "batch", (F.col("doc_id") % 3).cast("int")
    )
    return paragraph_ledger_replay(
        docs, text_col="text", id_col="doc_id", batch_col="batch",
        sep=" ",
    )


ORACLE_PARAGRAPH_LEDGER_REPLAY = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch, trim(s) AS para
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS s
        FROM documents WHERE doc_id IS NOT NULL)
  WHERE len(trim(s)) > 0),
f AS (SELECT para, min(batch) AS fb FROM p GROUP BY 1)
SELECT p.doc_id, p.batch,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN f.fb < p.batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_held,
       ROUND(SUM(CASE WHEN f.fb < p.batch THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) + 0.0 AS held_frac
FROM p JOIN f USING (para)
GROUP BY 1, 2
"""


CONFORMAL_ALPHA = 0.1


def q_conformal_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise split-conformal outlier gate (operators/curation.
    conformal_outlier_bounds — ROADMAP r11 NEW family): per source, an
    80 % content-addressed calibration sample sets the alpha = 0.1
    upper bound on n_chars at exact rank ceil(0.9 * (n_cal + 1)), and
    the held-out 20 % is gated against it — the distribution-free
    anomaly fence for curation scores. Exact rank arithmetic end to
    end, so every column is engine-identical."""
    from ..operators.curation import conformal_outlier_bounds

    docs = _t(spark, sf_dir, "documents")
    return conformal_outlier_bounds(
        docs, score_col="n_chars", group_col="source",
        id_col="doc_id", alpha=CONFORMAL_ALPHA,
    )


ORACLE_CONFORMAL_OUTLIER_BOUNDS = """
WITH base AS (
  SELECT source AS g, doc_id AS i, CAST(n_chars AS DOUBLE) AS s,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS cal
  FROM documents
  WHERE source IS NOT NULL AND doc_id IS NOT NULL
    AND n_chars IS NOT NULL),
rk AS (
  SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s, i) AS r
  FROM base WHERE cal),
nc AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_cal
  FROM base WHERE cal GROUP BY 1),
bd AS (
  SELECT rk.g, rk.s AS bound
  FROM rk JOIN nc USING (g)
  WHERE rk.r = CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)),
calside AS (
  SELECT nc.g, nc.n_cal, bd.bound FROM nc LEFT JOIN bd USING (g)),
testside AS (
  SELECT b.g, CAST(count(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN c.bound IS NOT NULL AND b.s > c.bound
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
  FROM base b LEFT JOIN calside c USING (g)
  WHERE NOT b.cal GROUP BY 1)
SELECT COALESCE(c.g, t.g) AS source,
       COALESCE(c.n_cal, 0) AS n_cal,
       COALESCE(t.n_test, 0) AS n_test,
       c.bound,
       COALESCE(t.n_flagged, 0) AS n_flagged,
       ROUND(t.n_flagged * 1.0 / t.n_test, 6) + 0.0 AS flag_rate
FROM calside c FULL OUTER JOIN testside t ON t.g = c.g
"""


def q_paragraph_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-ledger yield curve (operators/dedup.paragraph_ledger_yield
    — ROADMAP r12 candidate landed early, the span-granular twin of
    dedup_yield_curve): per snapshot, held span mass vs the
    accumulated distinct-span ledger. Word-span granularity on the
    single-line synthetic docs (the paragraph_ledger_replay fixture
    convention); same order-free min(batch) algebra, so the curve is
    one declarative plan with no unrolled oracle."""
    from ..operators.dedup import paragraph_ledger_yield

    docs = _t(spark, sf_dir, "documents").withColumn(
        "batch", (F.col("doc_id") % 3).cast("int")
    )
    return paragraph_ledger_yield(
        docs, text_col="text", id_col="doc_id", batch_col="batch",
        sep=" ",
    )


ORACLE_PARAGRAPH_YIELD_CURVE = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch, trim(s) AS para
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS s
        FROM documents WHERE doc_id IS NOT NULL)
  WHERE len(trim(s)) > 0),
f AS (SELECT para, min(batch) AS fb FROM p GROUP BY 1),
occ AS (
  SELECT p.batch,
         CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN f.fb < p.batch THEN 1 ELSE 0 END)
              AS BIGINT) AS n_held
  FROM p JOIN f USING (para) GROUP BY 1),
nw AS (SELECT fb AS batch, count(*) AS n_new FROM f GROUP BY 1)
SELECT occ.batch, n_docs, n_spans, n_held,
       ROUND(n_held * 1.0 / n_spans, 6) + 0.0 AS held_frac,
       CAST(SUM(COALESCE(n_new, 0))
              OVER (ORDER BY occ.batch ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS ledger_size
FROM occ LEFT JOIN nw USING (batch)
"""


def q_conformal_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal conformal drift gate (operators/curation.
    conformal_drift_gate — ROADMAP r12 candidate landed early): per
    source and consecutive snapshot pair, snapshot t's n_chars
    calibrate the alpha = 0.1 conformal bound and snapshot t+1's rows
    are gated against it — flag_rate far above 0.1 is a
    distribution-free drift alarm. Exact rank arithmetic end to end."""
    from ..operators.curation import conformal_drift_gate

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return conformal_drift_gate(
        docs, score_col="n_chars", group_col="source",
        period_col="snapshot", alpha=CONFORMAL_ALPHA,
    )


ORACLE_CONFORMAL_DRIFT_GATE = """
WITH base AS (
  SELECT source AS g, CAST(doc_id % 3 AS INT) AS p,
         CAST(n_chars AS DOUBLE) AS s
  FROM documents
  WHERE source IS NOT NULL AND doc_id IS NOT NULL
    AND n_chars IS NOT NULL),
per AS (SELECT DISTINCT p FROM base),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL),
nc AS (
  SELECT g, p, CAST(count(*) AS BIGINT) AS n_cal
  FROM base GROUP BY 1, 2),
rk AS (
  SELECT g, p, s, row_number() OVER (PARTITION BY g, p ORDER BY s) AS r
  FROM base),
bd AS (
  SELECT rk.g, rk.p, rk.s AS bound
  FROM rk JOIN nc USING (g, p)
  WHERE rk.r = CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)),
calp AS (
  SELECT nc.g, nc.p, pairs.np, nc.n_cal, bd.bound
  FROM nc
  JOIN pairs USING (p)
  LEFT JOIN bd ON bd.g = nc.g AND bd.p = nc.p)
SELECT calp.g AS source, calp.p AS snapshot, calp.np AS next_snapshot,
       calp.n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       calp.bound,
       CAST(SUM(CASE WHEN calp.bound IS NOT NULL AND b.s > calp.bound
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       ROUND(SUM(CASE WHEN calp.bound IS NOT NULL AND b.s > calp.bound
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0.0
         AS flag_rate
FROM calp JOIN base b ON b.g = calp.g AND b.p = calp.np
GROUP BY 1, 2, 3, 4, 6
"""


LOGBUCKET_SUB = 16


def q_logbucket_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from the deterministic log-bucket
    sketch (operators/quantile_hist.logbucket_quantiles — VERDICT r10
    #5's named mergeable-quantile-sketch candidate in exact-integer
    form): p50/p90/p99 of n_chars per source from one single-pass
    fold, no min/max pre-pass, relative error < 1/16 gated in tests;
    every column engine-exact, so the sketch readout hash-matches
    where a KLL/t-digest would be rows-only."""
    from ..operators.quantile_hist import logbucket_quantiles

    docs = _t(spark, sf_dir, "documents")
    return logbucket_quantiles(
        docs, value_col="n_chars", group_col="source",
        percentiles=(0.5, 0.9, 0.99), sub=LOGBUCKET_SUB,
    )


ORACLE_LOGBUCKET_QUANTILES = f"""
WITH base AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
    AND CAST(n_chars AS BIGINT) >= 1),
b AS (
  SELECT g, v, CAST(length(bin(v)) - 1 AS INT) AS e FROM base),
cells AS (
  SELECT g, e,
         CASE WHEN e >= {LOGBUCKET_SUB.bit_length() - 1}
              THEN (v - (1::BIGINT << e))
                     // (1::BIGINT << (e - {LOGBUCKET_SUB.bit_length() - 1}))
              ELSE ((v - (1::BIGINT << e)) * {LOGBUCKET_SUB})
                     // (1::BIGINT << e)
         END AS m,
         count(*) AS c
  FROM b GROUP BY 1, 2, 3),
cum AS (
  SELECT g, e, m, c,
         SUM(c) OVER (PARTITION BY g ORDER BY e, m
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells),
n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1),
targets AS (
  SELECT n.g, n.n, p.percentile,
         CAST(ceil(p.percentile * n.n) AS BIGINT) AS r
  FROM n, (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
             AS percentile) p),
hit AS (
  SELECT t.g, t.percentile, t.n,
         min(cum.e * {LOGBUCKET_SUB} + cum.m) AS em
  FROM targets t
  JOIN cum ON cum.g = t.g AND cum.cum >= t.r
  GROUP BY 1, 2, 3)
SELECT g AS source, percentile, n,
       (CAST({LOGBUCKET_SUB} + (em % {LOGBUCKET_SUB}) AS DOUBLE)
        * CAST(1::BIGINT << (em // {LOGBUCKET_SUB}) AS DOUBLE))
         / {LOGBUCKET_SUB}.0 AS q_est
FROM hit
"""


def q_logbucket_quantile_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(source, snapshot-pair) p50/p90/p99 shift of n_chars from
    the shared log-bucket sketch (operators/quantile_hist.
    logbucket_quantile_drift — VERDICT r11 #4's quantile-sketch drift
    leg): one sketch fold per (source, snapshot), consecutive
    snapshots joined on the calendar, q_ratio = q_next / q_prev. The
    sixth temporal-audit leg (path/content/dup-rate/KS/conformal +
    this), fully hash-oracle-able because every sketch step is exact
    integer arithmetic and the readout is a dyadic double."""
    from ..operators.quantile_hist import logbucket_quantile_drift

    docs = _t(spark, sf_dir, "documents").withColumn(
        "snapshot", (F.col("doc_id") % 3).cast("int")
    )
    return logbucket_quantile_drift(
        docs, value_col="n_chars", group_col="source",
        period_col="snapshot", percentiles=(0.5, 0.9, 0.99),
        sub=LOGBUCKET_SUB,
    )


ORACLE_LOGBUCKET_QUANTILE_DRIFT = f"""
WITH base AS (
  SELECT source AS g, CAST(doc_id % 3 AS INT) AS p,
         CAST(n_chars AS BIGINT) AS v
  FROM documents
  WHERE source IS NOT NULL AND doc_id IS NOT NULL
    AND n_chars IS NOT NULL AND CAST(n_chars AS BIGINT) >= 1),
b AS (
  SELECT g, p, v, CAST(length(bin(v)) - 1 AS INT) AS e FROM base),
cells AS (
  SELECT g, p, e,
         CASE WHEN e >= {LOGBUCKET_SUB.bit_length() - 1}
              THEN (v - (1::BIGINT << e))
                     // (1::BIGINT << (e - {LOGBUCKET_SUB.bit_length() - 1}))
              ELSE ((v - (1::BIGINT << e)) * {LOGBUCKET_SUB})
                     // (1::BIGINT << e)
         END AS m,
         count(*) AS c
  FROM b GROUP BY 1, 2, 3, 4),
cum AS (
  SELECT g, p, e, m, c,
         SUM(c) OVER (PARTITION BY g, p ORDER BY e, m
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells),
n AS (SELECT g, p, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
targets AS (
  SELECT n.g, n.p, n.n, q.percentile,
         CAST(ceil(q.percentile * n.n) AS BIGINT) AS r
  FROM n, (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
             AS percentile) q),
hit AS (
  SELECT t.g, t.p, t.percentile, t.n,
         min(cum.e * {LOGBUCKET_SUB} + cum.m) AS em
  FROM targets t
  JOIN cum ON cum.g = t.g AND cum.p = t.p AND cum.cum >= t.r
  GROUP BY 1, 2, 3, 4),
ro AS (
  SELECT g, p, percentile, n,
         (CAST({LOGBUCKET_SUB} + (em % {LOGBUCKET_SUB}) AS DOUBLE)
          * CAST(1::BIGINT << (em // {LOGBUCKET_SUB}) AS DOUBLE))
           / {LOGBUCKET_SUB}.0 AS q_est
  FROM hit),
per AS (SELECT DISTINCT p FROM ro),
pairs AS (
  SELECT p, lead(p) OVER (ORDER BY p) AS np
  FROM per QUALIFY np IS NOT NULL)
SELECT a.g AS source, a.p AS snapshot, pairs.np AS next_snapshot,
       a.percentile,
       a.n AS n_prev, bb.n AS n_next,
       a.q_est AS q_prev, bb.q_est AS q_next,
       ROUND(bb.q_est / a.q_est, 6) + 0.0 AS q_ratio
FROM ro a
JOIN pairs ON pairs.p = a.p
JOIN ro bb ON bb.g = a.g AND bb.p = pairs.np
          AND bb.percentile = a.percentile
"""


CALIBRATION_BINS = 16
RELIABILITY_BINS = 10


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source isotonic calibration curve of P(lang = 'en' | length)
    (operators/calibration.isotonic_calibration — NEW family, ROADMAP
    r12 candidate: the calibration twin of the conformal gate):
    monotone L2 fit of the per-bin positive rate over 16 equal-width
    n_chars bins, computed via the exact max–min characterization so
    the curve is bit-identical across engines (a sequential PAV loop
    would be rows-only). The fixture's label is the documents table's
    language flag — the "is this score bucket worth keeping" readout a
    threshold policy consumes."""
    from ..operators.calibration import isotonic_calibration

    docs = _t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    return isotonic_calibration(
        docs, score_col="n_chars", label_col="label",
        group_col="source", bins=CALIBRATION_BINS,
    )


ORACLE_ISOTONIC_CALIBRATION = f"""
WITH base AS (
  SELECT source AS g, CAST(n_chars AS DOUBLE) AS s,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
    AND lang IS NOT NULL),
st AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
binned AS (
  SELECT g, y,
         CASE WHEN hi = lo THEN 1
              WHEN s >= hi THEN {CALIBRATION_BINS}
              ELSE LEAST({CALIBRATION_BINS}, GREATEST(1,
                CAST(FLOOR((s - lo) / (hi - lo) * {CALIBRATION_BINS}.0)
                     AS INT) + 1))
         END AS b
  FROM base, st),
cells AS (
  SELECT g, b, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM binned GROUP BY 1, 2),
pre AS (
  SELECT g, b, n, pos,
         SUM(n) OVER (PARTITION BY g ORDER BY b
                      ROWS UNBOUNDED PRECEDING) - n AS pn,
         SUM(pos) OVER (PARTITION BY g ORDER BY b
                        ROWS UNBOUNDED PRECEDING) - pos AS ppos
  FROM cells),
ranges AS (
  SELECT lo_.g, lo_.b AS i, hi_.b AS j,
         CAST(hi_.cpos - lo_.ppos AS DOUBLE)
           / CAST(hi_.cn - lo_.pn AS DOUBLE) AS avg
  FROM (SELECT g, b, pn, ppos FROM pre) lo_
  JOIN (SELECT g, b, pn + n AS cn, ppos + pos AS cpos FROM pre) hi_
    ON hi_.g = lo_.g AND lo_.b <= hi_.b),
minj AS (
  SELECT r.g, k.b AS k, r.i, min(r.avg) AS mj
  FROM ranges r
  JOIN cells k ON k.g = r.g AND r.i <= k.b AND r.j >= k.b
  GROUP BY 1, 2, 3),
iso AS (
  SELECT g, k, max(mj) AS iso FROM minj GROUP BY 1, 2)
SELECT c.g AS source, c.b AS bin, c.n, c.pos,
       ROUND(CAST(c.pos AS DOUBLE) / CAST(c.n AS DOUBLE), 6) + 0.0
         AS rate_raw,
       ROUND(iso.iso, 6) + 0.0 AS rate_iso
FROM cells c JOIN iso ON iso.g = c.g AND iso.k = c.b
"""


def q_calibration_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source reliability diagram + ECE over 10 fixed confidence
    bins (operators/calibration.calibration_reliability — the
    isotonic entry's diagnostic sibling): the fixture derives a
    deterministic pseudo-confidence (doc_id % 101) / 100 in [0, 1]
    and the same language label, the standard "is the score a
    probability" audit. acc and the bin edges are engine-exact;
    avg_conf/ece sit in the documented psi_drift IEEE-sum class."""
    from ..operators.calibration import calibration_reliability

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        ((F.col("doc_id") % 101) / F.lit(100.0)).alias("conf"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return calibration_reliability(
        docs, conf_col="conf", label_col="label",
        group_col="source", bins=RELIABILITY_BINS,
    )


ORACLE_CALIBRATION_RELIABILITY = f"""
WITH base AS (
  SELECT source AS g,
         CAST(doc_id % 101 AS DOUBLE) / 100.0 AS c,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents
  WHERE source IS NOT NULL AND doc_id IS NOT NULL
    AND lang IS NOT NULL),
binned AS (
  SELECT g, c, y,
         LEAST({RELIABILITY_BINS}, GREATEST(1,
           CAST(FLOOR(c * {RELIABILITY_BINS}.0) AS INT) + 1)) AS b
  FROM base WHERE c >= 0.0 AND c <= 1.0),
cells AS (
  SELECT g, b, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos,
         SUM(c) AS sc
  FROM binned GROUP BY 1, 2),
tot AS (
  SELECT g, CAST(SUM(n) AS BIGINT) AS n_total,
         SUM(n * ABS(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                     - sc / CAST(n AS DOUBLE))) AS w_gap
  FROM cells GROUP BY 1)
SELECT c.g AS source, c.b AS bin, c.n, t.n_total,
       ROUND(c.sc / CAST(c.n AS DOUBLE), 6) + 0.0 AS avg_conf,
       ROUND(CAST(c.pos AS DOUBLE) / CAST(c.n AS DOUBLE), 6) + 0.0
         AS acc,
       ROUND(CAST(c.pos AS DOUBLE) / CAST(c.n AS DOUBLE)
             - c.sc / CAST(c.n AS DOUBLE), 6) + 0.0 AS gap,
       ROUND(t.w_gap / CAST(t.n_total AS DOUBLE), 6) + 0.0 AS ece
FROM cells c JOIN tot t ON t.g = c.g
"""
