"""Access-log parse + filter + project pipeline (SURVEY.md §2.2-2.3).

Pure ``DataFrame -> DataFrame`` transforms, composable via
``df.transform(...)``; each works identically on batch
(``spark.read.text``) and streaming (``spark.readStream.text``) frames —
the reference proves that parity with its batch ``log->edn`` entry point
(reference: src/dwds/livestream/server.clj:37-48).

Hot-path design: everything is built-in columnar expressions, and the
executed plan is one WholeStageCodegen stage (Filter -> Generate ->
Filter -> Project) — a cheap substring pre-filter short-circuits before
the 8-group regex runs (the reference orders its predicates the same
way, access_log.clj:81 before :92), and only {timestamp, lemma} survive
the projection so column pruning reaches the scan.

No higher-order function (``transform``/``filter``/``exists``/
``aggregate``) may enter the parse: HOFs are ``CodegenFallback``, which
pulls their Filter/Project out of the codegen stage, and the fallback
Filter regenerates its predicate code in every task — on a live server
that is a fixed cost per micro-batch. No ``lower()`` either (see
``bots.py``). ``tests/test_access_log.py`` pins both.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from .bots import is_bot

URI_PREFIX = "/wb/"
WB_REQUEST_MARKER = f"GET {URI_PREFIX}"
TYPEAHEAD_MARKER = f"{WB_REQUEST_MARKER}typeahead"

# Apache combined log pattern — same group structure as the reference's
# pattern (access_log.clj:36-47): optional IP, bracketed timestamp,
# method + URI, 3-digit status, size, quoted referrer, quoted UA.
# Unanchored find semantics match Clojure's re-find / Spark's
# regexp_extract.
LOG_LINE_PATTERN = (
    r"(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})?\s-\s-\s"
    r"\[(.*)\]\s"
    r'"(\w+)\s([^\s]+)[^"]*"\s'
    r"(\d{3})\s"
    r"(\d+)\s"
    r'"([^"]*)"\s'
    r'"([^"]*)".*'
)

TIMESTAMP_FORMAT = "dd/MMM/yyyy:HH:mm:ss Z"  # access_log.clj:49-50


def is_wb_page_request_line(line: Column) -> Column:
    """F1 — cheap substring pre-filter applied before regex parse
    (access_log.clj:22-31)."""
    return line.contains(WB_REQUEST_MARKER) & ~line.contains(TYPEAHEAD_MARKER)


def prefilter_lines(df: DataFrame, column: str = "value") -> DataFrame:
    return df.where(is_wb_page_request_line(F.col(column)))


# unit-separator control char: cannot appear in an HTTP log line
_SEP = ""
_GROUPS_AS_FIELDS = _SEP.join(f"${i}" for i in range(1, 9))


def parse_log_lines(df: DataFrame, column: str = "value") -> DataFrame:
    """P1+P2 — parse Apache combined log lines into typed columns.

    The regex runs ONCE per line: a single regexp_replace rewrites the
    matched line into its 8 groups joined by an unprintable separator,
    and one split recovers the fields (regexp_extract per field would
    re-run the 8-group pattern 8x per row). A malformed line does not
    match, regexp_replace leaves it unchanged, and the split yields
    fewer than 8 fields — that is the ``matched`` flag, so F7
    (malformed-line guard) can drop it, mirroring the reference's
    catch-and-drop (access_log.clj:80, 92-93).

    The field array is routed through a one-element explode
    (Generate) rather than an inline alias, for two reasons measured
    in the r12 optimization round:

    - "once per line" was only true per REFERENCE: every downstream
      filter conjunct re-ran the regexp_replace+split because the
      nullif/CASE wrappers put each reference in a conditional branch,
      which defeats codegen subexpression elimination (each extra
      field reference on the sf0.1 parse cost ~+1.4 s; the collapsed
      filter of the full pipeline re-evaluated it ~8x per row). A
      Generate output is a bound attribute, evaluated exactly once.
    - predicates referencing a generated output cannot push below the
      Generate (and the session excludes InferFiltersFromGenerate,
      which would otherwise clone the generator into a filter), so the
      parse also stops sliding below a partition-flooring exchange
      back into a single-split scan task.
    """
    fields_arr = F.split(
        F.regexp_replace(F.col(column), LOG_LINE_PATTERN, _GROUPS_AS_FIELDS),
        _SEP,
        -1,
    )
    # array(fields) is a single-element wrapper: explode of [x] keeps
    # exactly one row per input row (a null parse stays one row with a
    # null array inside, so the matched-flag semantics are unchanged).
    exploded = df.select(F.explode(F.array(fields_arr)).alias("__fields"))
    fields = F.col("__fields")

    def g(i: int):
        return F.get(fields, i)  # null-safe: short array (no match) -> null

    return exploded.select(
        F.nullif(g(0), F.lit("")).alias("ip"),
        # try_to_timestamp nulls unparseable timestamps instead of
        # raising — Throwable-catch parity.
        F.try_to_timestamp(g(1), F.lit(TIMESTAMP_FORMAT)).alias("timestamp"),
        g(2).alias("method"),
        g(3).alias("uri"),
        F.nullif(g(4), F.lit("")).try_cast("int").alias("status"),
        F.nullif(g(5), F.lit("")).try_cast("long").alias("size"),
        g(6).alias("referrer"),
        g(7).alias("user_agent"),
        (F.size(fields) == 8).alias("matched"),
    )


def _decode_segment(seg: Column) -> Column:
    """P5 — percent-decode one path segment.

    The reference uses lambdaisland's percent-decode, which decodes only
    %XX escapes and leaves '+' literal (unlike java.net.URLDecoder); we
    protect '+' before url-decoding to match. try_url_decode nulls
    malformed escapes (reference: Throwable -> drop line).
    """
    return F.try_url_decode(F.regexp_replace(seg, r"\+", "%2B"))


def extract_wb_events(
    df: DataFrame,
    sub_dictionaries: tuple[str, ...] = DEFAULT_CONFIG.sub_dictionaries,
) -> DataFrame:
    """F2-F7 + P3-P6 — parsed log records -> {timestamp, lemma} events.

    Reference flow (access_log.clj:78-93): status==200, strip '/wb/',
    take URI path (query string and fragment dropped), split on '/',
    percent-decode segments, keep single-segment non-legacy paths with a
    valid lemma from non-bot UAs.

    Only single-segment paths survive, and the reference splits before
    it decodes, so the split is a ``/`` test on the undecoded path and
    the lemma is that whole path decoded: an encoded ``%2F`` stays
    inside the one segment.
    """
    # P3: strip the '/wb/' prefix (4 chars), then drop ?query/#fragment.
    stripped = F.substring(F.col("uri"), len(URI_PREFIX) + 1, 1 << 20)
    path_str = F.split(stripped, r"[?#]").getItem(0)

    out = (
        df.where(F.col("matched"))  # F7 malformed-line guard
        .where(F.col("status") == 200)  # F2
        .where(F.col("uri").startswith(URI_PREFIX))
        .withColumn("__path", path_str)
        # P4+P5: the single segment, decoded
        .withColumn("lemma", _decode_segment(F.col("__path")))
    )
    return (
        out
        # F7 cont.: decode failure (null segment) drops the line
        .where(F.col("lemma").isNotNull())
        # F3 valid-lemma?: non-empty, not starting '['
        .where((F.length("lemma") > 0) & ~F.col("lemma").startswith("["))
        # F4 sub-wb?: single segment, not a legacy dictionary
        .where(~F.col("__path").contains("/"))
        .where(~F.col("lemma").isin(*sub_dictionaries))
        # F5 bot filter
        .where(~is_bot(F.col("user_agent")))
        .where(F.col("timestamp").isNotNull())
        # P6 project to event
        .select("timestamp", "lemma")
    )


def access_log_to_events(df: DataFrame, column: str = "value") -> DataFrame:
    """Full S1/S4 pipeline: raw lines -> {timestamp, lemma} events.

    Equivalent of the reference's log-line->wb-page-requests
    (access_log.clj:78-93) as one declarative plan.
    """
    return (
        df.transform(prefilter_lines, column)
        .transform(parse_log_lines, column)
        .transform(extract_wb_events)
    )
