"""Unit tests for the access-log pipeline — the keep/drop matrix from
FIXTURES.md §1, each case citing the reference predicate it exercises."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from dwds_livestream_spark.functions.access_log import (
    access_log_to_events,
    parse_log_lines,
    prefilter_lines,
)

UA = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36"


def line(
    uri="/wb/obskur",
    status=200,
    ua=UA,
    ts="08/Dec/2024:23:00:18 +0000",
    ip="94.134.88.1",
    method="GET",
    referrer="https://www.google.com/",
    size=35932,
):
    ip_part = f"{ip} " if ip else " "
    return (
        f'{ip_part}- - [{ts}] "{method} {uri} HTTP/1.1" {status} {size} '
        f'"{referrer}" "{ua}"'
    )


def run(spark, lines):
    df = spark.createDataFrame([Row(value=l) for l in lines])
    return [(r.timestamp, r.lemma) for r in access_log_to_events(df).collect()]


TS = dt.datetime(2024, 12, 8, 23, 0, 18)


def test_basic_keep(spark):
    assert run(spark, [line()]) == [(TS, "obskur")]


def test_parse_fields(spark):
    df = spark.createDataFrame([Row(value=line())])
    r = parse_log_lines(df).collect()[0]
    assert r.ip == "94.134.88.1"
    assert r.method == "GET"
    assert r.uri == "/wb/obskur"
    assert r.status == 200
    assert r.size == 35932
    assert r.referrer == "https://www.google.com/"
    assert r.user_agent == UA
    assert r.matched
    assert r.timestamp == TS


def test_missing_ip_optional_group(spark):
    # IP group is optional in the reference pattern (access_log.clj:37)
    assert run(spark, [line(ip=None)]) == [(TS, "obskur")]


def test_timezone_offset_normalized(spark):
    # +0100 normalizes to UTC instant (access_log.clj:49-54)
    got = run(spark, [line(ts="08/Dec/2024:23:00:18 +0100")])
    assert got == [(dt.datetime(2024, 12, 8, 22, 0, 18), "obskur")]


def test_drop_non_wb_uri(spark):
    # F1: no "GET /wb/" marker (access_log.clj:22-31)
    assert run(spark, [line(uri="/d/ressources")]) == []


def test_drop_typeahead(spark):
    assert run(spark, [line(uri="/wb/typeahead?q=ob")]) == []


def test_drop_non_200(spark):
    # F2 (access_log.clj:83)
    assert run(spark, [line(status=404), line(status=301)]) == []


def test_drop_bot_ua(spark):
    # F5 (access_log.clj:74-76)
    bots = [
        "python-requests/2.31",
        "curl/8.0",
        "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
        "Somebot/1.0",
        "GPTBot/1.0",
    ]
    assert run(spark, [line(ua=b) for b in bots]) == []


def test_lookbehind_bot_guard(spark):
    # the (?<!\scu)bots? construct: "cubot" is a phone, not a bot
    assert run(spark, [line(ua="Mozilla/5.0 (Linux; Android 7.0; Mediascope cubot)")]) == [
        (TS, "obskur")
    ]


def test_drop_empty_and_bracket_lemma(spark):
    # F3 valid-lemma? (access_log.clj:66-68)
    assert run(spark, [line(uri="/wb/"), line(uri="/wb/[obskur]")]) == []


def test_drop_multi_segment_and_legacy(spark):
    # F4 sub-wb? (access_log.clj:70-72)
    dropped = ["/wb/foo/bar", "/wb/dwb", "/wb/dwb2", "/wb/etymwb", "/wb/wdg",
               "/wb/index", "/wb/W%C3%B6rterbuch", "/wb/a/", "/wb//a"]
    assert run(spark, [line(uri=u) for u in dropped]) == []


def test_percent_decode(spark):
    # P5 (access_log.clj:86): Stra%C3%9Fe -> Straße
    assert run(spark, [line(uri="/wb/Stra%C3%9Fe")]) == [(TS, "Straße")]
    # the split runs before the decode: an encoded slash stays inside
    # the one segment
    assert run(spark, [line(uri="/wb/a%2Fb")]) == [(TS, "a/b")]


def test_plus_stays_literal(spark):
    # lambdaisland percent-decode leaves '+' alone (unlike URLDecoder)
    assert run(spark, [line(uri="/wb/C%2B%2B"), line(uri="/wb/a+b")]) == [
        (TS, "C++"),
        (TS, "a+b"),
    ]


def test_query_string_stripped(spark):
    # P3 (access_log.clj:84-85)
    assert run(spark, [line(uri="/wb/obskur?from=wbl&q=1")]) == [(TS, "obskur")]


def test_malformed_line_dropped(spark):
    # F7 (access_log.clj:92-93)
    assert run(spark, ['garbage GET /wb/obskur "no"', ""]) == []


def test_prefilter_is_cheap_guard(spark):
    df = spark.createDataFrame(
        [Row(value=line()), Row(value=line(uri="/d/x")), Row(value="noise")]
    )
    assert prefilter_lines(df).count() == 1


def test_parse_regex_evaluates_once_and_blocks_pushdown(spark):
    """r12 optimization contract for parse_log_lines: the 8-group
    regexp_replace appears exactly ONCE in the optimized plan (the
    nullif/CASE wrappers used to re-inline it into every filter
    conjunct, defeating codegen subexpression elimination), and the
    field array is produced by a Generate, which downstream predicates
    cannot cross — so a partition-flooring repartition upstream keeps
    the parse OFF the single-split scan task."""
    from dwds_livestream_spark.functions.access_log import (
        access_log_to_events,
    )

    lines = spark.createDataFrame(
        [('10.0.0.1 - - [01/Jan/2024:00:00:00 +0000] '
          '"GET /wb/Haus HTTP/1.1" 200 1 "-" "x"',)],
        "value string",
    ).repartition(4)
    plan = access_log_to_events(lines)._jdf.queryExecution().optimizedPlan().toString()
    # the 8-group log-line pattern (distinctive IP prefix), not the
    # tiny per-segment %2B decode regex, is the expensive one
    assert plan.count(r"(\d{1,3}") == 1, plan
    assert "Generate" in plan, plan
    # the parse filter must sit ABOVE the exchange: nothing between
    # the repartition and the scan but the cheap prefilter
    gen_pos = plan.index("Generate")
    rep_pos = plan.index("Repartition")
    assert gen_pos < rep_pos, plan  # toString prints top-down


def test_parse_is_one_codegen_stage(spark, tmp_path):
    """Every Filter, Generate and Project of the parse runs inside a
    WholeStageCodegen stage. A higher-order function (transform,
    filter, exists, aggregate) is CodegenFallback and pulls its operator
    out, and the fallback Filter regenerates its predicate in every
    task; lower() pays the ICU case-table init on a fresh JVM. Neither
    may enter the optimized plan."""
    (tmp_path / "a.log").write_text(line() + "\n")
    events = access_log_to_events(spark.read.text(str(tmp_path)))
    qe = events._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "lower(" not in optimized, optimized
    assert "lambdafunction" not in optimized, optimized

    placed: list[tuple[str, bool]] = []

    def walk(node, in_codegen: bool) -> None:
        name = node.nodeName()
        if name.startswith("WholeStageCodegen"):
            in_codegen = True
        elif name == "InputAdapter":
            in_codegen = False
        elif name in ("Filter", "Generate", "Project"):
            placed.append((name, in_codegen))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), in_codegen)

    walk(qe.executedPlan(), False)
    assert {n for n, _ in placed} == {"Filter", "Generate", "Project"}, placed
    outside = [n for n, inside in placed if not inside]
    assert not outside, qe.executedPlan().toString()
