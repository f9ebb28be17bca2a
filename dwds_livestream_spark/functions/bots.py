"""Bot / crawler user-agent classifier (F5 in SURVEY.md §2.2).

The reference classifies a user agent as a bot when it matches any of
173 Java-dialect regexes OR-joined into one pattern
(reference: src/dwds/livestream/access_log.clj:62-64, 74-76;
src/dwds/livestream/bot-patterns.txt:1-173). The pattern set below is
our own, covering the same semantic classes the reference's list covers
(named crawlers, generic bot/crawler/spider morphology with lookaround
guards, HTTP client libraries, monitoring agents, bare-token and
degenerate UA shapes) without copying the data file. Java and Spark
``rlike`` share the java.util.regex dialect, so lookbehind/lookahead
constructs behave identically.

At scale the single alternation is compiled once per task by the JVM;
the cheap structural guards (F1 substring pre-filter) run first so the
regex only sees candidate lines.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# One regex per line, OR-joined — same construction as the reference.
BOT_PATTERNS: tuple[str, ...] = (
    # generic bot morphology; lookbehind guard mirrors the reference's
    # `(?<!\scu)bots?(?:\b|_)` trick (don't flag "Mediascope cubot").
    r"(?i)(?<!\scu)bots?(?:\b|_)",
    r"(?i)crawl(?:er|ing)?\b",
    r"(?i)spider",
    r"(?i)scrap(?:er|ing)\b",
    r"(?i)(?<!lib)https?(?:lib|client|[ _-]?get)",
    r"(?i)\bfetch(?:er)?\b",
    r"(?i)\bslurp\b",
    r"(?i)archiver?\b",
    r"(?i)\bindex(?:er|ing)\b",
    # HTTP client libraries / scripting runtimes
    r"(?i)^curl/",
    r"(?i)^wget/",
    r"(?i)python-requests/",
    r"(?i)python-urllib",
    r"(?i)\baiohttp\b",
    r"(?i)^php/?\d",
    r"(?i)\bokhttp\b",
    r"(?i)^java/?\d",
    r"(?i)apache-httpclient",
    r"(?i)\bgo-http-client\b",
    r"(?i)\bnode-fetch\b",
    r"(?i)\baxios/",
    r"(?i)^ruby\b",
    r"(?i)libwww-perl",
    r"(?i)^perl\b",
    # named crawlers / platforms
    r"(?i)googlebot|adsbot|mediapartners-google|apis-google",
    r"(?i)bingpreview",
    r"(?i)yandex(?:bot|images|metrika)?",
    r"(?i)baiduspider",
    r"(?i)duckduck(?:go|bot)",
    r"(?i)applebot",
    r"(?i)facebookexternalhit|meta-externalagent",
    r"(?i)twitterbot",
    r"(?i)linkedinbot",
    r"(?i)slackbot",
    r"(?i)telegrambot",
    r"(?i)whatsapp",
    r"(?i)pinterest(?:bot)?",
    r"(?i)semrush",
    r"(?i)ahrefs",
    r"(?i)mj12",
    r"(?i)dotbot",
    r"(?i)petalbot",
    r"(?i)bytespider",
    r"(?i)gptbot|oai-searchbot|chatgpt-user",
    r"(?i)claude(?:bot|-web)",
    r"(?i)ccbot",
    r"(?i)amazonbot",
    r"(?i)headlesschrome",
    r"(?i)phantomjs",
    r"(?i)selenium",
    r"(?i)playwright",
    r"(?i)puppeteer",
    # API development / testing tools
    r"(?i)^postman",
    r"(?i)^insomnia/",
    r"(?i)^httpie/",
    # monitoring / feed / preview agents
    r"(?i)pingdom|uptimerobot|statuscake|site24x7",
    r"(?i)feed(?:fetcher|parser|burner|validator)",
    r"(?i)rss\b",
    r"(?i)\bdaemon\b",
    r"(?i)w3c_validator",
    r"(?i)\bmonitor(?:ing)?\b",
    r"(?i)preview\b",
    # degenerate UA shapes (reference: ^<, ^\d+\b, ^[^\s]{50,}$, \(\))
    r"^<",
    r"^\d+\b",
    r"^[^\s]{50,}$",
    r"\(\)",
    r"(?i)^mozilla/\d\.\d$",
    r"(?i)^mozilla/\d\.\d\s\(compatible;?\)$",
    r"^-?$",
    r"@[a-z][\w-]+\.",
)

BOT_PATTERN: str = "|".join(BOT_PATTERNS)

# --- two-tier evaluation (r12 optimization round, guide §1.2 step 2) ---
#
# The 68-branch alternation is retried at every character position of
# every UA by the backtracking engine: ~28 µs/row measured at sf0.1 —
# the single most expensive expression in the parse pipeline. Split it:
#
# STRUCTURAL_PATTERNS: the degenerate-shape branches (no literal to
# guard on; all anchored or 2-3 char scans — cheap, checked always).
STRUCTURAL_PATTERNS: tuple[str, ...] = BOT_PATTERNS[-8:]
STRUCTURAL_PATTERN: str = "|".join(STRUCTURAL_PATTERNS)

# GUARD_LITERALS: for every OTHER branch, a lowercase literal that any
# match of that branch must CONTAIN (branch -> literal: bots?->"bot",
# crawl->"crawl", https?/aiohttp/okhttp/apache-httpclient/go-http-
# client/^httpie->"http", python-*->"python", baiduspider/bytespider->
# "spider", adsbot/*bot->"bot", mediapartners-/apis-google->"google",
# gptbot/chatgpt-user->"gpt", node-fetch->"fetch", libwww-perl->
# "perl", bingpreview->"preview", uptimerobot->"bot", w3c_validator->
# "w3c", feed(fetcher|...)->"feed", ...). The full alternation runs
# only on rows where some literal hits.
GUARD_LITERALS: tuple[str, ...] = (
    "bot", "crawl", "spider", "scrap", "http", "fetch", "slurp",
    "archiv", "index", "curl/", "wget/", "python", "php", "java",
    "axios", "ruby", "perl", "google", "yandex", "duckduck",
    "facebook", "meta-external", "whatsapp", "pinterest", "semrush",
    "ahrefs", "mj12", "gpt", "claude", "headless", "phantom",
    "selenium", "playwright", "puppeteer", "postman", "insomnia",
    "statuscake", "site24x7", "pingdom", "feed", "rss", "daemon",
    "w3c", "monitor", "preview",
)


def _factor(literals: list[str]) -> str:
    """Regex matching any of ``literals``, factored by common prefix.

    Only containment matters, so a literal that extends another (both
    present) is dropped: the shorter one already hits.
    """
    if "" in literals:
        return ""
    groups: dict[str, list[str]] = {}
    for lit in literals:
        groups.setdefault(lit[0], []).append(lit[1:])
    branches = [
        re.escape(head) + _factor(tails)
        for head, tails in sorted(groups.items())
    ]
    return branches[0] if len(branches) == 1 else f"(?:{'|'.join(branches)})"


# The guard is ONE case-insensitive regex over the literals, not an OR
# of contains(lower(ua), lit):
#
# - Java's (?i) without UNICODE_CASE folds ASCII only, exactly as the
#   guarded (?i) branches fold, so "(?i) guard finds a literal" is the
#   same sound necessary condition ("the ASCII-lowered UA contains a
#   literal"); non-ASCII look-alikes (U+212A Kelvin sign, U+017F long
#   s, U+0130 dotted I, full-width letters) match neither.
# - lower() is ICU-backed on Spark 4: a JVM's first lower() pays the
#   ICU case-table initialisation (a first query with lower() cost
#   2.8-4.0 JVM CPU-s more than one without, 4-vCPU host), and the
#   generated Filter code calls the ICU lower kernel once per
#   conjunct: 45 times for every human UA.
# - The literals are factored by common prefix (f(?:acebook|e(?:ed|
#   tch))): the backtracking engine then tries one first character
#   per branch group at each position instead of 45 literals. Whole
#   is_bot, warm JVM, 1M rows of a 6:1 human:bot UA mix, JVM CPU on a
#   4-vCPU host: 40 µs/row, against 63 with a flat (?i) alternation
#   guard, 78 with the contains(lower()) OR, 93 unguarded.
#
# test_bots_differential.py::test_two_tier_matches_plain_alternation
# pins the guard against the ASCII-fold containment and the two-tier
# is_bot against the plain alternation, per branch and on fuzz input.
GUARD_PATTERN: str = "(?i)" + _factor(list(GUARD_LITERALS))


def is_bot(user_agent: Column) -> Column:
    """Boolean column: does the UA match the bot alternation?

    Null UAs are treated as bots (an absent UA in the reference's parse
    cannot reach the filter; here we fail closed).

    Semantics are exactly ``rlike(BOT_PATTERN)``; evaluation is
    two-tier (the guard regex gates the big alternation, the structural
    branches run unguarded — the non-bot majority never runs the
    alternation).
    """
    hit = (
        user_agent.rlike(GUARD_PATTERN) & user_agent.rlike(BOT_PATTERN)
    ) | user_agent.rlike(STRUCTURAL_PATTERN)
    return F.coalesce(hit, F.lit(True))
