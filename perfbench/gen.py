"""Seeded input generators and their expected outputs.

Every input the benchmark feeds the engine is made here from ``--seed``,
and every expected output is derived here in plain Python from how the
input was constructed (a line is a bot line because it was given a bot
user agent), never by running the engine.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from urllib.parse import quote

import numpy as np

# ---------------------------------------------------------------- lemmas

_SYL = (
    "ba be bi bo bu da de di do du ga ge gi go gu ka ke ki ko ku la le li "
    "lo lu ma me mi mo mu na ne ni no nu ra re ri ro ru sa se si so su ta "
    "te ti to tu wa we wi ä ö ü ß"
).split()
_NS = len(_SYL)


def dim_lemma(i: int) -> str:
    """Deterministic, unique lemma for dimension index ``i``; every 97th
    one is a two-word lemma (percent-encoded ``%20`` on the wire)."""
    a, b, c, d = i % _NS, (i // _NS) % _NS, (i // _NS**2) % _NS, i // _NS**3
    s = (_SYL[d] + _SYL[c] + _SYL[b] + _SYL[a]).capitalize()
    return s + " Haus" if i % 97 == 0 else s


def missing_lemma(j: int) -> str:
    """A lemma no dimension contains ("Zz" never starts a dim lemma)."""
    return "Zz" + dim_lemma(j).lower()


LEMMA_TYPES = ("AR_G", "AR_V", "AR_A", "AR_ADV")
FORM_TYPES = ("Hauptform", "Nebenform", "Variante")
ARTICLE_TYPES = ("Vollartikel", "Basisartikel-D", "Minimalartikel", "Verweisartikel")
STATUSES = ("Red-f", "Red-2", "Red-1")
SOURCES = ("WDG", "ZDL", "DWDS", "Duden_1999")
_DATE0 = dt.date(1990, 1, 1)


class Dimension:
    """The ``lemma ⋈ article`` dimension: one row per lemma, two or three
    rows (hidx 1..3, shuffled) for about 12% of lemmas, so the argmin
    dedup has work. ``meta(i)`` is the row the dedup must keep.

    The 12% homograph share and the 3% null-source share are assumptions:
    no measured distribution of the production dimension is available."""

    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng([seed, 1])
        self.n = n
        homograph = rng.random(n) < 0.12
        extra = np.where(homograph, rng.integers(2, 4, n), 1)
        self.rows = int(extra.sum())
        self._idx = np.repeat(np.arange(n), extra)
        # hidx: null for plain lemmas, 1..k for the k homographs of one
        starts = np.cumsum(extra) - extra
        pos = np.arange(self.rows) - np.repeat(starts, extra)
        self._hidx = np.where(np.repeat(homograph, extra), pos + 1, 0)
        r = self.rows
        self._attrs = {
            "lemma_type": rng.integers(0, len(LEMMA_TYPES), r),
            "form_type": rng.integers(0, len(FORM_TYPES), r),
            "article_type": rng.integers(0, len(ARTICLE_TYPES), r),
            "status": rng.integers(0, len(STATUSES), r),
            # about 3% unknown source: a null the wire must omit
            "source": np.where(rng.random(r) < 0.03, -1,
                               rng.integers(0, len(SOURCES), r)),
            "date": rng.integers(0, 12_000, r),
        }
        self._first_row = starts  # hidx 1 (or the only row) of lemma i
        self._order = rng.permutation(r)

    def _row(self, k: int) -> dict:
        a = self._attrs
        src = int(a["source"][k])
        return {
            "hidx": int(self._hidx[k]) or None,
            "lemma_type": LEMMA_TYPES[a["lemma_type"][k]],
            "form_type": FORM_TYPES[a["form_type"][k]],
            "article_type": ARTICLE_TYPES[a["article_type"][k]],
            "status": STATUSES[a["status"][k]],
            "source": SOURCES[src] if src >= 0 else None,
            "date": (_DATE0 + dt.timedelta(days=int(a["date"][k]))).isoformat(),
        }

    def meta(self, i: int) -> dict:
        return self._row(int(self._first_row[i]))

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        o = self._order
        a = self._attrs
        lemmas = [dim_lemma(i) for i in range(self.n)]
        hidx = self._hidx[o]

        def cat(values, codes):
            return pa.DictionaryArray.from_arrays(
                pa.array(codes, pa.int32()), pa.array(values)
            ).cast(pa.string())

        src = a["source"][o]
        table = pa.table({
            "lemma": pa.array(lemmas).take(pa.array(self._idx[o])),
            "hidx": pa.array(hidx, pa.int32(), mask=hidx == 0),
            "lemma_type": cat(LEMMA_TYPES, a["lemma_type"][o]),
            "form_type": cat(FORM_TYPES, a["form_type"][o]),
            "article_type": cat(ARTICLE_TYPES, a["article_type"][o]),
            "status": cat(STATUSES, a["status"][o]),
            "source": pa.DictionaryArray.from_arrays(
                pa.array(np.maximum(src, 0), pa.int32(), mask=src < 0),
                pa.array(SOURCES),
            ).cast(pa.string()),
            "date": pa.array(
                np.datetime64(_DATE0.isoformat()) + a["date"][o].astype("timedelta64[D]")
            ),
        })
        pq.write_table(table, path, row_group_size=100_000)


class Vocabulary:
    """Zipf-popular stream lemmas: rank r is drawn with weight
    1/(r+1)^1.07; about 10% of ranks are lemmas the dimension lacks.

    The exponent 1.07 and the 50k-rank default size are assumptions, not
    fitted to production request logs."""

    def __init__(self, seed: int, dim_n: int, size: int):
        rng = np.random.default_rng([seed, 2])
        size = min(size, dim_n)
        self.dim_index = rng.choice(dim_n, size, replace=False)
        self.missing = rng.random(size) < 0.10
        w = 1.0 / np.arange(1, size + 1) ** 1.07
        self.p = w / w.sum()
        self.lemmas = [
            missing_lemma(r) if self.missing[r] else dim_lemma(int(self.dim_index[r]))
            for r in range(size)
        ]

    def draw(self, rng, n: int) -> np.ndarray:
        return rng.choice(len(self.lemmas), n, p=self.p)


# ----------------------------------------------------------- access log

# user agents: human ones (a lookbehind case among them) and one bot UA
# per class of functions/bots.py BOT_PATTERNS
HUMAN_UAS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/126.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.5 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:127.0) Gecko/20100101 Firefox/127.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) Mobile/15E148",
    "Mozilla/5.0 (Linux; Android 13; Mediascope cubot X50) Mobile Safari/537.36",
)
BOT_UAS = (
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0)",
    "SomeCrawler/3.1",
    "Mozilla/5.0 (compatible; MegaIndex spider)",
    "python-requests/2.31.0",
    "curl/8.5.0",
    "Wget/1.21.4",
    "Go-http-client/1.1",
    "okhttp/4.12.0",
    "Java/17.0.2",
    "axios/1.6.8",
    "libwww-perl/6.72",
    "Mozilla/5.0 (compatible; YandexBot/3.0)",
    "Mozilla/5.0 (compatible; Baiduspider/2.0)",
    "facebookexternalhit/1.1",
    "Mozilla/5.0 (compatible; GPTBot/1.0)",
    "Mozilla/5.0 (compatible; SemrushBot/7~bl)",
    "Mozilla/5.0 (X11; Linux x86_64) HeadlessChrome/120.0 Safari/537.36",
    "PostmanRuntime/7.37.0",
    "UptimeRobot/2.0",
    "Feedfetcher-Google",
    "Mozilla/5.0 (compatible; Site24x7)",
    "-",
    "",
    "<script>alert(1)</script>",
    "12345 agent",
    "Mozilla/5.0",
    "Mozilla/5.0 (compatible;)",
    "x" * 60,
    "Mozilla/5.0 ()",
    "scanner@example.org",
)
LEGACY = ("dwb", "dwb2", "etymwb", "wdg", "index", "W%C3%B6rterbuch")
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()

# line class -> share of lines; ``keep*`` classes produce an event. Only
# the one-third survivor share is a target; the split among the drop
# classes is an assumption (no measured request mix is available), chosen
# so that every class is exercised in each file.
LINE_MIX = {
    "keep": 0.29,
    "keep_query": 0.04,
    "non_wb": 0.20,
    "typeahead": 0.08,
    "non_200": 0.08,
    "bot": 0.14,
    "bracket_or_empty": 0.03,
    "multi_segment": 0.03,
    "legacy": 0.03,
    "post": 0.02,
    "bad_escape": 0.02,
    "bad_timestamp": 0.01,
    "malformed": 0.03,
}
_CLASSES = tuple(LINE_MIX)
_P = np.array([LINE_MIX[c] for c in _CLASSES])
_P = _P / _P.sum()
T0 = dt.datetime(2024, 12, 8, 0, 0, 0, tzinfo=dt.timezone.utc)


def _clf(t: dt.datetime, offset_h: int) -> str:
    local = t + dt.timedelta(hours=offset_h)
    return (f"{local.day:02d}/{_MONTHS[local.month - 1]}/{local.year}:"
            f"{local:%H:%M:%S} {'+' if offset_h >= 0 else '-'}{abs(offset_h):02d}00")


def iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def wire_json(ts: str, lemma: str, meta: dict | None) -> str:
    """The live wire record as the engine's to_json renders it: event
    fields first, then the dimension columns, null fields omitted."""
    d = {"timestamp": ts, "lemma": lemma}
    if meta:
        d.update((k, v) for k, v in meta.items() if v is not None)
    return json.dumps(d, ensure_ascii=False, separators=(",", ":"))


class AccessLog:
    """Access-log files; every line of file ``k`` is stamped at second
    ``T0 + k`` so a published event names the file it came from."""

    def __init__(self, seed: int, dim_n: int, vocab_size: int = 50_000):
        self.seed = seed
        self.dim_n = dim_n
        self.vocab = Vocabulary(seed, dim_n, vocab_size)
        self._quoted = [quote(s, safe="") for s in self.vocab.lemmas]

    def file_lines(self, k: int, n: int) -> tuple[list[str], Counter, Counter]:
        """Lines of file ``k``, their class counts, and the multiset of
        lemma ranks kept (the expected events, before enrichment)."""
        rng = np.random.default_rng([self.seed, 3, k])
        cls = rng.choice(len(_CLASSES), n, p=_P)
        ranks = self.vocab.draw(rng, n)
        human = rng.integers(0, len(HUMAN_UAS), n)
        bot = rng.integers(0, len(BOT_UAS), n)
        ips = rng.integers(1, 255, (n, 2))
        sizes = rng.integers(200, 90_000, n)
        t = T0 + dt.timedelta(seconds=k)
        stamp = (_clf(t, 0), _clf(t, 1))
        lines = []
        kept: Counter = Counter()
        for j in range(n):
            c = _CLASSES[cls[j]]
            q = self._quoted[ranks[j]]
            method, uri, status, ua = "GET", f"/wb/{q}", 200, HUMAN_UAS[human[j]]
            ts = stamp[j & 1]
            if c == "keep":
                kept[ranks[j]] += 1
            elif c == "keep_query":
                uri += "?o=suche#top"
                kept[ranks[j]] += 1
            elif c == "non_wb":
                uri = ("/static/app.css", "/api/search?q=x", "/r/?q=" + q,
                       "/wbx/" + q)[j % 4]
            elif c == "typeahead":
                uri = "/wb/typeahead?q=" + q[:3]
            elif c == "non_200":
                status = (404, 301, 304, 500)[j % 4]
            elif c == "bot":
                ua = BOT_UAS[bot[j]]
            elif c == "bracket_or_empty":
                uri = ("/wb/%5B" + q, "/wb/", "/wb/?q=x")[j % 3]
            elif c == "multi_segment":
                uri = f"/wb/{q}/etymologie"
            elif c == "legacy":
                uri = "/wb/" + LEGACY[j % len(LEGACY)]
            elif c == "post":
                method = "POST"
            elif c == "bad_escape":
                uri = f"/wb/{q}%Z1"
            elif c == "bad_timestamp":
                ts = "08/Foo/2024:99:00:00 +0000"
            elif c == "malformed":
                lines.append(f'{ips[j, 0]}.0.0.{ips[j, 1]} - - [{ts}] "GET {uri} HTTP/1.1" {status}')
                continue
            lines.append(
                f'{ips[j, 0]}.1.2.{ips[j, 1]} - - [{ts}] "{method} {uri} HTTP/1.1" '
                f'{status} {sizes[j]} "https://www.dwds.de/" "{ua}"'
            )
        mix = Counter(_CLASSES[c] for c in cls)
        return lines, mix, kept

    def expected_events(self, k: int, kept: Counter, dim: Dimension) -> Counter:
        ts = iso(T0 + dt.timedelta(seconds=k))
        v = self.vocab
        out: Counter = Counter()
        for r, m in kept.items():
            meta = None if v.missing[r] else dim.meta(int(v.dim_index[r]))
            out[wire_json(ts, v.lemmas[r], meta)] += m
        return out


def write_lines(directory: str, k: int, lines: list[str]) -> None:
    """File ``k`` of the watched directory, renamed into place whole so
    the file source never lists it half-written."""
    tmp = os.path.join(directory, f".{k:06d}.log.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.replace(tmp, os.path.join(directory, f"{k:06d}.log"))


def file_second(ts: str) -> int:
    """File index of a published event, from its timestamp."""
    t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=dt.timezone.utc)
    return int((t - T0).total_seconds())
