"""HTML dialect extractors + distributed scrape stage (SURVEY.md §2a).

Re-implements the semantics of the reference's three per-site parse
branches (/root/reference/top_movies.py:71-105) on the stdlib
HTMLParser — no bs4 in this environment, and the extraction rules are
simple enough that a tolerant event parser covers them:

  * empire — each <h2> holds "N. Title (YYYY)": split on the first '.',
    strip the trailing year (top_movies.py:71-79; we use the regex
    year-strip everywhere instead of the reference's brittle [:-7]
    slice — SURVEY.md P6 records this as a deliberate fix).
  * ranker — <meta itemprop=position|name> collected in document
    order as two parallel lists; the first two names are page
    chrome, dropped; positional zip (top_movies.py:80-98).
  * imdb — <td class=titleColumn>: leading text is "N.", the nested
    anchor text is the title (top_movies.py:99-105).

Entity-resolution renames the reference applies at parse time
(top_movies.py:76-77,91-94) live in the analytics layer instead
(functions/normalize.py ALIAS_OVERRIDES) — one centralized list, as
README.md:9 asks for.

The distributed stage (`scraped_from_sources`) is a mapInPandas over
a URL-list DataFrame: fetch + extract per URL with per-source
fault-tolerance (an unreachable or malformed source contributes zero
rows, never a job failure — top_movies.py:50-67 semantics). At real
scale the URL list is millions of rows; this same stage partitions
across executors untouched. Tests run it fully offline via a
file-based fetcher over fixture HTML.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from movie_rankings_spark.catalog import local_frame

SCRAPED_SCHEMA = "url string, rank string, title string"

_TRAIL_YR = re.compile(r"^(.*?)\s*\(\d{4}\)\s*$")


def _strip_year(title: str) -> str:
    m = _TRAIL_YR.match(title)
    return m.group(1).strip() if m else title.strip()


class _EmpireParser(HTMLParser):
    """Collects the text content of every <h2>."""

    def __init__(self) -> None:
        super().__init__()
        self.headings: list[str] = []
        self._depth = 0
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "h2":
            self._depth += 1
            self._buf = []

    def handle_data(self, data):
        if self._depth > 0:
            self._buf.append(data)

    def handle_endtag(self, tag):
        if tag == "h2" and self._depth > 0:
            self._depth -= 1
            self.headings.append("".join(self._buf))


def extract_empire(html: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    parser = _EmpireParser()
    parser.feed(html)
    for text in parser.headings:
        if "." not in text:
            continue
        rank, title = text.split(".", 1)
        out.append((rank.strip(), _strip_year(title)))
    return out


class _MetaItempropParser(HTMLParser):
    """Collects <meta itemprop=position|name content=...> in order."""

    def __init__(self) -> None:
        super().__init__()
        self.positions: list[str] = []
        self.names: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag != "meta":
            return
        d = dict(attrs)
        prop, content = d.get("itemprop"), d.get("content")
        if content is None:
            return
        if prop == "position":
            self.positions.append(content)
        elif prop == "name":
            self.names.append(content)


def extract_ranker(html: str, leading_names: int = 2) -> list[tuple[str, str]]:
    parser = _MetaItempropParser()
    parser.feed(html)
    names = [_strip_year(n) for n in parser.names[leading_names:]]
    return list(zip(parser.positions, names))


class _ImdbTitleColumnParser(HTMLParser):
    """td.titleColumn → (leading text, first anchor text)."""

    _OUT, _IN_TD, _IN_A, _DONE_A = 0, 1, 2, 3

    def __init__(self) -> None:
        super().__init__()
        self.cells: list[tuple[str, str]] = []
        self._state = self._OUT
        self._rank: list[str] = []
        self._title: list[str] = []

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if tag == "td" and "titleColumn" in (d.get("class") or ""):
            self._state = self._IN_TD
            self._rank, self._title = [], []
        elif tag == "a" and self._state == self._IN_TD:
            self._state = self._IN_A

    def handle_data(self, data):
        if self._state == self._IN_TD:
            self._rank.append(data)
        elif self._state == self._IN_A:
            self._title.append(data)

    def handle_endtag(self, tag):
        if tag == "a" and self._state == self._IN_A:
            self._state = self._DONE_A
        elif tag == "td" and self._state != self._OUT:
            self.cells.append(("".join(self._rank), "".join(self._title)))
            self._state = self._OUT


def extract_imdb(html: str) -> list[tuple[str, str]]:
    parser = _ImdbTitleColumnParser()
    parser.feed(html)
    out = []
    for rank_text, title_text in parser.cells:
        m = re.match(r"\s*(\d+)", rank_text)
        if not m:
            continue
        out.append((m.group(1), title_text.rstrip()))
    return out


DIALECTS: dict[str, Callable[[str], list[tuple[str, str]]]] = {
    "empire": extract_empire,
    "ranker": extract_ranker,
    "imdb": extract_imdb,
}


@dataclass(frozen=True)
class SourceSpec:
    url: str
    dialect: str


#: The reference's source registry (top_movies.py:14-16), dialect
#: keyed by the same substring dispatch (top_movies.py:71,80,99).
DEFAULT_SOURCES: tuple[SourceSpec, ...] = (
    SourceSpec("https://www.imdb.com/chart/top", "imdb"),
    SourceSpec(
        "https://www.ranker.com/crowdranked-list/the-best-movies-of-all-time",
        "ranker",
    ),
    SourceSpec("https://www.empireonline.com/movies/features/best-movies/", "empire"),
)


_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)""", re.I
)


def http_fetch(
    url: str,
    timeout: float = 30.0,
    retries: int = 2,
    backoff: float = 0.0,
) -> str:
    """Live fetch (S1) — the reference's aiohttp GET loop
    (top_movies.py:30-40,117-125) on stdlib urllib, synchronous
    because the distributed stage already fans URLs out one per task:

    * non-2xx raises (urllib.error.HTTPError) — the S2 wrapper in
      scraped_from_sources turns that into zero rows for the source;
    * transient failures (URLError / 5xx) retry up to ``retries``
      times with optional linear backoff; 4xx never retries;
    * redirects are followed (urllib default);
    * decoding prefers the Content-Type charset param, then a <meta
      charset=...> sniff of the body, then utf-8 with replacement —
      matching aiohttp's response.text() fallback order.

    Exercised end-to-end against a loopback HTTP fixture server in
    tests/test_ingestion.py (timeout, 404, 5xx-then-OK retry,
    redirect, latin-1 Content-Type, meta-charset sniff)."""
    import time
    import urllib.error
    import urllib.request

    last_err: Exception | None = None
    for attempt in range(retries + 1):
        try:
            req = urllib.request.Request(
                url, headers={"User-Agent": "movie-rankings-spark/1.0"}
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = resp.read()
                charset = resp.headers.get_content_charset()
                break
        except urllib.error.HTTPError as err:
            if err.code < 500:
                raise
            last_err = err
        except (urllib.error.URLError, TimeoutError, OSError) as err:
            last_err = err
        if attempt < retries and backoff > 0:
            time.sleep(backoff * (attempt + 1))
    else:
        raise last_err  # type: ignore[misc]
    if not charset:
        m = _META_CHARSET.search(body[:4096])
        charset = m.group(1).decode("ascii", "ignore") if m else None
    try:
        return body.decode(charset or "utf-8")
    except (LookupError, UnicodeDecodeError):
        return body.decode("utf-8", errors="replace")


def scraped_from_sources(
    spark: SparkSession,
    sources: tuple[SourceSpec, ...] = DEFAULT_SOURCES,
    fetch: Callable[[str], str] = http_fetch,
) -> DataFrame:
    """Distributed fetch+extract producing the scraped table.

    One task per URL partition; a failing source yields zero rows
    (availability over completeness, top_movies.py:50-67). The fetch
    callable must be picklable (top-level function / functools.partial).
    """
    unique = sorted({(s.url, s.dialect) for s in sources})
    src_df = local_frame(spark, unique, "url string, dialect string").repartition(
        max(1, len(unique))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[str, str, str]] = []
            for url, dialect in zip(pdf["url"], pdf["dialect"]):
                try:
                    html = fetch(url)
                    for rank, title in DIALECTS[dialect](html):
                        rows.append((url, rank, title))
                except Exception:  # noqa: BLE001 — S2: source dropout ≠ job failure
                    continue
            yield pd.DataFrame(rows, columns=["url", "rank", "title"])

    return src_df.mapInPandas(run, SCRAPED_SCHEMA)
