"""Frozen `scraped` fixture (FIXTURES.md §A).

One row list, used from BOTH sides of the correctness gate:
  - Spark: ``scraped_fixture_df(spark)``
  - DuckDB oracle: ``scraped_values_sql()`` renders the same rows as a
    VALUES clause, guaranteeing the two sides can never drift.

Each row pins a reference behavior (citations in FIXTURES.md §A):
all-sources survival, 2-source drop, alias overrides firing
pre-normalization, punctuation/whitespace normalization, unparseable
rank → 0, duplicate-within-one-source row-count semantics, aggregate
ties, and >10 survivors so the top-k limit actually truncates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_rankings_spark.catalog import local_frame

SCRAPED_SCHEMA = "url string, rank string, title string"

SRC_A = "src_imdb"
SRC_B = "src_ranker"
SRC_C = "src_empire"

N_SOURCES = 3

#: (url, rank, title) — rank deliberately string-typed (top_movies.py:131).
SCRAPED_ROWS: tuple[tuple[str, str, str], ...] = (
    # survives: present once in each of the 3 sources
    (SRC_A, "1", "The Godfather"),
    (SRC_B, "3", "The Godfather"),
    (SRC_C, "2", "The Godfather"),
    # dropped: only 2 sources (README.md:10)
    (SRC_A, "5", "Avengers: Endgame"),
    (SRC_B, "1", "Avengers: Endgame"),
    # alias override: 'Seven' → 'Se7en' must fire BEFORE normalization
    (SRC_A, "7", "Se7en"),
    (SRC_B, "6", "Se7en"),
    (SRC_C, "7", "Seven"),
    # year suffix NOT stripped by analytics (parse-time only): this row
    # normalizes to 'pulp fiction 1994' and is dropped (1 source)
    (SRC_B, "4", "Pulp Fiction (1994)"),
    (SRC_A, "4", "Pulp Fiction"),
    (SRC_C, "5", "Pulp Fiction"),
    # franchise alias + punctuation/whitespace variants all normalize
    # to 'star wars episode iv a new hope'
    (SRC_A, "2", "Star Wars: Episode IV - A New Hope"),
    (SRC_B, "2", "Star Wars"),
    (SRC_C, "9", "Star  Wars: Episode IV — A New Hope"),
    # rename across sources via override
    (SRC_A, "8", "Indiana Jones and the Raiders of the Lost Ark"),
    (SRC_B, "9", "Raiders of the Lost Ark"),
    (SRC_C, "8", "Raiders of the Lost Ark"),
    # unparseable rank → 0 (top_movies.py:131)
    (SRC_A, "N/A", "Casablanca"),
    (SRC_B, "8", "Casablanca"),
    (SRC_C, "6", "Casablanca"),
    # duplicate within ONE source: row-count (not distinct-source)
    # semantics — n=3 rows from only 2 sources still passes
    (SRC_A, "10", "Heat"),
    (SRC_A, "11", "Heat"),
    (SRC_B, "10", "Heat"),
    # tie on rank_sum (with 'Casablanca'-free pair): Alien=36, Jaws=36
    (SRC_A, "12", "Alien"),
    (SRC_B, "12", "Alien"),
    (SRC_C, "12", "Alien"),
    (SRC_A, "11", "Jaws"),
    (SRC_B, "13", "Jaws"),
    (SRC_C, "12", "Jaws"),
    # filler: 8 more full-coverage titles so >10 titles survive and
    # LIMIT 10 truncates
    (SRC_A, "13", "Filler Movie 01"),
    (SRC_B, "14", "Filler Movie 01"),
    (SRC_C, "13", "Filler Movie 01"),
    (SRC_A, "14", "Filler Movie 02"),
    (SRC_B, "15", "Filler Movie 02"),
    (SRC_C, "14", "Filler Movie 02"),
    (SRC_A, "15", "Filler Movie 03"),
    (SRC_B, "16", "Filler Movie 03"),
    (SRC_C, "15", "Filler Movie 03"),
    (SRC_A, "16", "Filler Movie 04"),
    (SRC_B, "17", "Filler Movie 04"),
    (SRC_C, "16", "Filler Movie 04"),
    (SRC_A, "17", "Filler Movie 05"),
    (SRC_B, "18", "Filler Movie 05"),
    (SRC_C, "17", "Filler Movie 05"),
    (SRC_A, "18", "Filler Movie 06"),
    (SRC_B, "19", "Filler Movie 06"),
    (SRC_C, "18", "Filler Movie 06"),
    (SRC_A, "19", "Filler Movie 07"),
    (SRC_B, "20", "Filler Movie 07"),
    (SRC_C, "19", "Filler Movie 07"),
    (SRC_A, "20", "Filler Movie 08"),
    (SRC_B, "21", "Filler Movie 08"),
    (SRC_C, "20", "Filler Movie 08"),
)


def scraped_fixture_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, list(SCRAPED_ROWS), schema=SCRAPED_SCHEMA)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def scraped_values_sql() -> str:
    """The same rows as a DuckDB VALUES table expression:
    ``scraped(url, rank, title)``."""
    rows = ",\n    ".join(
        f"({_sql_quote(u)}, {_sql_quote(r)}, {_sql_quote(t)})"
        for u, r, t in SCRAPED_ROWS
    )
    return f"(VALUES\n    {rows}\n) AS scraped(url, rank, title)"
