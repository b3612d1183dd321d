"""Flagship query registrations (SURVEY.md §2l).

Two variants:
  * ``flagship_fixture`` — the frozen scraped fixture (same literal
    rows rendered into the oracle's VALUES clause).
  * ``flagship_tpch``   — per-supplier part rankings derived from the
    lineitem/part fact tables, fed through the identical pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table, local_frame
from movie_rankings_spark.operators.flagship import flagship
from movie_rankings_spark.operators.rankings import supplier_part_rankings
from movie_rankings_spark.plans.registry import (
    ALIAS_CASE_SQL,
    REGISTRY,
    REVENUE_SUM_SQL,
    flagship_tail_sql,
    norm_title_sql,
)
from movie_rankings_spark.sources.fixtures import (
    N_SOURCES,
    scraped_fixture_df,
    scraped_values_sql,
)

_FIXTURE_ORACLE = f"""
WITH scraped AS (SELECT * FROM {scraped_values_sql()}),
aliased AS (
  SELECT url, rank, {ALIAS_CASE_SQL} AS title FROM scraped
),
norm AS (
  SELECT url,
         COALESCE(TRY_CAST(rank AS INTEGER), 0) AS rank,
         {norm_title_sql('title')} AS title_comp
  FROM aliased
),
{flagship_tail_sql(N_SOURCES)}
"""


@REGISTRY.register("flagship_fixture", _FIXTURE_ORACLE)
def flagship_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship(scraped_fixture_df(spark), n_sources=N_SOURCES, k=10)


def _scraped_expected_values_sql() -> str:
    from movie_rankings_spark.sources.scrape_fixtures import EXPECTED_SCRAPED

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n    ".join(
        f"({q(u)}, {q(r)}, {q(t)})" for u, r, t in EXPECTED_SCRAPED
    )
    return f"(VALUES\n    {rows}\n) AS scraped(url, rank, title)"


_SCRAPED_ORACLE = f"""
WITH scraped AS (SELECT * FROM {_scraped_expected_values_sql()}),
aliased AS (
  SELECT url, rank, {ALIAS_CASE_SQL} AS title FROM scraped
),
norm AS (
  SELECT url,
         COALESCE(TRY_CAST(rank AS INTEGER), 0) AS rank,
         {norm_title_sql('title')} AS title_comp
  FROM aliased
),
{flagship_tail_sql(3)}
"""


@REGISTRY.register("flagship_scraped", _SCRAPED_ORACLE)
def flagship_scraped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: HTML fixture pages → distributed dialect extraction
    (mapInPandas) → flagship pipeline. The oracle runs on the frozen
    expected-extraction rows, so a drift in either the extractors or
    the analytics shows up as a hash mismatch."""
    from movie_rankings_spark.sources.html import scraped_from_sources
    from movie_rankings_spark.sources.scrape_fixtures import (
        FIXTURE_SOURCES,
        FixtureFetcher,
    )

    scraped = scraped_from_sources(spark, FIXTURE_SOURCES, FixtureFetcher())
    return flagship(scraped, n_sources=3, k=10)


@REGISTRY.register("flagship_scraped_dsv2", _SCRAPED_ORACLE)
def flagship_scraped_dsv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline through the Python DataSource V2 front-end
    (sources/datasource.py): `spark.read.format("movie_rankings")`,
    one InputPartition per URL so the engine owns per-source
    scheduling and retry. Identical oracle to flagship_scraped — the
    two ingestion paths must be indistinguishable downstream."""
    import json as _json

    from movie_rankings_spark.sources import datasource
    from movie_rankings_spark.sources.scrape_fixtures import FIXTURE_SOURCES

    datasource.register(spark)
    scraped = (
        spark.read.format("movie_rankings")
        .option("fetcher", "fixture")
        .option(
            "sources",
            _json.dumps(
                [{"url": s.url, "dialect": s.dialect} for s in FIXTURE_SOURCES]
            ),
        )
        .load()
    )
    return flagship(scraped, n_sources=3, k=10)


@REGISTRY.register("flagship_scraped_udtf", _SCRAPED_ORACLE)
def flagship_scraped_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third ingestion front-end: the reference's per-source parse()
    as a literal Python UDTF (sources/udtf.py) applied via SQL
    LATERAL — same extractors, same dropout contract, same oracle as
    the mapInPandas and DataSource V2 forms, so all three are provably
    interchangeable."""
    from movie_rankings_spark.sources import udtf as u
    from movie_rankings_spark.sources.scrape_fixtures import FIXTURE_SOURCES

    u.register(spark)
    scraped = spark.sql(
        """
        SELECT s.url, p.rank, p.title
        FROM {sources} s,
             LATERAL parse_ranked_list(s.url, s.dialect, 'fixture') p
        """,
        sources=local_frame(
            spark,
            [(s.url, s.dialect) for s in FIXTURE_SOURCES],
            "url string, dialect string",
        ),
    )
    return flagship(scraped, n_sources=3, k=10)


_TPCH_ORACLE = f"""
WITH rev AS (
  SELECT l.l_suppkey AS suppkey, p.p_partkey AS partkey, p.p_name AS title,
         {REVENUE_SUM_SQL} AS revenue
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_suppkey IN (1, 2, 3)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT suppkey, title,
         ROW_NUMBER() OVER (
           PARTITION BY suppkey ORDER BY revenue DESC, partkey ASC
         ) AS rank
  FROM rev
),
norm AS (
  SELECT concat('supplier_', suppkey) AS url,
         CAST(rank AS INTEGER) AS rank,
         {norm_title_sql('title')} AS title_comp
  FROM ranked WHERE rank <= 100
),
{flagship_tail_sql(3)}
"""


_FIXTURE_DISTINCT_ORACLE = f"""
WITH scraped AS (SELECT * FROM {scraped_values_sql()}),
aliased AS (
  SELECT url, rank, {ALIAS_CASE_SQL} AS title FROM scraped
),
norm AS (
  SELECT url,
         COALESCE(TRY_CAST(rank AS INTEGER), 0) AS rank,
         {norm_title_sql('title')} AS title_comp
  FROM aliased
),
src AS (
  SELECT title_comp, COUNT(DISTINCT url) AS ns FROM norm GROUP BY 1
)
SELECT n.title_comp,
       CAST(SUM(n.rank) AS BIGINT) AS rank_sum,
       AVG(n.rank)                 AS rank_avg,
       COUNT(*)                    AS n_rows
FROM norm n JOIN src s ON n.title_comp = s.title_comp
WHERE s.ns = {N_SOURCES}
GROUP BY n.title_comp
ORDER BY rank_sum ASC, n.title_comp ASC
LIMIT 10
"""


@REGISTRY.register("flagship_fixture_distinct", _FIXTURE_DISTINCT_ORACLE)
def flagship_fixture_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrected-semantics variant from SURVEY.md §7's risk
    register: 'in all lists' counts DISTINCT sources, so a title
    duplicated within one list no longer sneaks through on row count
    (the reference's len(group)==3 bug, top_movies.py:137). The
    fixture's planted within-one-source duplicate makes the two
    variants differ, which is the point of registering both."""
    return flagship(
        scraped_fixture_df(spark), n_sources=N_SOURCES, k=10, distinct_sources=True
    )


_FUZZY_ORACLE = f"""
WITH scraped AS (SELECT * FROM {scraped_values_sql()}),
t AS (
  SELECT DISTINCT {norm_title_sql('title')} AS tc FROM scraped
),
t2 AS (
  SELECT tc, list_distinct(string_split(tc, ' ')) AS toks
  FROM t WHERE tc <> ''
),
e AS (SELECT tc, len(toks) AS n, unnest(toks) AS tok FROM t2),
inter AS (
  SELECT a.tc AS title_a, b.tc AS title_b, COUNT(*) AS i,
         ANY_VALUE(a.n) AS n_a, ANY_VALUE(b.n) AS n_b
  FROM e a JOIN e b ON a.tok = b.tok AND a.tc < b.tc
  WHERE a.n >= 0.5 * b.n AND b.n >= 0.5 * a.n
  GROUP BY 1, 2
)
SELECT title_a, title_b, CAST(i AS DOUBLE) / (n_a + n_b - i) AS jaccard
FROM inter WHERE CAST(i AS DOUBLE) / (n_a + n_b - i) >= 0.5
ORDER BY title_a, title_b
"""


@REGISTRY.register("fuzzy_title_match", _FUZZY_ORACLE)
def fuzzy_title_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: alias-candidate discovery by token-set Jaccard — the
    operator form of the reference's hand-maintained rename list
    (top_movies.py:76-77,91-94; README.md:9)."""
    from movie_rankings_spark.operators.fuzzyjoin import fuzzy_title_pairs

    return fuzzy_title_pairs(scraped_fixture_df(spark), threshold=0.5).orderBy(
        "title_a", "title_b"
    )


@REGISTRY.register("flagship_tpch", _TPCH_ORACLE)
def flagship_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    scraped = supplier_part_rankings(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        suppkeys=(1, 2, 3),
        top_n=100,
    )
    return flagship(scraped, n_sources=3, k=10, apply_aliases=False)


@REGISTRY.register("flagship_pandas_api", _FIXTURE_ORACLE)
def flagship_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query through the PANDAS API ON SPARK — the
    migration bridge for the reference's actual users: the reference
    IS pandas (top_movies.py:128-144), and this variant keeps its
    idioms (`to_numeric(errors='coerce').fillna(0)`, `.str.replace`,
    groupby-size gate, `sort_values().head(10)`) while every step
    compiles to the same distributed plans as the DataFrame form —
    same oracle as flagship_fixture, value-hash identical.

    Semantics notes vs raw pandas: the group-count gate is a
    merge-with-counts (ps.GroupBy.transform takes callables only —
    it Arrow-evaluates per group; the merge form stays JVM-side), and
    the sort is made total with the title tie-break because pandas'
    unstable quicksort order is not a semantics any engine should
    reproduce."""
    import pyspark.pandas as pspd

    from movie_rankings_spark.functions.normalize import ALIAS_OVERRIDES

    pdf = scraped_fixture_df(spark).pandas_api()
    title = pdf["title"].replace(dict(ALIAS_OVERRIDES))
    comp = (
        title.str.replace(r"[^a-zA-Z0-9 ]", "", regex=True)
        .str.replace(r"\s{2,}", " ", regex=True)
        .str.lower()
    )
    df = pdf.assign(
        rank=pspd.to_numeric(pdf["rank"], errors="coerce")
        .fillna(0)
        .astype("int32"),
        title_comp=comp,
    )[["url", "rank", "title_comp"]]
    cnt = df.groupby("title_comp").size().rename("_n").reset_index()
    surv = df.merge(cnt, on="title_comp")
    surv = surv[surv["_n"] == N_SOURCES]
    agg = (
        surv.groupby("title_comp")
        .agg(
            rank_sum=("rank", "sum"),
            rank_avg=("rank", "mean"),
            n_rows=("rank", "count"),
        )
        .reset_index()
    )
    return agg.sort_values(["rank_sum", "title_comp"]).head(10).to_spark()


_FUZZY_RESOLVED_ORACLE = f"""
WITH RECURSIVE scraped AS (SELECT * FROM {scraped_values_sql()}),
norm AS (
  SELECT url,
         COALESCE(TRY_CAST(rank AS INTEGER), 0) AS rank,
         {norm_title_sql('title')} AS tc
  FROM scraped
  WHERE {norm_title_sql('title')} <> ''
),
t2 AS (
  SELECT tc, list_distinct(string_split(tc, ' ')) AS toks
  FROM (SELECT DISTINCT tc FROM norm)
),
e AS (SELECT tc, len(toks) AS n, unnest(toks) AS tok FROM t2),
inter AS (
  SELECT a.tc AS ta, b.tc AS tb, COUNT(*) AS i,
         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
  FROM e a JOIN e b ON a.tok = b.tok AND a.tc < b.tc
  WHERE a.n >= 0.55 * b.n AND b.n >= 0.55 * a.n
  GROUP BY 1, 2
),
pairs AS (
  SELECT ta, tb FROM inter WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.55
),
und AS (
  SELECT ta AS u, tb AS v FROM pairs UNION SELECT tb AS u, ta AS v FROM pairs
),
reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, n2.v FROM reach r JOIN und n2 ON r.v = n2.u
),
labels AS (SELECT u, MIN(v) AS entity FROM reach GROUP BY u),
res AS (
  SELECT n.url, n.rank, COALESCE(l.entity, n.tc) AS entity
  FROM norm n LEFT JOIN labels l ON n.tc = l.u
),
gate AS (SELECT entity, COUNT(DISTINCT url) AS ns FROM res GROUP BY 1)
SELECT r.entity,
       CAST(SUM(r.rank) AS BIGINT) AS rank_sum,
       AVG(r.rank)                 AS rank_avg,
       COUNT(*)                    AS n_rows
FROM res r JOIN gate g ON r.entity = g.entity
WHERE g.ns = {N_SOURCES}
GROUP BY r.entity
ORDER BY rank_sum ASC, r.entity ASC
LIMIT 10
"""


@REGISTRY.register("flagship_fuzzy_resolved", _FUZZY_RESOLVED_ORACLE)
def flagship_fuzzy_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composite ranking with the reference's
    hand-maintained rename list REPLACED by discovered entity
    resolution (the 'better way of matching titles' README.md:9 asks
    for): fuzzy token-Jaccard alias pairs (operators/fuzzyjoin.py) →
    connected components over the alias graph
    (operators/components.py, min-title canonical rep) → the
    distinct-source 'in all lists' gate and rank aggregation keyed by
    the resolved entity. On the fixture the clustering automatically
    recovers the 'raiders of the lost ark' alias (token Jaccard 5/9)
    that the reference hard-codes at top_movies.py:91-94; pure-token
    renames like Seven→Se7en still need the curated list — discovery
    and overrides are complementary, not rivals. Oracled exactly:
    fuzzy pairs + recursive-CTE transitive closure + the flagship
    tail, value-hash checked. Scale shape: the alias graph is
    |distinct titles|-sized (entity-dimension work), the fact-side
    pipeline stays the one-shuffle flagship plan with a broadcastable
    entity map."""
    from movie_rankings_spark.operators.components import (
        connected_components,
    )
    from movie_rankings_spark.operators.flagship import normalize_scraped
    from movie_rankings_spark.operators.fuzzyjoin import fuzzy_title_pairs

    scraped = scraped_fixture_df(spark)
    norm = normalize_scraped(scraped, apply_aliases=False).filter(
        F.col("title_comp") != ""
    )
    pairs = fuzzy_title_pairs(scraped, threshold=0.55)
    cc = connected_components(pairs, "title_a", "title_b")
    resolved = (
        norm.join(
            F.broadcast(cc), norm["title_comp"] == cc["node"], "left"
        )
        .select(
            "url",
            "rank",
            F.coalesce(F.col("component"), F.col("title_comp")).alias(
                "entity"
            ),
        )
    )
    gate = resolved.groupBy("entity").agg(
        F.countDistinct("url").alias("_ns")
    )
    return (
        resolved.join(
            F.broadcast(gate.filter(F.col("_ns") == N_SOURCES)), "entity"
        )
        .groupBy("entity")
        .agg(
            F.sum("rank").cast("long").alias("rank_sum"),
            F.avg("rank").alias("rank_avg"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.col("rank_sum").asc(), F.col("entity").asc())
        .limit(10)
    )
