"""Round-4 operator tier: deterministic mergeable HLL registers,
PPS/Horvitz–Thompson sampling, label-propagation communities, and the
skyline operator — four classically-distributed analytics shapes, each
value-hash oracleable (no rows-only carve-outs; see the operator
modules for the exactness arguments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.operators import hllsketch, pps
from movie_rankings_spark.operators.communities import (
    community_sizes,
    label_propagation,
)
from movie_rankings_spark.operators.kcore import (
    core_size_histogram,
    kcore,
    kcore_oracle_sql,
)
from movie_rankings_spark.operators.linkpred import (
    adamic_adar_oracle_sql,
    adamic_adar_topk,
)
from movie_rankings_spark.operators.overlap import (
    audience_overlap_matrix,
    audience_overlap_oracle_sql,
    source_overlap_matrix,
    source_overlap_oracle_sql,
)
from movie_rankings_spark.operators.pagerank import copurchase_edges
from movie_rankings_spark.operators.skyline import (
    skyline_2d,
    skyline_oracle_sql,
)
from movie_rankings_spark.operators.corpuslaws import (
    heaps_fit,
    heaps_oracle_sql,
    zipf_oracle_sql,
    zipf_slope,
)
from movie_rankings_spark.operators.dedup import sorted_neighborhood_oracle_sql
from movie_rankings_spark.operators.sssp import (
    bfs_distances,
    bfs_oracle_sql,
    harmonic_oracle_sql,
    hop_histogram,
)
from movie_rankings_spark.plans.llm_queries import _SHINGLES
from movie_rankings_spark.plans.registry import REGISTRY


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    return load_table(spark, sf_dir, name, fanout=fanout)


# --- deterministic mergeable HLL over events --------------------------------

_HLL_P = 8

_HLL_ORACLE = hllsketch.hll_oracle_sql(
    _HLL_P,
    key_sql="user_id",
    day_group="CAST(ts AS DATE)",
    merge_group="event_type",
    table="events",
)


@REGISTRY.register("hll_registers_rollup", _HLL_ORACLE)
def hll_registers_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HLL distinct-user rollup: per-(event_type, day)
    md5-derived register tables built once, MERGED (max per register)
    up to event_type, with the raw estimate α·m²/Z — the same
    store-daily-sketches / merge-for-dashboards contract as
    hll_users_mergeable_rollup (which since r8 shares this register
    layout, merged day→week at p=10), every value reproducible on
    any engine (oracle-exact, closing the r3 "HLL rows-only" gap).
    p=8 → 256 registers: at the tiny test cardinalities the RAW
    estimate sits in the linear-counting regime (the correction's
    inputs n_set/scaled_sum_set are part of the output; accuracy at
    proper cardinality is gated in tests/test_hll.py); production
    would run p=12–14 unchanged."""
    e = _t(spark, sf_dir, "events")
    daily = hllsketch.hll_build(
        e.withColumn("day", F.to_date("ts")),
        key="user_id",
        group_cols=["event_type", "day"],
        p=_HLL_P,
    )
    return hllsketch.hll_merge_estimate(
        daily, merge_to=["event_type"], p=_HLL_P
    ).orderBy("event_type")


# --- PPS + Horvitz–Thompson sampling audit over orders -----------------------

_PPS_N = 500

_PPS_ORACLE = pps.pps_oracle_sql(
    key_sql="o_orderkey",
    weight_sql="o_totalprice",
    group_sql="o_orderpriority",
    n_target=_PPS_N,
    table="orders",
    group_alias="o_orderpriority",
)


@REGISTRY.register("pps_sample_orders", _PPS_ORACLE)
def pps_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Poisson-PPS draw (expected n=500, weight = order value)
    audited per priority class: exact population count/total beside
    the sample size and the Horvitz–Thompson estimates rebuilt from
    the sample alone. Selection is an integer cross-multiplication on
    md5 uniforms — engine-exact, so the entire draw (not just its
    moments) value-hash matches the oracle."""
    return pps.pps_sample_report(
        _t(spark, sf_dir, "orders", fanout=True),
        key_col="o_orderkey",
        weight_col="o_totalprice",
        group_cols=["o_orderpriority"],
        n_target=_PPS_N,
    )


# --- label-propagation communities over the co-purchase graph ----------------


def _lpa_oracle(n_rounds: int = 4) -> str:
    """Unrolled DuckDB twin of synchronous min-tie-break LPA over the
    co-purchase graph (same edge construction as _pagerank_oracle):
    each round re-derives every node's label as the most frequent
    neighbour label, ties to the smallest — pure integer logic, no
    floats anywhere."""
    parts = [
        """WITH baskets AS (
  SELECT list_distinct(list(l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
), ok AS (SELECT parts FROM baskets WHERE len(parts) BETWEEN 2 AND 30),
e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM ok, LATERAL unnest(parts) AS a(p), LATERAL unnest(parts) AS b(p)
  WHERE a.p <> b.p
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
    ]
    for k in range(1, n_rounds + 1):
        parts.append(
            f""",
g{k} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS cnt
  FROM e JOIN l{k - 1} l ON e.src = l.node
  GROUP BY e.dst, l.label
),
l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY cnt DESC, label ASC
           ) AS rn
    FROM g{k}
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label, COUNT(*) AS n_nodes FROM l{n_rounds}
GROUP BY label ORDER BY n_nodes DESC, label ASC LIMIT 20"""
    )
    return "".join(parts)


@REGISTRY.register("communities_copurchase", _lpa_oracle())
def communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the item co-purchase graph
    (operators/communities.py): 4 synchronous rounds, frequency-then-
    min-label updates — all integer logic, so the unrolled DuckDB twin
    hash-matches the full labelling. Top-20 communities by size.
    The co-purchase graph is symmetric, so every node both sends and
    receives in each round (no dangling special case)."""
    edges = copurchase_edges(_t(spark, sf_dir, "lineitem"))
    labels = label_propagation(edges, n_rounds=4)
    return community_sizes(labels).limit(20)


# --- skyline / Pareto frontier over parts ------------------------------------

_SKYLINE_ORACLE = skyline_oracle_sql(
    x_sql="p_retailprice",
    y_sql="p_size",
    table="part",
    select_sql="a.p_partkey, a.p_brand, a.p_retailprice, a.p_size",
    order_sql="a.p_retailprice ASC, a.p_size DESC, a.p_partkey ASC",
)


@REGISTRY.register("skyline_parts_frontier", _SKYLINE_ORACLE)
def skyline_parts_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts — no part is both cheaper and larger:
    the bucketed prefix-max skyline (operators/skyline.py) whose
    linear plan must reproduce the oracle's quadratic NOT-EXISTS
    semantics exactly, ties and duplicates included."""
    part = _t(spark, sf_dir, "part")
    return (
        skyline_2d(part, "p_retailprice", "p_size")
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
        .orderBy(
            F.asc("p_retailprice"), F.desc("p_size"), F.asc("p_partkey")
        )
    )


# --- round-4b: k-core, link prediction, overlap, sorted-neighborhood, ROC ----

#: the co-purchase edge list as a DuckDB WITH body (relation ``e``,
#: symmetric) — the same construction _pagerank_oracle/_lpa_oracle use,
#: shared by the k-core and Adamic–Adar twins
_COPURCHASE_EDGES_CTE = """baskets AS (
  SELECT list_distinct(list(l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
), ok AS (SELECT parts FROM baskets WHERE len(parts) BETWEEN 2 AND 30),
e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM ok, LATERAL unnest(parts) AS a(p), LATERAL unnest(parts) AS b(p)
  WHERE a.p <> b.p
)"""

_KCORE_K = 8
_KCORE_ROUNDS = 6


@REGISTRY.register(
    "kcore_copurchase",
    kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS, _COPURCHASE_EDGES_CTE),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-purchase graph (operators/kcore.py): 6 peel
    rounds at k=8, reported as the (core_degree, n_nodes) histogram.
    Pure integer peeling ⇒ the unrolled DuckDB twin hash-matches; the
    fixed point at the shipped SFs is pinned in tests/test_frontier4b.py
    (kcore.converged)."""
    edges = copurchase_edges(_t(spark, sf_dir, "lineitem", fanout=True))
    core = kcore(edges, k=_KCORE_K, n_rounds=_KCORE_ROUNDS)
    return core_size_histogram(core)


_AA_K = 30
_AA_MAXDEG = 64


@REGISTRY.register(
    "linkpred_adamic_adar",
    adamic_adar_oracle_sql(_AA_K, _AA_MAXDEG, _COPURCHASE_EDGES_CTE),
)
def linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 predicted co-purchase links by Adamic–Adar score
    (operators/linkpred.py): wedge-join common-neighbour enumeration
    with quantized 1/ln(deg) integer weights, hub cap 64 applied
    identically on both engines — the whole ranking value-hash
    matches."""
    edges = copurchase_edges(_t(spark, sf_dir, "lineitem"))
    return adamic_adar_topk(edges, k=_AA_K, max_degree=_AA_MAXDEG)


@REGISTRY.register(
    "overlap_sources_shingles",
    source_overlap_oracle_sql(_SHINGLES),
)
def overlap_sources_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram shingle overlap between document sources
    (operators/overlap.py): Jaccard + containment per source pair from
    ONE corpus shuffle (distinct (source, shingle) → per-shingle
    source sets → |sources|²-bounded pair explode). The corpus-mixing
    pre-flight audit; exact integer counts ⇒ value-hash oracle."""
    return source_overlap_matrix(_t(spark, sf_dir, "documents"))


_SN_WINDOW = 10
_SN_THRESHOLD = 0.5


@REGISTRY.register(
    "dedup_sorted_neighborhood",
    sorted_neighborhood_oracle_sql(
        _SHINGLES, window=_SN_WINDOW, threshold=_SN_THRESHOLD
    ),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (operators/dedup.py):
    range-partition by normalized-prefix key, exact global rank via
    the two-pass prefix scan (no SinglePartition window), band-join
    candidates within a 10-position window, exact 3-gram Jaccard
    verify at 0.5. The deterministic-cost complement to MinHash-LSH;
    position semantics are replicated exactly by the oracle's
    ROW_NUMBER twin."""
    from movie_rankings_spark.operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"),
        window=_SN_WINDOW,
        threshold=_SN_THRESHOLD,
    )


_ROC_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
feat AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 4096 AS bucket
  FROM toks
),
wt AS (
  SELECT CAST(b AS BIGINT) AS bucket,
         CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8) AS BIGINT)
           % 201 - 100 AS weight
  FROM (SELECT unnest(range(0, 4096)) AS b)
),
scores AS (
  SELECT f.doc_id, CAST(SUM(weight) AS BIGINT) AS logit
  FROM feat f JOIN wt USING (bucket) GROUP BY 1
),
labeled AS (
  SELECT s.logit, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scores s JOIN documents d USING (doc_id)
),
vc AS (
  SELECT logit, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
  FROM labeled GROUP BY 1
),
cum AS (
  SELECT a.logit AS s,
         CAST(SUM(b.pos) AS BIGINT) AS tp,
         CAST(SUM(b.neg) AS BIGINT) AS fp
  FROM vc a JOIN vc b ON b.logit >= a.logit
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS n
  FROM vc
)
SELECT s AS threshold, tp, fp, p - tp AS fn, n - fp AS tn,
       CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) AS tpr,
       CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) AS fpr,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision
FROM cum CROSS JOIN tot
ORDER BY threshold DESC
"""


@REGISTRY.register("classifier_roc_curve", _ROC_ORACLE)
def classifier_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC operating points of the hashed-BoW classifier against
    the lang label (operators/classifier.py::roc_curve): one row per
    distinct integer logit with confusion counts and tpr/fpr/precision
    — cumulative sums via a theta self-join of the BOUNDED logit
    histogram (the classifier_auc shape), never a global window. The
    threshold-picking companion to classifier_auc_eval."""
    from movie_rankings_spark.operators.classifier import roc_curve

    return roc_curve(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


# --- round-4c: BFS reach, audience overlap, corpus laws ----------------------

_BFS_ROUNDS = 4
_BFS_SEEDS_SQL = (
    "SELECT l_partkey AS node FROM lineitem "
    "GROUP BY l_partkey ORDER BY COUNT(*) DESC, l_partkey ASC LIMIT 5"
)


@REGISTRY.register(
    "sssp_copurchase_reach",
    bfs_oracle_sql(_BFS_ROUNDS, _COPURCHASE_EDGES_CTE, _BFS_SEEDS_SQL),
)
def sssp_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from the 5 best-selling parts over the
    co-purchase graph (operators/sssp.py): frontier-delta min-
    relaxation, 4 rounds built as one lazy plan (no job until
    collect), reported as the (dist, n_nodes) reach histogram.
    Integer hop logic ⇒ the unrolled DuckDB twin hash-matches; fixed
    point pinned via sssp.converged in tests."""
    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    seeds = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(5)
        .select(F.col("l_partkey").alias("node"))
    )
    return hop_histogram(bfs_distances(edges, seeds, n_rounds=_BFS_ROUNDS))


@REGISTRY.register(
    "overlap_event_audiences", audience_overlap_oracle_sql()
)
def overlap_event_audiences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience overlap between event types (operators/overlap.py
    ::audience_overlap_matrix): which behaviours share users —
    |A∩B|, Jaccard, containment per type pair from ONE distinct
    (type, user) shuffle; the warehouse twin of the corpus source
    overlap, same set_overlap_matrix core."""
    return audience_overlap_matrix(_t(spark, sf_dir, "events"))


@REGISTRY.register("corpus_zipf_slope", zipf_oracle_sql())
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 words
    (operators/corpuslaws.py): quantized-log OLS with DECIMAL-exact
    moments — slope ≈ −1 flags natural text, ≈ 0 flags machine soup.
    The corpus reduces to a 100-row histogram before any fit math."""
    return zipf_slope(_t(spark, sf_dir, "documents"))


@REGISTRY.register("corpus_heaps_law", heaps_oracle_sql())
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps vocabulary-growth fit across sources
    (operators/corpuslaws.py): per-source (tokens, types) + the fitted
    β / ln K broadcast onto every row. β near 1 flags unbounded
    vocabularies (serial numbers, hashes) — the corpus-quality
    fingerprint next to the Zipf slope."""
    return heaps_fit(_t(spark, sf_dir, "documents"))


# --- round-4d: personalized PageRank + HLL audience overlap ------------------


def _ppr_oracle(n_iter: int = 10, n_seeds: int = 5) -> str:
    """Unrolled DuckDB twin of decimal-mass personalized PageRank with
    restart on the top-5-selling seed set (the _pagerank_oracle
    exactness strategy: scaled-integer contribution sums, literal
    hygiene via repr() for the Python-double restart constant; the
    co-purchase graph is symmetric so there is no dangling term)."""
    base = repr((1.0 - 0.85) / n_seeds)
    parts = [
        f"""WITH {_COPURCHASE_EDGES_CTE},
seeds AS ({_BFS_SEEDS_SQL}),
nodes AS (
  SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
  FROM (SELECT DISTINCT src AS node FROM e) n
  LEFT JOIN seeds s ON n.node = s.node
),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w
      FROM e JOIN deg d USING (src)),
r0 AS (SELECT node, CAST(is_seed AS DOUBLE) / {float(n_seeds)} AS rank
       FROM nodes)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
c{k} AS (
  SELECT w.dst,
         SUM(CAST(round((r{k - 1}.rank * w.w) * 1e15) AS BIGINT)) AS mass
  FROM w JOIN r{k - 1} ON w.src = r{k - 1}.node GROUP BY w.dst
),
r{k} AS (
  SELECT nodes.node,
         CAST(nodes.is_seed AS DOUBLE) * CAST('{base}' AS DOUBLE)
         + CAST(0.85 AS DOUBLE)
           * (COALESCE(CAST(c{k}.mass AS DOUBLE), CAST(0.0 AS DOUBLE))
                / 1e15) AS rank
  FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.dst
)"""
        )
    parts.append(
        f"""
SELECT node AS l_partkey, rank FROM r{n_iter}
WHERE rank > 0
ORDER BY rank DESC, l_partkey ASC LIMIT 20"""
    )
    return "".join(parts)


@REGISTRY.register("ppr_copurchase_seeded", _ppr_oracle())
def ppr_copurchase_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the 5 best-selling parts
    (operators/pagerank.py::personalized_pagerank): random-walk-with-
    restart proximity to the promoted set — "related parts", the
    seeded-expansion query global PageRank can't answer. Decimal-mass
    contributions ⇒ the unrolled DuckDB twin hash-matches the full
    vector; top 20 positive-rank parts."""
    from movie_rankings_spark.operators.pagerank import personalized_pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    seeds = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(5)
        .select(F.col("l_partkey").alias("node"))
    )
    pr = personalized_pagerank(
        edges, seeds, n_iterations=10, shuffle_partitions=8,
        decimal_mass=True,
    )
    return (
        pr.filter(F.col("rank") > 0)
        .select(F.col("node").alias("l_partkey"), "rank")
        .orderBy(F.desc("rank"), F.asc("l_partkey"))
        .limit(20)
    )


_HLL_OVERLAP_ORACLE = hllsketch.hll_pairwise_oracle_sql(
    _HLL_P, key_sql="user_id", group_sql="event_type", table="events"
)


@REGISTRY.register("hll_audience_overlap", _HLL_OVERLAP_ORACLE)
def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier audience overlap (operators/hllsketch.py
    ::hll_pairwise_overlap): per event-type pair, raw HLL estimates of
    |A|, |B|, |A∪B| and the inclusion–exclusion intersection — union
    sketches come free from register max-merge, no fact rescan. The
    mergeable-artifact answer to the exact overlap_event_audiences;
    estimate-vs-exact error is gated in tests/test_frontier4d.py."""
    return hllsketch.hll_pairwise_overlap(
        _t(spark, sf_dir, "events"),
        key="user_id",
        group_col="event_type",
        p=_HLL_P,
    )


# --- harmonic centrality of the top hubs (r5) --------------------------------


@REGISTRY.register(
    "centrality_harmonic_hubs",
    harmonic_oracle_sql(_BFS_ROUNDS, _COPURCHASE_EDGES_CTE, _BFS_SEEDS_SQL),
)
def centrality_harmonic_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How central is each best-selling part in the co-purchase
    graph? Bounded-radius harmonic centrality HC(s) = Σ 1/d(s,v)
    of the same 5 hub seeds as sssp_copurchase_reach — the
    closeness-family ranking that tolerates disconnected components
    (unreached nodes contribute 0, not ∞). One multi-source BFS with
    the seed id carried in the state, built as one lazy plan (per
    round: the state left-joined to the edges, frontier rows matching,
    + (seed, node) min aggregate); reciprocal sums are exact integers
    (Σ 60/d, 60 = lcm(1..6)) so the unrolled DuckDB twin hash-matches
    (operators/sssp.py::harmonic_centrality)."""
    from movie_rankings_spark.operators.sssp import harmonic_centrality

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    seeds = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(5)
        .select(F.col("l_partkey").alias("node"))
    )
    return harmonic_centrality(edges, seeds, n_rounds=_BFS_ROUNDS)
