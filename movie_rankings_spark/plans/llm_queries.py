"""LLM-data-pipeline tier registrations (north_star mandate): text
analysis, dedup, similarity search. DuckDB oracles mirror the Spark
expressions exactly (same regexes, stopword lists, shingle indexing,
and the exact-decimal dot-product trick from functions/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.functions.text import LANG_ORDER, LANG_STOPWORDS
from movie_rankings_spark.operators import dedup, similarity, textops
from movie_rankings_spark.plans.registry import REGISTRY


def _docs(spark: SparkSession, sf_dir: str, fanout: bool = False) -> DataFrame:
    return load_table(spark, sf_dir, "documents", fanout=fanout)


def _emb(spark: SparkSession, sf_dir: str, fanout: bool = False) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings", fanout=fanout)


def _sql_list(words) -> str:
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


_WORDS = "string_split(text, ' ')"
_STOP_EN = _sql_list(LANG_STOPWORDS["en"])

# --- text analysis ----------------------------------------------------------

_DOC_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(len({_WORDS}) AS INTEGER) AS n_words,
       CAST(length(text) AS INTEGER) AS n_chars_computed,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
         AS n_bpe_tokens,
       CAST(len(list_distinct({_WORDS})) AS INTEGER) AS n_distinct_words
FROM documents ORDER BY doc_id
"""


@REGISTRY.register("text_doc_stats", _DOC_STATS_ORACLE)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.doc_stats(_docs(spark, sf_dir)).orderBy("doc_id")


_QUALITY_ORACLE = f"""
SELECT doc_id,
       CAST(len({_WORDS}) AS INTEGER) AS n_words,
       CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         / length(text) AS punct_ratio,
       CAST(len(list_filter({_WORDS}, w -> list_contains({_STOP_EN}, w))) AS DOUBLE)
         / len({_WORDS}) AS stopword_ratio,
       least(CAST(len({_WORDS}) AS DOUBLE) / 50.0, 1.0) * 0.5
         + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text)) * 0.3
         + least(CAST(len(list_filter({_WORDS}, w -> list_contains({_STOP_EN}, w)))
                      AS DOUBLE) / len({_WORDS}) * 5.0, 1.0) * 0.2
         AS quality
FROM documents ORDER BY doc_id
"""


@REGISTRY.register("text_quality", _QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.doc_quality(_docs(spark, sf_dir)).orderBy("doc_id")


def _langid_oracle() -> str:
    score_exprs = ",\n       ".join(
        f"CAST(len(list_intersect(list_distinct({_WORDS}), "
        f"{_sql_list(LANG_STOPWORDS[lang])})) AS INTEGER) AS score_{lang}"
        for lang in LANG_ORDER
    )
    greatest = "GREATEST(" + ", ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
    case_arms = " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS lang_label,
       {score_exprs}
  FROM documents
)
SELECT doc_id, lang_label,
       CASE WHEN {greatest} <= 0 THEN 'und' {case_arms} ELSE 'und' END AS lang_pred,
       {', '.join(f'score_{lang}' for lang in LANG_ORDER)}
FROM scored ORDER BY doc_id
"""


@REGISTRY.register("text_langid", _langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.doc_langid(_docs(spark, sf_dir)).orderBy("doc_id")


_FP_ORACLE = r"""
SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY doc_id
"""


@REGISTRY.register("text_fingerprints", _FP_ORACLE)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.doc_fingerprints(_docs(spark, sf_dir)).orderBy("doc_id")


_CORPUS_ORACLE = f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len({_WORDS})) AS BIGINT) AS total_words,
       CAST(MIN(length(text)) AS INTEGER) AS min_chars,
       CAST(MAX(length(text)) AS INTEGER) AS max_chars
FROM documents GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("text_corpus_summary", _CORPUS_ORACLE)
def text_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.corpus_summary(_docs(spark, sf_dir))


# --- dedup ------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = r"""
SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY fingerprint
"""


@REGISTRY.register("dedup_exact_groups", _EXACT_DEDUP_ORACLE)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir)).orderBy("fingerprint")


_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_WORDS}) - 1), "
    f"i -> concat_ws(' ', {_WORDS}[i], {_WORDS}[i+1], {_WORDS}[i+2])))"
)

_NGRAM_ORACLE = f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
ORDER BY doc_a, doc_b
"""


@REGISTRY.register("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir, fanout=True), n=3, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


# Same oracle as the exact query: with 16×4 banding the probability of
# LSH missing a pair at jaccard j is (1-j^4)^16 — for the planted
# near-dups (j >= 0.95) that is < 1e-17, and verification guarantees
# precision. The oracle match is therefore DATA-DEPENDENT (an organic
# pair in the 0.5–0.9 band could be band-missed); verified empirically
# that LSH == exact on both fixtures (sf0.01: 25/25 pairs, sf0.1:
# 256/256 — zero missed, r4 check). Downstream exact-claim queries
# (cluster reps / keep-best / edit-verify / impact) feed the exact
# PPJoin instead, so only this LSH demonstration carries the caveat.
@REGISTRY.register("dedup_minhash_lsh", _NGRAM_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_neardup_pairs(
        _docs(spark, sf_dir), threshold=0.5, num_hashes=64, bands=16
    ).orderBy("doc_a", "doc_b")


# Same oracle again: prefix filtering is an EXACT algorithm (the
# df-ordered prefix of a set must intersect the prefix of any set
# within Jaccard threshold — Bayardo et al.), and verification is the
# same array_intersect, so output == the full inverted-index join.
@REGISTRY.register("dedup_jaccard_prefix", _NGRAM_ORACLE)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_pairs(
        _docs(spark, sf_dir, fanout=True), n=3, threshold=0.5
    ).orderBy("doc_a", "doc_b")


_INCR_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES} AS sh,
         substr(md5(CAST(doc_id AS VARCHAR)), 30, 1) AS hb
  FROM documents
),
bat AS (SELECT doc_id, sh FROM s WHERE hb IN ('0', '1')),
cor AS (SELECT doc_id, sh FROM s WHERE hb NOT IN ('0', '1')),
eb AS (SELECT doc_id, unnest(sh) AS g FROM bat),
ec AS (SELECT doc_id, unnest(sh) AS g FROM cor),
inter AS (
  SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc, COUNT(*) AS i
  FROM eb a JOIN ec b ON a.g = b.g GROUP BY 1, 2
)
SELECT batch_doc, corpus_doc,
       CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
FROM inter
JOIN (SELECT doc_id, len(sh) AS n FROM bat) x ON batch_doc = x.doc_id
JOIN (SELECT doc_id, len(sh) AS n FROM cor) y ON corpus_doc = y.doc_id
WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
ORDER BY batch_doc, corpus_doc
"""


# Oracle = exact batch-vs-corpus Jaccard pairs; as with
# dedup_minhash_lsh, 16×4 banding catches the planted near-dups with
# probability 1-(1-j^4)^16 ≈ 1 (< 1e-17 miss at j >= 0.95), and the
# exact-Jaccard verification guarantees precision.
@REGISTRY.register("dedup_incremental_batch", _INCR_ORACLE)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup (operators/dedup.py::incremental_
    neardup_pairs): the corpus's banded LSH table is the stored
    index; a new batch (md5 hash-split ~1/8 of documents, disjoint
    bucket position from the sampling/split queries) joins against it
    and exact-verifies candidates. Cost scales with the batch, never
    corpus × corpus."""
    docs = _docs(spark, sf_dir)
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 30, 1)
    batch = docs.filter(hb.isin("0", "1"))
    corpus = docs.filter(~hb.isin("0", "1"))
    return dedup.incremental_neardup_pairs(
        batch, corpus, threshold=0.5, num_hashes=64, bands=16
    ).orderBy("batch_doc", "corpus_doc")


# Exact all-pairs semantic near-dup. Norms precomputed per vector,
# per-pair dot through the exact-decimal sum — same formula as the
# similarity oracle below, so the cosine doubles are bit-identical.
_EMB_NORM_SQL = """
sqrt(CAST(list_sum(list_transform(range(1, len(embedding) + 1),
     i -> CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
               AS DECIMAL(28,12)))) AS DOUBLE))
"""

_EMB_DEDUP_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding, {_EMB_NORM_SQL} AS nrm FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(CAST(a.embedding[i] AS DOUBLE)
                      * CAST(b.embedding[i] AS DOUBLE)
                 AS DECIMAL(28,12)))) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(CAST(a.embedding[i] AS DOUBLE)
                     * CAST(b.embedding[i] AS DOUBLE)
                AS DECIMAL(28,12)))) AS DOUBLE) / (a.nrm * b.nrm) >= 0.45
ORDER BY vec_a, vec_b
"""


@REGISTRY.register("dedup_embedding_cosine", _EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(_emb(spark, sf_dir), threshold=0.45).orderBy(
        "vec_a", "vec_b"
    )


# Recall-gate oracle (r6, VERDICT r5 item 4): the LSH candidate SET
# depends on the hyperplane seed and is engine-specific, but its
# recall against the exact pair set is a checkable contract. The
# exact pairs come from the same all-pairs SQL dedup_embedding_cosine
# already hash-matches; the query emits |exact| (hash-compared) and a
# boolean asserting LSH recall ≥ 0.8 — the same floor
# tests/test_dedup.py pins — which DuckDB asserts as literal TRUE.
# (embedding_lsh_pairs exact-verifies its candidates, so its output
# is a subset of the exact pairs: recall = |lsh| / |exact|.)
_EMB_LSH_GATE_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding, {_EMB_NORM_SQL} AS nrm FROM embeddings
), exact_pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)
                  AS DECIMAL(28,12)))) AS DOUBLE) / (a.nrm * b.nrm) >= 0.45
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
FROM exact_pairs
"""


@REGISTRY.register("dedup_embedding_lsh", _EMB_LSH_GATE_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup, audited against the exact
    variant: candidate recall < 1 by construction, so the registered
    row is the recall GATE (see _EMB_LSH_GATE_ORACLE), not the
    seed-dependent pair list. The pair-level behavior stays pinned in
    tests/test_dedup.py (planted boundary pairs + seed stability)."""
    emb = _emb(spark, sf_dir)
    lsh_n = dedup.embedding_lsh_pairs(
        emb, threshold=0.45, n_bits=64, bands=16
    ).agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    exact_n = dedup.embedding_cosine_pairs(emb, threshold=0.45).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs")
    )
    return exact_n.crossJoin(F.broadcast(lsh_n)).select(
        "n_exact_pairs",
        (
            F.col("n_lsh").cast("double")
            >= 0.8 * F.col("n_exact_pairs").cast("double")
        ).alias("recall_ok"),
    )


# Exact oracle: same edge set as _NGRAM_ORACLE — the Spark side feeds
# the exact prefix-filtered Jaccard join (PPJoin, no false negatives),
# so the edge-set equality is deterministic, not data-dependent (r4:
# previously MinHash candidates, whose 0.5-threshold recall is only
# ~0.64 in theory) — then a recursive-CTE transitive
# closure labels each node with its minimum reachable id — the same
# labels the star rounds of operators/components.py converge to.
# Closure is quadratic in component size, fine for the oracle tier's
# tiny cliques; the Spark side stays the per-round star joins.
_CLUSTER_ORACLE = f"""
WITH RECURSIVE s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, n2.v FROM reach r JOIN und n2 ON r.v = n2.u
),
labels AS (SELECT u, MIN(v) AS component FROM reach GROUP BY u)
SELECT component AS rep_doc_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM labels GROUP BY component ORDER BY rep_doc_id
"""


@REGISTRY.register("dedup_cluster_reps", _CLUSTER_ORACLE)
def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs clustered into components (small-star /
    large-star rounds, operators/components.py): one row per dedup
    group with the representative and member count. Oracled exactly via a
    DuckDB recursive-CTE transitive closure over the same verified
    edge set; exactness vs union-find is also asserted in
    tests/test_components.py."""
    from movie_rankings_spark.operators.components import dedup_components

    pairs = dedup.jaccard_prefix_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5
    )
    return dedup_components(pairs).orderBy("rep_doc_id")


_CURRICULUM_ORACLE = """
WITH sc AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
t AS (SELECT quantile_cont(n_tokens,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ts FROM sc),
d AS (
  SELECT doc_id, n_tokens, k,
         CAST(1 + (CASE WHEN n_tokens > ts[1] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[2] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[3] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[4] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[5] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[6] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[7] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[8] THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > ts[9] THEN 1 ELSE 0 END)
              AS BIGINT) AS decile
  FROM sc CROSS JOIN t
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY decile, k, doc_id) AS BIGINT)
         AS position,
       doc_id, decile, n_tokens
FROM d ORDER BY position
"""


@REGISTRY.register("curriculum_order_docs", _CURRICULUM_ORACLE)
def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum training order (textops.curriculum_order):
    easy→hard by token-count decile, md5-shuffled within decile.
    Deciles from exact percentile thresholds (1-row aggregate); the
    global ordinal is the two-pass prefix scan (operators/prefix.py)
    over a composite (decile, md5-prefix) bucket — no Exchange
    SinglePartition at any scale (plan-pinned)."""
    return (
        textops.curriculum_order(_docs(spark, sf_dir))
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
        .orderBy("position")
    )


_SPLIT_ORACLE = """
SELECT CASE WHEN b < 13 THEN 'test' WHEN b < 26 THEN 'val'
            ELSE 'train' END AS split,
       lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM (SELECT lang, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 31, 2)
                  AS INT) AS b
      FROM documents)
GROUP BY split, lang ORDER BY split, lang
"""


@REGISTRY.register("split_train_val_test", _SPLIT_ORACLE)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/5/5 train/val/test assignment by md5 byte
    (textops.hash_split_summary) with per-(split, lang) accounting —
    stable under retries/re-partitioning/engines, bucket range
    disjoint from the sampling queries' md5 chars so splits and
    samples compose without correlation."""
    return textops.hash_split_summary(_docs(spark, sf_dir))


_WORDS_SQL = "string_split(text, ' ')"

_LIFT_ORACLE = f"""
WITH toks AS (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
uni AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
bi AS (
  SELECT ngram AS bigram, COUNT(*) AS c_ab FROM (
    SELECT unnest(list_transform(range(1, len({_WORDS_SQL})),
                  i -> concat_ws(' ', {_WORDS_SQL}[i], {_WORDS_SQL}[i+1])))
           AS ngram
    FROM documents
  ) GROUP BY ngram HAVING COUNT(*) >= 5
)
SELECT b.bigram, b.c_ab,
       CAST(b.c_ab * n.n_tokens AS DOUBLE)
         / CAST(u1.c * u2.c AS DOUBLE) AS lift
FROM bi b
CROSS JOIN n
JOIN uni u1 ON u1.word = string_split(b.bigram, ' ')[1]
JOIN uni u2 ON u2.word = string_split(b.bigram, ' ')[2]
ORDER BY lift DESC, bigram ASC LIMIT 20
"""


@REGISTRY.register("collocations_lift", _LIFT_ORACLE)
def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by lift = P(ab)/(P(a)P(b)) — PMI minus
    the log, kept as an exact integer-count ratio so both engines
    produce identical doubles (textops.collocation_lift: bigram side
    pre-filtered and broadcast, vocabulary never shuffles twice, N as
    a 1-row aggregate)."""
    return textops.collocation_lift(_docs(spark, sf_dir), k=20, min_count=5)


def _pagerank_oracle(n_iter: int = 10) -> str:
    """Unrolled DuckDB twin of the decimal-mass PageRank recurrence.

    Exactness strategy (r4, VERDICT item 3): per-edge contributions
    are quantized to scaled 1e15 BIGINTs — round((rank*w)*1e15) — so
    the only order-sensitive operation (the sum) is exact integer
    addition in both engines; every other step is deterministic IEEE
    double arithmetic written with IDENTICAL expression shapes. (A
    DECIMAL cast would NOT work: DuckDB converts double→decimal by
    scaling in double, the JVM from the exact binary value — measured
    ~1e-12 drift.) Literal hygiene matters: DuckDB
    parses bare `1.0 - 0.85` as exact DECIMAL subtraction (0.15),
    while Spark's F.lit((1.0-damping)/n) bakes the PYTHON double
    0.15000000000000002 — so the base constant is embedded via repr()
    and CAST(... AS DOUBLE). Fixed 10 iterations are unrolled as
    chained CTEs (no recursive-CTE single-reference limits)."""
    base = repr(1.0 - 0.85)
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
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w
      FROM e JOIN deg d USING (src)),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
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
         CAST('{base}' AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * (COALESCE(CAST(c{k}.mass AS DOUBLE), CAST(0.0 AS DOUBLE))
                / 1e15
              + CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.dst
)"""
        )
    parts.append(
        f"""
SELECT node AS l_partkey, rank FROM r{n_iter}
ORDER BY rank DESC, l_partkey ASC LIMIT 20"""
    )
    return "".join(parts)


@REGISTRY.register("pagerank_copurchase", _pagerank_oracle())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based PageRank over the item co-purchase graph
    (operators/pagerank.py): parts sharing an order, both directions;
    10 power iterations, each one edge join + one partial-aggregated
    groupBy, no driver-side graph. Oracle-backed since r4: the
    decimal-mass variant makes each round's contribution sums exact
    and order-independent, so the unrolled DuckDB twin
    (_pagerank_oracle) value-hash matches the full rank vector;
    conservation (Σrank=1), hand-computed small-graph values, and
    dangling-mass handling remain pinned in tests/test_pagerank.py.
    Top 20 by rank."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import copurchase_edges, pagerank

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    pr = pagerank(
        edges, n_iterations=10, shuffle_partitions=8, decimal_mass=True
    )
    return (
        pr.select(F.col("node").alias("l_partkey"), "rank")
        .orderBy(F.desc("rank"), F.asc("l_partkey"))
        .limit(20)
    )


# TextRank keywords: the same unrolled decimal-mass PageRank chain as
# _pagerank_oracle, over the word co-occurrence graph (adjacent-token
# pairs, length >= 4 both sides, symmetric). The graph prefix differs;
# the iteration CTEs are generated identically so the recurrence is
# the same IEEE sequence the operator runs.
def _textrank_oracle(n_iter: int = 10) -> str:
    base = repr(1.0 - 0.85)
    parts = [
        """WITH toks AS (
  SELECT string_split(text, ' ') AS ts FROM documents
), adj AS (
  SELECT ts[i] AS a, ts[i + 1] AS b
  FROM toks, LATERAL unnest(range(1, len(ts))) AS r(i)
), e0 AS (
  SELECT DISTINCT a AS src, b AS dst FROM adj
  WHERE len(a) >= 4 AND len(b) >= 4 AND a <> b
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w
      FROM e JOIN deg d USING (src)),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
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
         CAST('{base}' AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * (COALESCE(CAST(c{k}.mass AS DOUBLE), CAST(0.0 AS DOUBLE))
                / 1e15
              + CAST(0.0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.dst
)"""
        )
    parts.append(
        f"""
SELECT node AS word, rank FROM r{n_iter}
ORDER BY rank DESC, word ASC LIMIT 20"""
    )
    return "".join(parts)


@REGISTRY.register("textrank_keywords", _textrank_oracle())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word co-occurrence graph — adjacent-token pairs
    (length >= 4 both sides, the engine-portable stopword proxy),
    symmetric, distinct. Reuses the decimal-mass PageRank operator
    verbatim, so the whole rank vector is order-independent and the
    unrolled DuckDB twin value-hash matches (the J9 machinery applied
    to the text tier). Edge building is a map-only arrays_zip of each
    document's token array against its own shift — pairs never pass
    through a join. Top 20 keywords by rank."""
    from movie_rankings_spark.operators.pagerank import pagerank

    docs = _docs(spark, sf_dir)
    ts = F.split(F.col("text"), " ")
    zipped = F.arrays_zip(
        F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
        F.slice(ts, 2, F.greatest(F.size(ts) - 1, F.lit(0))),
    )
    pairs = (
        docs.select(F.explode(zipped).alias("p"))
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .filter(
            (F.length("a") >= 4) & (F.length("b") >= 4)
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    pr = pagerank(
        edges, n_iterations=10, shuffle_partitions=8, decimal_mass=True
    )
    return (
        pr.select(F.col("node").alias("word"), "rank")
        .orderBy(F.desc("rank"), F.asc("word"))
        .limit(20)
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, LATERAL unnest(range(0, 48)) AS t(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0
                       THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, (simhash >> CAST(c * 12 AS INT)) & 4095 AS val, c
  FROM fp, LATERAL unnest(range(0, 4)) AS t(c)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunks a JOIN chunks b ON a.c = b.c AND a.val = b.val
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 6
ORDER BY doc_a, doc_b
"""


@REGISTRY.register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, exactly oracle-checkable (r3): the
    48-bit fingerprint takes md5(token)'s first 48 bits — engine-
    portable, so DuckDB reproduces fingerprints, pigeonhole chunks,
    and the hamming verification bit-for-bit. Precision vs exact
    Jaccard pairs additionally covered by tests/test_dedup.py."""
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=6).orderBy(
        "doc_a", "doc_b"
    )


# --- similarity search ------------------------------------------------------

_COSINE_SQL = """
CAST(list_sum(list_transform(range(1, len({a}) + 1),
     i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
               AS DECIMAL(28,12)))) AS DOUBLE)
/ (sqrt(CAST(list_sum(list_transform(range(1, len({a}) + 1),
     i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)
               AS DECIMAL(28,12)))) AS DOUBLE))
 * sqrt(CAST(list_sum(list_transform(range(1, len({b}) + 1),
     i -> CAST(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
               AS DECIMAL(28,12)))) AS DOUBLE)))
"""

_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8
),
pairs AS (
  SELECT q.query_id, e.vec_id,
         {_COSINE_SQL.format(a='q.q_emb', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
  ) AS rn FROM pairs
) WHERE rn <= 5
ORDER BY query_id, rn
"""

_QUERY_IDS = tuple(range(8))


@REGISTRY.register("similarity_cosine_topk", _TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_exact(_emb(spark, sf_dir, fanout=True), _QUERY_IDS, k=5)


@REGISTRY.register("similarity_cosine_topk_numpy", _TOPK_ORACLE)
def similarity_cosine_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force path. The float64 GEMM only prunes to a
    per-batch candidate buffer; survivors are rescored with the same
    exact-decimal cosine as the exact variant, so the brute-force
    oracle applies verbatim (candidate-generate-then-exact-rescore is
    also the 100 TB shape: vectorized scan, exact math on k rows)."""
    return similarity.cosine_topk_numpy(_emb(spark, sf_dir), _QUERY_IDS, k=5)


# --- multimodal -------------------------------------------------------------


_MM_FEATURES_ORACLE = """
WITH chars AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         ascii(unnest(string_split(text, ''))) // 16 AS nib,
         length(text) AS total
  FROM documents
), hist AS (
  SELECT doc_id, kind, nib, COUNT(*) AS cnt, ANY_VALUE(total) AS total
  FROM chars GROUP BY 1, 2, 3
)
SELECT kind,
       CAST(16 * COUNT(DISTINCT doc_id) AS BIGINT) AS n_values,
       CAST(SUM(CAST(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
                     AS DECIMAL(28,12))) AS DOUBLE) AS mass
FROM hist GROUP BY kind ORDER BY kind
"""


@REGISTRY.register("multimodal_features", _MM_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: synthesize media payloads from
    documents, extract Arrow-batched features, aggregate per kind.

    Oracle-exact even though the feature UDF is Python: the stand-in
    feature is a 16-bin byte histogram over the utf-8 payload, and the
    corpus text is ASCII, so DuckDB reproduces it char-level —
    ``ascii(char) // 16`` buckets, per-doc L1 normalization as the
    same double division, zero bins contributing exactly 0 to the
    mass sum (both sides cast each value to DECIMAL(28,12) before
    summing). n_values counts all 16 bins per doc on both sides."""
    from movie_rankings_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media)
    return (
        feats.select("kind", F.explode("feature").alias("f"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.col("f").cast("decimal(28,12)")).cast("double").alias("mass"),
        )
        .orderBy("kind")
    )


@REGISTRY.register("similarity_ivf_topk")  # ANN: recall<1 by design
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (rows-only: approximate by construction;
    recall against the exact variant is covered in tests). Codebook
    sized by the auto √corpus knob (similarity.auto_centroids), so
    bucket count — and the probe join's parallelism — grows with the
    embeddings table instead of pinning at 16."""
    return similarity.ivf_topk(
        _emb(spark, sf_dir), _QUERY_IDS, k=5, nprobe=4
    )


def _kmeans_train_assign_cte(n_centroids: int = 16, n_iters: int = 2) -> str:
    """The shared DuckDB CTE chain for the exact spherical-k-means
    tiers (r9): md5-seeded init, then per round an exact-cosine
    assignment (c{k-1} → a{k}), per-dimension exact decimal sums
    (s{k}), and a COALESCE-rebuilt centroid table (c{k}; empty
    clusters keep their previous centroid), ending in the final
    full-corpus ``assign`` CTE against c{n_iters}. Per-round CTEs are
    MATERIALIZED — each is referenced twice, and DuckDB's inlining
    would otherwise re-evaluate the whole chain per reference.
    Consumed by the IVF-probe twin (_kmeans_exact_oracle) and the
    exact-SemDeDup twin (_SEMDEDUP_EXACT_ORACLE)."""
    parts = [f"""WITH c0 AS MATERIALIZED (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
)"""]
    for r in range(1, n_iters + 1):
        prev = f"c{r - 1}"
        parts.append(f""",
a{r} AS MATERIALIZED (
  SELECT vec_id, embedding, bucket FROM (
    SELECT e.vec_id, e.embedding, c.cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_COSINE_SQL.format(a='e.embedding', b='c.c_emb')}
                      DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
s{r} AS (
  SELECT bucket, i AS dim,
         CAST(SUM(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                       AS DECIMAL(28,12))) AS DOUBLE) AS v
  FROM a{r}, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)
  GROUP BY bucket, i
),
n{r} AS (
  SELECT bucket AS cid, list(v ORDER BY dim) AS t_emb
  FROM s{r} GROUP BY bucket
),
c{r} AS MATERIALIZED (
  SELECT c.cid, COALESCE(n.t_emb, c.c_emb) AS c_emb
  FROM {prev} c LEFT JOIN n{r} n ON c.cid = n.cid
)""")
    final = f"c{n_iters}"
    parts.append(f""",
assign AS MATERIALIZED (
  SELECT vec_id, embedding, bucket FROM (
    SELECT e.vec_id, e.embedding, c.cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_COSINE_SQL.format(a='e.embedding', b='c.c_emb')}
                      DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {final} c
  ) WHERE rn = 1
)""")
    return "".join(parts)


def _kmeans_exact_oracle(n_centroids: int = 16, n_iters: int = 2) -> str:
    """Unrolled DuckDB twin of the exact spherical-k-means IVF tier
    (r9): the shared training+assign chain, then probe + in-bucket
    scoring replaying the _IVF_EXACT_ORACLE shape against the final
    centroids."""
    final = f"c{n_iters}"
    return _kmeans_train_assign_cte(n_centroids, n_iters) + f""",
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < 8
),
probes AS (
  SELECT query_id, q_emb, bucket FROM (
    SELECT q.query_id, q.q_emb, c.cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COSINE_SQL.format(a='q.q_emb', b='c.c_emb')}
                      DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN {final} c
  ) WHERE rn <= 4
),
cands AS (
  SELECT p.query_id, a.vec_id,
         {_COSINE_SQL.format(a='p.q_emb', b='a.embedding')} AS cosine
  FROM assign a JOIN probes p ON a.bucket = p.bucket
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM cands
) WHERE rn <= 5
ORDER BY query_id, rn"""


@REGISTRY.register("similarity_ivf_kmeans_topk", _kmeans_exact_oracle())
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids, value-hash verified end-to-end
    (r9 conversion, operators/similarity.py::ivf_kmeans_topk_exact;
    was rows-only while training used float GEMM means): md5-seeded
    init, two exact-decimal spherical-k-means rounds (cosine to the
    cluster SUM vector == cosine to the mean, so no division enters),
    then the shared exact IVF probe/score half. The float-GEMM
    trainer (kmeans_centroids) remains the 100 TB throughput path,
    recall-gated in tests/test_similarity.py."""
    return similarity.ivf_kmeans_topk_exact(
        _emb(spark, sf_dir, fanout=True), _QUERY_IDS, k=5, n_centroids=16, nprobe=4,
        n_iters=2,
    )


_IVF_EXACT_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS c_emb
  FROM embeddings ORDER BY vec_id LIMIT 32
),
assign AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT e.vec_id, e.embedding, c.cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_COSINE_SQL.format(a='e.embedding', b='c.c_emb')}
                      DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < 8
),
probes AS (
  SELECT query_id, q_emb, bucket FROM (
    SELECT q.query_id, q.q_emb, c.cid AS bucket,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COSINE_SQL.format(a='q.q_emb', b='c.c_emb')}
                      DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= 4
),
cands AS (
  SELECT p.query_id, a.vec_id,
         {_COSINE_SQL.format(a='p.q_emb', b='a.embedding')} AS cosine
  FROM assign a JOIN probes p ON a.bucket = p.bucket
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM cands
) WHERE rn <= 5
ORDER BY query_id, rn
"""


@REGISTRY.register("similarity_ivf_exact_topk", _IVF_EXACT_ORACLE)
def similarity_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ALGORITHM value-hash verified end-to-end (r8,
    operators/similarity.py::ivf_topk_exact): deterministic head
    codebook, exact-decimal nearest-centroid assignment, nprobe=4
    probing, in-bucket exact scoring — the DuckDB twin replays every
    step, so bucket membership, the candidate universe and the final
    ANN ranking (recall<1 vs brute force BY DESIGN — the same pruning
    the GEMM tiers apply) all hash-match. Complements the rows-only
    GEMM tiers (similarity_ivf_topk / _kmeans / _pq), whose recall
    gates remain in tests."""
    return similarity.ivf_topk_exact(
        _emb(spark, sf_dir, fanout=True), _QUERY_IDS, k=5, n_centroids=32, nprobe=4
    )


@REGISTRY.register("similarity_pq_topk")  # ANN: PQ codes prune, recall<1
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): per-subspace
    codebooks, ADC lookup-table scoring over 8-byte codes, exact
    rescore of the survivor set. Rows-only (approximate by
    construction); recall against the exact ranking is gated in
    tests/test_pq.py."""
    from movie_rankings_spark.operators.pq import pq_topk

    return pq_topk(
        _emb(spark, sf_dir), _QUERY_IDS, k=5, m_subspaces=8, n_codes=16
    )


# exact-decimal sub-vector dot / squared norm over already-sliced
# 8-element lists (the PQ exact tier's unit of work)
_SUBDOT_SQL = """
list_sum(list_transform(range(1, len({a}) + 1),
  i -> CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
            AS DECIMAL(28,12))))
"""

_PQ_EXACT_ORACLE = f"""
WITH heads AS (
  SELECT vec_id AS code, embedding FROM embeddings ORDER BY vec_id LIMIT 16
),
cb AS MATERIALIZED (
  SELECT j, code, embedding[j*8+1 : j*8+8] AS c_sub,
         {_SUBDOT_SQL.format(a='embedding[j*8+1 : j*8+8]',
                             b='embedding[j*8+1 : j*8+8]')} AS c_nsq
  FROM heads, range(0, 8) AS s(j)
),
corp AS (
  SELECT vec_id, j, embedding[j*8+1 : j*8+8] AS v_sub
  FROM embeddings, range(0, 8) AS s(j)
),
codes AS MATERIALIZED (
  SELECT vec_id, j, code FROM (
    SELECT corp.vec_id, corp.j, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY corp.vec_id, corp.j
             ORDER BY {_SUBDOT_SQL.format(a='corp.v_sub', b='cb.c_sub')}
                      + {_SUBDOT_SQL.format(a='corp.v_sub', b='cb.c_sub')}
                      - cb.c_nsq DESC, cb.code ASC) AS rn
    FROM corp JOIN cb ON corp.j = cb.j
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < 8
),
lut AS MATERIALIZED (
  SELECT q.query_id, cb.j, cb.code,
         {_SUBDOT_SQL.format(a='q.q_emb[cb.j*8+1 : cb.j*8+8]',
                             b='cb.c_sub')} AS pdot
  FROM q, cb
),
cands AS (
  SELECT query_id, vec_id FROM (
    SELECT l.query_id, c.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY l.query_id
             ORDER BY SUM(l.pdot) DESC, c.vec_id ASC) AS rn
    FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
    WHERE c.vec_id <> l.query_id
    GROUP BY l.query_id, c.vec_id
  ) WHERE rn <= 40
),
rescored AS (
  SELECT ca.query_id, ca.vec_id,
         {_COSINE_SQL.format(a='q.q_emb', b='e.embedding')} AS cosine
  FROM cands ca
  JOIN embeddings e ON ca.vec_id = e.vec_id
  JOIN q ON ca.query_id = q.query_id
)
SELECT query_id, vec_id, cosine, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM rescored
) WHERE rn <= 5
ORDER BY query_id, rn
"""


@REGISTRY.register("similarity_pq_exact_topk", _PQ_EXACT_ORACLE)
def similarity_pq_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ ALGORITHM value-hash verified end-to-end (r9,
    operators/pq.py::pq_topk_exact, the r8 ivf_topk_exact template):
    deterministic head-sample codebooks per subspace, exact-decimal
    L2 code assignment, exact-decimal ADC lookup sums pruning to a
    40-candidate buffer, exact-decimal cosine rescore — the DuckDB
    twin replays every step, so the codes, the candidate universe and
    the final ANN ranking (recall<1 vs brute force BY DESIGN — the
    same pruning the GEMM tier applies) all hash-match. Complements
    the rows-only float GEMM tier (similarity_pq_topk), whose recall
    gate remains in tests/test_pq.py."""
    from movie_rankings_spark.operators.pq import pq_topk_exact

    return pq_topk_exact(
        _emb(spark, sf_dir, fanout=True),
        _QUERY_IDS,
        k=5,
        m_subspaces=8,
        n_codes=16,
        candidate_factor=8,
    )


def _semdedup_exact_oracle(
    threshold: float = 0.45, n_centroids: int = 16, n_iters: int = 2
) -> str:
    """DuckDB twin of the exact SemDeDup tier (r9): the shared
    spherical-k-means training+assign chain, then a within-bucket
    self-join scored with the exact-decimal cosine."""
    return _kmeans_train_assign_cte(n_centroids, n_iters) + f""",
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_COSINE_SQL.format(a='a.embedding', b='b.embedding')} AS cosine
  FROM assign a JOIN assign b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {threshold}
ORDER BY vec_a, vec_b"""


@REGISTRY.register("dedup_semantic_clusters", _semdedup_exact_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-bucketed near-dup pairs, value-hash
    verified end-to-end (r9 conversion,
    operators/semdedup.py::semantic_dedup_pairs_exact; was rows-only
    while clustering used float GEMM k-means): exact spherical-k-means
    buckets (md5-seeded, 2 fixed rounds), exact argmax assignment,
    within-bucket exact-decimal cosine at the 0.45 threshold — the
    DuckDB twin replays training, bucketing and every scored pair.
    Recall remains bounded by cluster purity (the documented SemDeDup
    trade-off); the float-GEMM prefilter tier
    (semantic_dedup_pairs) stays the throughput path, recall-gated in
    tests/test_pq.py."""
    from movie_rankings_spark.operators.semdedup import (
        semantic_dedup_pairs_exact,
    )

    return semantic_dedup_pairs_exact(
        _emb(spark, sf_dir, fanout=True), threshold=0.45, n_clusters=16, n_iters=2
    ).orderBy("vec_a", "vec_b")


# --- sampling + vocabulary + characteristic terms ---------------------------

_SAMPLE_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) = '0'
ORDER BY doc_id
"""


@REGISTRY.register("sample_docs_deterministic", _SAMPLE_ORACLE)
def sample_docs_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket 1/16 sample (operators/textops.py::
    hash_sample) — reproducible across engines, retries, and
    partitionings, which RNG-based sampling is not."""
    return (
        textops.hash_sample(_docs(spark, sf_dir), bucket="0")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


_WEIGHTED_SAMPLE_ORACLE = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 6) AS BIGINT)
      < least(CAST(len(string_split(text, ' ')) AS BIGINT), 512) * 32768
ORDER BY doc_id
"""


@REGISTRY.register("sample_docs_weighted", _WEIGHTED_SAMPLE_ORACLE)
def sample_docs_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample (operators/textops.py::
    weighted_hash_sample): inclusion probability proportional to
    token count, capped at 1 — sampling by token mass rather than
    document count. Pure integer md5 arithmetic, so the same rows
    come back from any engine; zero-shuffle scan-side filter."""
    return textops.weighted_hash_sample(_docs(spark, sf_dir)).orderBy("doc_id")


_VOCAB_ORACLE = """
SELECT word, COUNT(*) AS n_occurrences
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT 50
"""


@REGISTRY.register("vocab_top_words", _VOCAB_ORACLE)
def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.vocab_top_words(_docs(spark, sf_dir), k=50)


_TOP_TERMS_ORACLE = """
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
dft AS (
  SELECT word, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM tokens) GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.word,
         CAST(tf.tf AS DOUBLE)
           * ((SELECT COUNT(*) + 1 FROM documents) / CAST(dft.df + 1 AS DOUBLE))
           AS tfidf
  FROM tf JOIN dft ON tf.word = dft.word
)
SELECT doc_id, word, tfidf, rk FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, word ASC
  ) AS rk FROM scored
) WHERE rk <= 3
ORDER BY doc_id, rk
"""


@REGISTRY.register("text_top_terms", _TOP_TERMS_ORACLE)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc characteristic terms (tf·ridf, linear idf — see
    operators/textops.py::doc_top_terms for why not ln)."""
    return textops.doc_top_terms(_docs(spark, sf_dir), k=3).orderBy("doc_id", "rk")


_SHUFFLE_ORACLE = """
SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
         AS position,
       doc_id,
       md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents
ORDER BY position
"""


@REGISTRY.register("shuffle_docs_deterministic", _SHUFFLE_ORACLE)
def shuffle_docs_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle (md5-keyed sort) — any
    engine recomputes the identical permutation."""
    return textops.shuffle_deterministic(_docs(spark, sf_dir)).orderBy("position")


_PACK_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
), state AS (
  SELECT lang, rn, n_tokens, 0 AS batch_id, n_tokens AS used
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.rn, t.n_tokens,
         CASE WHEN s.used + t.n_tokens > 256
              THEN s.batch_id + 1 ELSE s.batch_id END,
         CASE WHEN s.used + t.n_tokens > 256
              THEN t.n_tokens ELSE s.used + t.n_tokens END
  FROM state s JOIN toks t ON t.lang = s.lang AND t.rn = s.rn + 1
)
SELECT lang, CAST(batch_id AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens
FROM state GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("pack_docs_batches", _PACK_ORACLE)
def pack_docs_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing summary: per (lang, batch) doc count + token
    total. The greedy boundary recurrence has no single-statement
    window twin, but a DuckDB RECURSIVE CTE walks each lang's
    doc_id-ordered sequence carrying (used, batch_id) — one recursion
    level per doc, exactly the Python reference also asserted in
    tests/test_packing.py."""
    packed = textops.pack_documents(_docs(spark, sf_dir), max_tokens=256)
    return (
        packed.groupBy("lang", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("batch_tokens"),
        )
        .orderBy("lang", "batch_id")
    )


# --- multimodal: oracle-checkable JVM-side transforms -----------------------

# synthesize_media is deterministic (kind/meta derived from doc_id), so
# the frame-sampling and resize transforms have exact SQL twins even
# though the codec itself is stubbed.

_FRAMES_ORACLE = """
SELECT doc_id AS media_id,
       CAST(unnest(range(0, greatest(1, doc_id % 120 + 1))) * 1000.0 AS INTEGER)
         AS frame_ms
FROM documents
WHERE doc_id % 3 = 2
ORDER BY media_id, frame_ms
"""


@REGISTRY.register("multimodal_frame_sample", _FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling at 1 fps: one output row per sampled
    timestamp, via JVM sequence+explode (operators/multimodal.py) —
    no Python, no shuffle; payload carried for a downstream decoder
    (dropped here so the oracle compares the sampling logic)."""
    from movie_rankings_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return (
        multimodal.sample_frames(media, fps=1.0)
        .select("media_id", "frame_ms")
        .orderBy("media_id", "frame_ms")
    )


# The Spark side DECODES real PNG/JFIF binary headers (struct-parsed
# IHDR / SOF0 — operators/multimodal.py::parse_image_header); the
# oracle predicts every field from the id arithmetic the synthesizer
# encoded INTO those headers, so a parser misread = hash mismatch.
_RESIZE_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(doc_id % 640 + 1 AS INTEGER) AS width,
       CAST(doc_id % 480 + 1 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 3 END
                 ELSE CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 3 END
            END AS INTEGER) AS channels,
       CAST(ceil((doc_id % 640 + 1)
            * least(224.0 / (doc_id % 640 + 1),
                    224.0 / (doc_id % 480 + 1), 1.0)) AS INTEGER) AS r_width,
       CAST(ceil((doc_id % 480 + 1)
            * least(224.0 / (doc_id % 640 + 1),
                    224.0 / (doc_id % 480 + 1), 1.0)) AS INTEGER) AS r_height
FROM documents ORDER BY media_id
"""


@REGISTRY.register("multimodal_resize_meta", _RESIZE_ORACLE)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-224 computed from REAL decoded
    image headers: the synthesizer writes actual PNG / JFIF byte
    streams (valid signatures, IHDR/SOF0 frame headers, CRCs), the
    decoder struct-parses dimensions + channels back out of the
    binary (pure stdlib — no PIL; r4, was a byte-histogram stand-in),
    and the resize math runs codegen'd on the decoded columns. Only
    PIXEL decode remains environment-gated (decode_image)."""
    from movie_rankings_spark.operators import multimodal

    media = multimodal.synthesize_image_media(_docs(spark, sf_dir))
    dec = multimodal.decode_image_meta(media)
    scale = F.least(
        F.lit(224.0) / F.col("width"),
        F.lit(224.0) / F.col("height"),
        F.lit(1.0),
    )
    return dec.select(
        "media_id",
        "format",
        "width",
        "height",
        "channels",
        F.ceil(F.col("width") * scale).cast("int").alias("r_width"),
        F.ceil(F.col("height") * scale).cast("int").alias("r_height"),
    ).orderBy("media_id")


# --- training-data chunking + percentile quality gate -----------------------

_CHUNK_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       CAST(s // 24 AS INTEGER) AS chunk_idx,
       CAST(len(t[s + 1 : s + 32]) AS INTEGER) AS chunk_len,
       array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text
FROM toks, UNNEST(range(0, len(t), 24)) AS u(s)
ORDER BY doc_id, chunk_idx
"""


@REGISTRY.register("chunk_docs_sliding", _CHUNK_ORACLE)
def chunk_docs_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.chunk_documents(
        _docs(spark, sf_dir), chunk_size=32, stride=24
    ).orderBy("doc_id", "chunk_idx")


# Chunk-level exact dedup: boilerplate spans recurring ACROSS
# documents. Non-overlapping windows (stride == size) so a span is
# counted once per occurrence; the md5 fingerprint groupBy pre-reduces
# map-side, so the shuffle carries one row per distinct chunk per
# partition — at 100 TB this is how headers/footers/license blocks
# are found without any pairwise comparison.
_CHUNK_DEDUP_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id, array_to_string(t[s + 1 : s + 16], ' ') AS chunk_text
  FROM toks, UNNEST(range(0, len(t), 16)) AS u(s)
  WHERE len(t[s + 1 : s + 16]) = 16
)
SELECT md5(chunk_text) AS fingerprint,
       COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc
FROM chunks
GROUP BY fingerprint
HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY fingerprint
"""


@REGISTRY.register("dedup_chunks_exact", _CHUNK_DEDUP_ORACLE)
def dedup_chunks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate 16-token spans (boilerplate finder):
    non-overlapping chunker (textops.chunk_documents with
    stride == size), md5 span fingerprints, one partial-aggregated
    groupBy — no pairwise work anywhere. Spans shorter than the window
    (document tails) are excluded so every fingerprint covers the same
    token count."""
    chunks = textops.chunk_documents(
        _docs(spark, sf_dir), chunk_size=16, stride=16
    ).filter(F.col("chunk_len") == 16)
    return (
        chunks.select("doc_id", F.md5("chunk_text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


# Boilerplate REMOVAL (the cleaning stage after the finder above):
# strip every recurring 16-token span and reassemble each document
# from the survivors. The oracle mirrors the three-stage shape
# exactly — recurring-span set, anti-membership filter, ordered
# string_agg reassembly — so clean_text is byte-identical.
_BOILERPLATE_STRIP_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id, CAST(s / 16 AS INTEGER) AS chunk_idx,
         array_to_string(t[s + 1 : s + 16], ' ') AS chunk_text,
         len(t[s + 1 : s + 16]) AS chunk_len
  FROM toks, UNNEST(range(0, len(t), 16)) AS u(s)
),
recurring AS (
  SELECT md5(chunk_text) AS fp FROM chunks WHERE chunk_len = 16
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT * FROM chunks
  WHERE md5(chunk_text) NOT IN (SELECT fp FROM recurring)
),
totals AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
re AS (
  SELECT doc_id,
         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(re.clean_text, '') AS clean_text,
       CAST(COALESCE(re.n_kept, 0) AS INTEGER) AS n_chunks_kept,
       CAST(t.n_chunks - COALESCE(re.n_kept, 0) AS INTEGER)
         AS n_chunks_removed
FROM totals t LEFT JOIN re ON t.doc_id = re.doc_id
ORDER BY t.doc_id
"""


@REGISTRY.register("dedup_boilerplate_strip", _BOILERPLATE_STRIP_ORACLE)
def dedup_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: textops.strip_boilerplate —
    recurring 16-token spans (≥2 distinct docs) deleted, documents
    reassembled from surviving spans in order. Row count is conserved
    (fully-boilerplate docs keep an empty clean_text row)."""
    return textops.strip_boilerplate(
        _docs(spark, sf_dir), chunk_size=16, min_docs=2
    ).orderBy("doc_id")


_QUALITY_EXPR = f"""least(CAST(len({_WORDS}) AS DOUBLE) / 50.0, 1.0) * 0.5
         + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text)) * 0.3
         + least(CAST(len(list_filter({_WORDS}, w -> list_contains({_STOP_EN}, w)))
                      AS DOUBLE) / len({_WORDS}) * 5.0, 1.0) * 0.2"""

_QFILTER_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, source, {_QUALITY_EXPR} AS quality FROM documents
)
SELECT doc_id, lang, source, quality FROM scored
WHERE quality > (SELECT quantile_cont(quality, 0.75) FROM scored)
ORDER BY doc_id
"""


@REGISTRY.register("quality_filtered_docs", _QFILTER_ORACLE)
def quality_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_filtered(_docs(spark, sf_dir, fanout=True), pct=0.75).orderBy("doc_id")


_BIGRAM_ORACLE = f"""
SELECT ngram, COUNT(*) AS n_occurrences
FROM (
  SELECT unnest(list_transform(range(1, len({_WORDS})),
                i -> concat_ws(' ', {_WORDS}[i], {_WORDS}[i+1]))) AS ngram
  FROM documents
)
GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 50
"""


@REGISTRY.register("vocab_top_bigrams", _BIGRAM_ORACLE)
def vocab_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.vocab_top_ngrams(_docs(spark, sf_dir), n=2, k=50)


_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding AS emb,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
           / 127.0 AS scale
  FROM embeddings
), qz AS (
  SELECT vec_id, emb, scale,
         CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
              ELSE list_transform(
                     emb,
                     x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER))
         END AS q
  FROM s
)
SELECT vec_id, CAST(len(q) AS INTEGER) AS n_dims, scale,
       CAST(list_sum(q) AS BIGINT) AS sum_q,
       list_max(list_transform(
         list_zip(emb, q),
         p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)))
         AS max_abs_err
FROM qz ORDER BY vec_id
"""


@REGISTRY.register("embedding_quantize_int8", _QUANTIZE_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (operators/embeddings.py::quantize_int8) — pure higher-order-
    function array math in whole-stage codegen, map-only (no shuffle,
    no UDF). The oracle recomputes scale/codes/checksum/worst
    reconstruction error in DuckDB list arithmetic; the quantized
    array itself is exercised by tests (error bound ≤ scale/2)."""
    from movie_rankings_spark.operators.embeddings import quantize_int8

    return (
        quantize_int8(_emb(spark, sf_dir))
        .select("vec_id", "n_dims", "scale", "sum_q", "max_abs_err")
        .orderBy("vec_id")
    )


@REGISTRY.register("embedding_jl_projection")  # seeded Gaussian: no SQL twin
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss 64→16 random projection
    (operators/embeddings.py::jl_project), map-only Arrow GEMM.
    Rows-only: the seeded Gaussian matrix has no engine-neutral SQL
    twin; per-vector distortion audit columns ride along and the JL
    distance-preservation bound is pinned in
    tests/test_warehouse_ops.py. The projected vector itself is
    surfaced as a scalar digest (xxhash64 over its JSON form) rather
    than the raw array so the result stays canonicalizer-safe —
    registered query outputs must be flat scalar columns."""
    from movie_rankings_spark.operators.embeddings import jl_project

    return (
        jl_project(_emb(spark, sf_dir), out_dim=16)
        .select(
            "vec_id",
            "orig_norm_sq",
            "proj_norm_sq",
            F.xxhash64(F.to_json(F.struct("proj"))).alias("proj_digest"),
        )
        .orderBy("vec_id")
    )


_BPE_ORACLE = """
WITH freq AS (
  SELECT word, COUNT(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
),
pairs AS (
  SELECT substring(word, CAST(i AS INT), 2) AS pair, wc
  FROM freq, LATERAL unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 30
"""


@REGISTRY.register("bpe_pair_counts", _BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics (operators/tokenizer.py): top
    adjacent character pairs weighted by word frequency. The explode
    runs over the DISTINCT-word table (vocab-sized), never the token
    stream — the map-side-combine shape real BPE trainers use."""
    from movie_rankings_spark.operators.tokenizer import bpe_pair_counts as bpe

    return bpe(_docs(spark, sf_dir), k=30)


_LM_SCORE_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                               i -> concat_ws(' ', ws[i], ws[i+1]))) AS bigram
  FROM toks
),
cb AS (SELECT bigram, COUNT(*) AS cb FROM bi GROUP BY 1),
c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(cb) AS c1
       FROM cb GROUP BY 1),
v AS (SELECT COUNT(DISTINCT word) AS v
      FROM (SELECT unnest(ws) AS word FROM toks)),
probs AS (
  SELECT bigram, CAST(ln((cb + 1) / (c1 + v.v)) AS DECIMAL(18,9)) AS logp
  FROM cb JOIN c1 ON split_part(cb.bigram, ' ', 1) = c1.w1, v
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(p.logp) AS DOUBLE) / COUNT(*) AS avg_logprob
FROM bi b JOIN probs p USING (bigram)
GROUP BY b.doc_id ORDER BY b.doc_id
"""


@REGISTRY.register("text_lm_score", _LM_SCORE_ORACLE)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM, every doc scored by mean
    log-probability (operators/textops.py::bigram_lm_scores) — the
    perplexity-style fluency gate of a curation pipeline. Bigram
    stats and the score join shuffle linearly on the bigram string;
    vocabulary is a 1-row broadcast; DECIMAL(18,9)-rounded logs make
    the mean order-independent across engines."""
    return textops.bigram_lm_scores(_docs(spark, sf_dir)).orderBy("doc_id")


_HEAVY_HITTERS_ORACLE = """
WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
tot AS (SELECT COUNT(*) AS n FROM words)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM words, tot GROUP BY word, tot.n HAVING COUNT(*) > tot.n / 64
ORDER BY n_occurrences DESC, word ASC
"""


@REGISTRY.register("vocab_heavy_hitters", _HEAVY_HITTERS_ORACLE)
def vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (words above total/64 frequency) via
    candidates-then-exact-recount — approximate in where the work
    happens, exact in output, hence a full value-hash oracle."""
    return textops.heavy_hitter_words(_docs(spark, sf_dir), k=64)


_STRATIFIED_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 32, 1)
      < CASE WHEN lang = 'en' THEN '4' ELSE '8' END
ORDER BY doc_id
"""


# --- end-to-end curation pipeline (dedup → quality gate → chunk) ------------

_PIPELINE_ORACLE = rf"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
), deduped AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN reps USING (doc_id)
), scored AS (
  SELECT doc_id, lang, text, {_QUALITY_EXPR} AS quality FROM deduped
), kept AS (
  SELECT doc_id, lang, text FROM scored
  WHERE quality > (SELECT quantile_cont(quality, 0.5) FROM scored)
), toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM kept
), chunks AS (
  SELECT doc_id, lang, len(t[s + 1 : s + 32]) AS chunk_len
  FROM toks, UNNEST(range(0, len(t), 24)) AS u(s)
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_len) AS BIGINT) AS total_chunk_tokens
FROM chunks GROUP BY lang ORDER BY lang
"""


@REGISTRY.register("pipeline_curated_chunks", _PIPELINE_ORACLE)
def pipeline_curated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline, the composition a training-data
    job actually runs: exact dedup (first doc_id wins) → median
    quality gate over the DEDUPED corpus (1-row broadcast threshold)
    → sliding-window chunking → per-lang yield summary.

    Everything is one lazy plan: fingerprint-window dedup (one shuffle
    on the content hash), the percentile threshold joins back as a
    broadcast (no second scan), chunking is a codegen'd explode, and
    the final rollup is a partial agg on lang. The stage boundary
    chain is the point — no materialization between curation steps."""
    from movie_rankings_spark.functions.text import quality_score

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    deduped = dedup.exact_dedup(docs)
    scored = deduped.withColumn("quality", quality_score(F.col("text")))
    thr = scored.agg(F.percentile("quality", F.lit(0.5)).alias("_thr"))
    kept = (
        scored.join(F.broadcast(thr))
        .filter(F.col("quality") > F.col("_thr"))
        .select("doc_id", "lang", "text")
    )
    chunks = textops.chunk_documents(kept, chunk_size=32, stride=24)
    return (
        chunks.join(kept.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chunk_tokens"),
        )
        .orderBy("lang")
    )


@REGISTRY.register("sample_stratified_by_lang", _STRATIFIED_ORACLE)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.stratified_hash_sample(
        _docs(spark, sf_dir), rates_hex={"en": 4}, default_hex=8
    ).orderBy("doc_id")


# --- benchmark decontamination ----------------------------------------------

# blocklist = every doc with doc_id % 97 == 0 (stands in for an eval
# suite; tiny by construction, as real benchmark sets are)
_DECONTAM_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS sh
  FROM documents WHERE doc_id % 97 = 0
),
d AS (SELECT doc_id, unnest({_SHINGLES}) AS sh FROM documents)
SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM d JOIN b USING (sh)
GROUP BY d.doc_id ORDER BY d.doc_id
"""


@REGISTRY.register("decontaminate_report", _DECONTAM_ORACLE)
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination probe: documents sharing any
    distinct 3-word shingle with the benchmark blocklist, with hit
    counts. Blocklist shingles broadcast (operators/decontam.py), so
    the corpus side never shuffles — only the small hit set
    aggregates. The clean-corpus variant is a left-anti join against
    these doc_ids (exercised in tests/test_decontam.py)."""
    from movie_rankings_spark.operators.decontam import contamination_report

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_report(docs, bench, n=3).orderBy("doc_id")


# --- PII redaction ----------------------------------------------------------

# The synthetic corpus contains no PII, so the query plants one
# deterministic specimen of each pattern per row — proving the
# redaction path end-to-end rather than vacuously matching on
# untouched text.
_PII_ORACLE = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           concat(text, ' contact user', doc_id,
                  '@example.com or 555-123-4567'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
FROM documents ORDER BY doc_id
"""


@REGISTRY.register("text_pii_redaction", _PII_ORACLE)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction (functions/text.py::redact_pii) over text
    with planted PII: pure codegen regexp_replace, identical RE2-safe
    patterns on both engines."""
    from movie_rankings_spark.functions.text import redact_pii

    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 555-123-4567"),
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", redact_pii(planted).alias("redacted"))
        .orderBy("doc_id")
    )


# --- corpus mixing (token-budget rebalancing) -------------------------------

_MIX_BUDGET = 5_000

_MIX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({_WORDS}) AS INTEGER) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 31, 2) AS h2
  FROM documents
),
r AS (
  SELECT lang,
         CAST(least(256, greatest(1,
              floor(256.0 * {_MIX_BUDGET} / SUM(n_tokens)))) AS BIGINT) AS keep
  FROM t GROUP BY lang
)
SELECT doc_id, t.lang, n_tokens
FROM t JOIN r ON t.lang = r.lang
WHERE keep = 256 OR h2 < lpad(lower(to_hex(keep)), 2, '0')
ORDER BY doc_id
"""


@REGISTRY.register("mix_corpus_token_budget", _MIX_ORACLE)
def mix_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived corpus mixing (operators/textops.py::
    token_budget_mix): every language downsampled toward a 5k-token
    budget with md5-suffix membership — rates computed from the
    corpus itself, selection engine-portable and retry-stable."""
    return textops.token_budget_mix(_docs(spark, sf_dir), _MIX_BUDGET).orderBy(
        "doc_id"
    )


_CURATION_REPORT_ORACLE = rf"""
WITH RECURSIVE reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
), deduped AS (
  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN reps USING (doc_id)
), scored AS (
  SELECT doc_id, lang, text, {_QUALITY_EXPR} AS quality FROM deduped
), kept AS (
  SELECT doc_id, lang, text FROM scored
  WHERE quality > (SELECT quantile_cont(quality, 0.5) FROM scored)
), t AS (
  SELECT doc_id, lang, CAST(len({_WORDS}) AS INTEGER) AS n_tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 31, 2) AS h2
  FROM kept
), r AS (
  SELECT lang,
         CAST(least(256, greatest(1,
              floor(256.0 * {_MIX_BUDGET} / SUM(n_tokens)))) AS BIGINT) AS keep
  FROM t GROUP BY lang
), mixed AS (
  SELECT t.doc_id, t.lang, t.n_tokens
  FROM t JOIN r ON t.lang = r.lang
  WHERE keep = 256 OR h2 < lpad(lower(to_hex(keep)), 2, '0')
), toks AS (
  SELECT lang, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM mixed
), state AS (
  SELECT lang, doc_id, rn, n_tokens, 0 AS batch_id, n_tokens AS used
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.doc_id, t.rn, t.n_tokens,
         CASE WHEN s.used + t.n_tokens > 256
              THEN s.batch_id + 1 ELSE s.batch_id END,
         CASE WHEN s.used + t.n_tokens > 256
              THEN t.n_tokens ELSE s.used + t.n_tokens END
  FROM state s JOIN toks t ON t.lang = s.lang AND t.rn = s.rn + 1
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(batch_id) + 1 AS BIGINT) AS n_batches,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM state GROUP BY lang ORDER BY lang
"""


@REGISTRY.register("pipeline_curation_report", _CURATION_REPORT_ORACLE)
def pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 100 TB curation user journey as ONE registered plan
    (r10, VERDICT r9 item 7): exact dedup (first doc_id wins, one
    fingerprint-keyed shuffle) → median quality gate over the deduped
    corpus (1-row broadcast threshold) → token-budget language mixing
    (data-derived keep rates, md5-suffix membership — rates broadcast)
    → greedy sequence packing per language (applyInPandas, the one
    inherently-sequential stage, parallel across groups) → per-lang
    yield report (docs kept, batches formed, tokens packed).

    Every stage is an existing certified operator
    (operators/dedup.py::exact_dedup, functions/text.py::quality_score,
    operators/textops.py::token_budget_mix / pack_documents) composed
    lazily — the quality-gated frame is localCheckpointed once because
    three downstream branches (mix rates, mix membership, packing)
    read it, the memory-note-10 shape. The oracle chains the four
    stages' SQL twins into one RECURSIVE CTE pipeline, so a drift in
    ANY stage — dedup fingerprint, quality median, mix rate floor,
    packing boundary — hash-mismatches the composed report."""
    from movie_rankings_spark.functions.text import quality_score
    from movie_rankings_spark.operators import dedup as dedup_ops

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    deduped = dedup_ops.exact_dedup(docs)
    scored = deduped.withColumn("quality", quality_score(F.col("text")))
    thr = scored.agg(F.percentile("quality", F.lit(0.5)).alias("_thr"))
    kept = (
        scored.join(F.broadcast(thr))
        .filter(F.col("quality") > F.col("_thr"))
        .select("doc_id", "lang", "text")
        .checkpoint_tracked(eager=False)
    )
    mixed = textops.token_budget_mix(kept, _MIX_BUDGET)
    packed = textops.pack_documents(mixed, max_tokens=256)
    return (
        packed.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            (F.max("batch_id") + F.lit(1)).cast("long").alias("n_batches"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang")
    )



# --- repetition quality rule (Gopher top-bigram coverage) -------------------

_BIGRAMS_SQL = (
    f"list_transform(range(1, len({_WORDS})), "
    f"i -> concat_ws(' ', {_WORDS}[i], {_WORDS}[i+1]))"
)

_REPETITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, CAST(len({_WORDS}) AS INTEGER) AS n_words,
         {_BIGRAMS_SQL} AS bgs
  FROM documents
),
top AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_bigram_count FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bgs) AS bg FROM base)
    GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
       COALESCE(t.max_bigram_count, 0) AS max_bigram_count,
       COALESCE(2.0 * t.max_bigram_count / b.n_words, 0.0) AS top_bigram_ratio,
       COALESCE(2.0 * t.max_bigram_count / b.n_words, 0.0) > 0.18 AS flagged
FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
ORDER BY b.doc_id
"""


@REGISTRY.register("quality_repetition_bigram", _REPETITION_ORACLE)
def quality_repetition_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: tokens covered by the most
    frequent bigram per doc (operators/textops.py::
    repetition_bigram_stats), flagged above 0.18."""
    return textops.repetition_bigram_stats(_docs(spark, sf_dir)).orderBy("doc_id")


# --- sparse TF-IDF cosine top-k (inverted-index similarity) -----------------

_TFIDF_TOPK_ORACLE = """
WITH tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf * FLOOR(CAST(nd.n_docs * 1000 AS DOUBLE)
                            / CAST(dfreq.df AS DOUBLE)) AS BIGINT) AS weight
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
), norms AS (
  SELECT doc_id,
         CAST(SUM(CAST(CAST(weight AS DECIMAL(19,0)) * weight
                       AS DECIMAL(38,0))) AS DOUBLE) AS norm_sq
  FROM w GROUP BY doc_id
), wf AS (
  SELECT w.doc_id, d.lang, w.term, w.weight, n.norm_sq
  FROM w JOIN documents d USING (doc_id) JOIN norms n USING (doc_id)
), dots AS (
  SELECT q.doc_id AS q_doc, c.doc_id AS neighbor_doc,
         CAST(SUM(CAST(CAST(q.weight AS DECIMAL(19,0)) * c.weight
                       AS DECIMAL(38,0))) AS DOUBLE) AS dot,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
         ANY_VALUE(q.norm_sq) AS qn, ANY_VALUE(c.norm_sq) AS cn
  FROM wf q JOIN wf c
    ON q.term = c.term AND q.lang = c.lang AND q.doc_id <> c.doc_id
  WHERE q.doc_id % 100 = 0
  GROUP BY 1, 2
), ranked AS (
  SELECT q_doc, neighbor_doc, n_shared_terms,
         dot / (sqrt(qn) * sqrt(cn)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q_doc
                            ORDER BY dot / (sqrt(qn) * sqrt(cn)) DESC,
                                     neighbor_doc) AS rank
  FROM dots
)
SELECT q_doc, CAST(rank AS INTEGER) AS rank, neighbor_doc, n_shared_terms,
       cosine
FROM ranked WHERE rank <= 5
ORDER BY q_doc, rank
"""


@REGISTRY.register("similarity_tfidf_topk", _TFIDF_TOPK_ORACLE)
def similarity_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical top-5: for every 100th document, the most
    similar same-lang documents by integer-TF-IDF cosine, computed on
    the inverted index — the sparse dot product IS a term equi-join,
    no vectors materialized (operators/tfidf.py). On a real corpus
    the join would also prune df > cap stop-terms; this table's
    ~31-word vocabulary makes that degenerate, so the lang block
    bounds candidates instead (see module docstring)."""
    from pyspark.sql import functions as F  # noqa: F811

    from movie_rankings_spark.operators.tfidf import tfidf_topk

    return tfidf_topk(
        _docs(spark, sf_dir, fanout=True), F.col("doc_id") % 100 == 0, "lang", k=5
    ).orderBy("q_doc", "rank")


# --- triangle counting on the co-purchase graph -----------------------------

_TRIANGLES_ORACLE = """
WITH baskets AS (
  SELECT list_distinct(list(l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
), ok AS (
  SELECT parts FROM baskets WHERE len(parts) BETWEEN 2 AND 30
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM ok, LATERAL unnest(parts) AS a(p), LATERAL unnest(parts) AS b(p)
  WHERE a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(CAST(SUM(d * (d - 1)) AS BIGINT) // 2 AS BIGINT) AS n_wedges
  FROM deg
), ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
SELECT agg.n_nodes, ec.n_edges, agg.n_wedges, tri.n_triangles,
       CAST(tri.n_triangles * 3 AS DOUBLE) / CAST(agg.n_wedges AS DOUBLE)
         AS global_clustering
FROM agg CROSS JOIN ec CROSS JOIN tri
"""


@REGISTRY.register("triangles_copurchase", _TRIANGLES_ORACLE)
def triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the item co-purchase graph: nodes, edges,
    wedges, triangles, global clustering coefficient. Degree-ordered
    orientation bounds the wedge intermediate at O(m^1.5) regardless
    of hub skew (operators/triangles.py — 'curse of the last
    reducer'); the oracle counts the same triangles with the
    independent naive a<b<c join, so the two formulations must agree
    exactly."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import copurchase_edges
    from movie_rankings_spark.operators.triangles import (
        triangle_stats,
        undirected_edges,
    )

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return triangle_stats(undirected_edges(edges))


# --- embedding covariance + PCA ---------------------------------------------

# NOTE the VARCHAR-mediated double casts below: DuckDB's int128→double
# is upper·2⁶⁴ + lower — TWO roundings, off-ulp for >2⁵³ sums — while
# its string→double parse (and the JVM's BigInteger.doubleValue) are
# correctly rounded, so the text route is how the oracle reproduces
# Spark's cast bit-for-bit.
_COV_ORACLE = """
WITH flat AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1073741824.0)
              AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS t(i)
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(CAST(a.q AS DECIMAL(19,0)) * b.q AS DECIMAL(38,0)) AS xy
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
),
cells AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(xy) AS VARCHAR) AS DOUBLE) AS sxy
  FROM pairs GROUP BY i, j
),
dims AS (
  SELECT i, CAST(CAST(SUM(CAST(q AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sx
  FROM flat GROUP BY i
)
SELECT c.i, c.j, c.n,
       (c.sxy / CAST(c.n AS DOUBLE)
         - (di.sx / CAST(c.n AS DOUBLE)) * (dj.sx / CAST(c.n AS DOUBLE)))
         / 1152921504606846976.0 AS cov
FROM cells c JOIN dims di ON di.i = c.i JOIN dims dj ON dj.i = c.j
ORDER BY c.i, c.j
"""


@REGISTRY.register("embedding_covariance", _COV_ORACLE)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding corpus — the d×d
    second-moment estimate behind whitening/PCA/drift checks, computed
    without materializing any n×d matrix: one (i,j)-keyed shuffle of
    exact DECIMAL(28,12) product cells (operators/pca.py, exact path;
    the numpy per-batch Gram partial is the 100 TB hot path, pinned to
    this one within 1e-9 by tests/test_pca.py)."""
    from movie_rankings_spark.operators.pca import covariance_cells_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_cells_exact(emb).orderBy("i", "j")


@REGISTRY.register("embedding_pca_project")  # driver-side eigh: no SQL twin
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus projected onto its top-4 principal axes: GEMM-partial
    covariance → driver eigh of the broadcast-scale d×d (the justified
    tiny collect) → one Arrow matmul per partition back over the
    corpus. Rows-only (LAPACK eigenvectors are BLAS-specific);
    variance ordering, orthonormality, sign determinism, and
    reconstruction-vs-sklearn-free reference are pinned in
    tests/test_pca.py."""
    from movie_rankings_spark.operators.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, k=4).orderBy("vec_id")


def _pca_power_oracle() -> str:
    from movie_rankings_spark.operators.pca import pca_power_oracle_sql

    return pca_power_oracle_sql(k=2, iters=8, squarings=6)


@REGISTRY.register("embedding_pca_exact_project", _pca_power_oracle())
def embedding_pca_exact_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus projected onto its top-2 principal axes, value-hash
    verified end-to-end (r10 conversion twin for the rows-only
    embedding_pca_project): the exact power-iteration tier
    (operators/pca.py::pca_power_exact) quantizes the whole algorithm
    onto integer grids — 2³⁰-grid scatter matrix via one (i,j)-keyed
    exact-decimal shuffle, six spectral-gap squarings + eight matvec
    rounds + Hotelling deflation driver-side on the d-bounded cell
    table (Python ints == the oracle's HUGEINT), then one broadcast
    projection join back over the persisted posexploded corpus — so
    the projections unroll into a DuckDB twin. Component fidelity vs
    LAPACK (|cos| = 1.0 against eigh's top-2 on this corpus despite
    λ₂/λ₁ ≈ 0.99) is pinned in tests/test_pca.py; the float eigh path
    (embedding_pca_project) remains the throughput tier."""
    from movie_rankings_spark.operators.pca import pca_power_exact

    emb = load_table(spark, sf_dir, "embeddings", fanout=True)
    return pca_power_exact(emb, k=2, iters=8, squarings=6).orderBy("vec_id")


_CLASSIFIER_ORACLE = """
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
)
SELECT doc_id,
       CAST(SUM(weight) AS BIGINT) AS logit_x100,
       CAST(SUM(weight) AS DOUBLE) / 100.0 AS score,
       SUM(weight) > 0 AS keep
FROM feat JOIN wt USING (bucket)
GROUP BY doc_id ORDER BY doc_id
"""


@REGISTRY.register("classifier_doc_scores", _CLASSIFIER_ORACLE)
def classifier_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-model quality gate (fastText-style hashed linear
    classifier): md5-bucketed BoW features, broadcast weight table,
    exact fixed-point logit sum (operators/classifier.py). The model
    constructor is swappable for a trained-weights parquet; the
    deterministic md5 weights make the score oracle-exact."""
    from movie_rankings_spark.operators.classifier import hashed_bow_scores

    return hashed_bow_scores(_docs(spark, sf_dir, fanout=True)).orderBy("doc_id")


def _bpe_train_oracle() -> str:
    from movie_rankings_spark.operators.tokenizer import bpe_train_oracle_sql

    return bpe_train_oracle_sql(12)


@REGISTRY.register("bpe_train_merges", _bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-rule training, 12 rounds (operators/tokenizer.py
    ::bpe_train): corpus touched once (word-frequency combine), then
    vocab-sized pair aggregates + codegen greedy folds per round.
    Oracle-exact since r8: the loop is deterministic (integer counts,
    lexicographic ties, greedy left-to-right folds), so the DuckDB
    twin unrolls all 12 rounds — the greedy fold replayed as a literal
    replace over double-space-joined symbol strings
    (tokenizer.py::bpe_train_oracle_sql). Exact equality against a
    single-node Python reference trainer additionally pinned in
    tests/test_tokenizer_train.py."""
    from movie_rankings_spark.operators.tokenizer import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=12).orderBy("step")


_LOGREG_STOPS = ("the", "and", "of", "to", "a", "in", "is", "it")

_LOGREG_FEAT_SQL = f"""
SELECT CAST(lang = 'en' AS INT) AS y,
       CAST(len(string_split(text, ' ')) AS BIGINT) * 10000 AS x0,
       (1000000 * (length(text)
          - length(regexp_replace(text, '[.,!?;:]', '', 'g'))))
         // GREATEST(length(text), 1) AS x1,
       (1000000 * len(list_filter(string_split(text, ' '),
          w -> list_contains({list(_LOGREG_STOPS)}, w))))
         // GREATEST(len(string_split(text, ' ')), 1) AS x2
FROM documents
"""


def _logreg_fp_oracle() -> str:
    from movie_rankings_spark.operators.mlgd import logreg_fp_oracle_sql

    return logreg_fp_oracle_sql(_LOGREG_FEAT_SQL, n_features=3, iters=10)


@REGISTRY.register("logreg_train_quality", _logreg_fp_oracle())
def logreg_train_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression language gate in-engine (predict
    lang == 'en' from length / punctuation / stopword-rate features),
    value-hash verified end-to-end (r9 conversion, closing the last
    training-surface rows-only row): the FIXED-POINT trainer
    (operators/mlgd.py::logreg_train_fixedpoint) quantizes features,
    hard-sigmoid activations, gradients and weight updates onto exact
    integer grids — 10 full-batch GD steps, each one map-side-combined
    aggregate over the persisted integer feature cache — so the whole
    training trajectory (per-iteration error mass + weights) unrolls
    into a DuckDB twin. The float true-sigmoid loop (logreg_train)
    remains the throughput path, equality-gated against a single-node
    numpy reference in tests/test_mlgd.py."""
    from movie_rankings_spark.operators.mlgd import logreg_train_fixedpoint

    docs = _docs(spark, sf_dir)
    stops = ", ".join(f"'{s}'" for s in _LOGREG_STOPS)
    feats = docs.select(
        (F.col("lang") == "en").cast("long").alias("is_en"),
        (F.size(F.split(F.col("text"), " ")).cast("long") * 10000).alias(
            "x_len"
        ),
        F.expr(
            "(1000000L * (length(text)"
            " - length(regexp_replace(text, '[.,!?;:]', ''))))"
            " div greatest(length(text), 1)"
        ).alias("x_punct"),
        F.expr(
            "(1000000L * size(filter(split(text, ' '),"
            f" w -> array_contains(array({stops}), w))))"
            " div greatest(size(split(text, ' ')), 1)"
        ).alias("x_stop"),
    )
    return logreg_train_fixedpoint(
        feats, "is_en", ["x_len", "x_punct", "x_stop"], iters=10
    ).orderBy("iter")


# Exact oracle reuse: bloom pruning has no false negatives and the
# exact verify join removes every false positive, so the bloom-gated
# report equals the broadcast-hash-set report row-for-row.
@REGISTRY.register("decontaminate_bloom_gate", _DECONTAM_ORACLE)
def decontaminate_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a bloom-sketch probe (operators/decontam
    .py::contamination_report_bloom): 20× smaller broadcast than the
    exact shingle set, map-side codegen bit-test prune,
    candidates-only verify join. Output identical to
    decontaminate_report."""
    from movie_rankings_spark.operators.decontam import (
        contamination_report_bloom,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_report_bloom(docs, bench, n=3).orderBy("doc_id")


_CMS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
cells AS (
  SELECT r, CAST('0x' || substr(md5(word || ':' || r), 1, 8) AS BIGINT)
            % 512 AS bucket, COUNT(*) AS n
  FROM toks, LATERAL unnest(range(0, 4)) AS t(r)
  GROUP BY 1, 2
),
truth AS (
  SELECT word, COUNT(*) AS true_n FROM toks GROUP BY 1 HAVING COUNT(*) >= 200
),
est AS (
  SELECT t.word, MIN(c.n) AS cms_est
  FROM truth t, LATERAL unnest(range(0, 4)) AS s(r)
  JOIN cells c
    ON c.r = s.r
   AND c.bucket = CAST('0x' || substr(md5(t.word || ':' || s.r), 1, 8)
                       AS BIGINT) % 512
  GROUP BY t.word
)
SELECT t.word, CAST(t.true_n AS BIGINT) AS true_n,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(e.cms_est - t.true_n AS BIGINT) AS overestimate
FROM truth t JOIN est e USING (word) ORDER BY word
"""


@REGISTRY.register("cms_word_frequency", _CMS_ORACLE)
def cms_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed with the
    ≥200-count words (operators/cms.py): O(d·w) mergeable counter
    grid, min-over-rows estimates. md5 hashing makes every cell and
    estimate DuckDB-reproducible, so even the sketch is value-hash
    checked."""
    from movie_rankings_spark.operators.cms import cms_word_frequency_report

    return cms_word_frequency_report(
        _docs(spark, sf_dir), depth=4, width=512, min_count=200
    ).orderBy("word")


_CMS_JOINSIZE_ORACLE = """
WITH keys AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
),
counts AS (SELECT k, COUNT(*) AS n FROM keys GROUP BY 1),
cells AS (
  SELECT r, CAST('0x' || substr(md5(k || ':' || r), 1, 8) AS BIGINT)
            % 512 AS bucket, SUM(n) AS n
  FROM counts, LATERAL unnest(range(0, 4)) AS t(r)
  GROUP BY 1, 2
),
est AS (
  SELECT CAST(MIN(dot) AS BIGINT) AS cms_est
  FROM (SELECT r, SUM(n * n) AS dot FROM cells GROUP BY r)
),
exact AS (
  SELECT CAST(SUM(n * n) AS BIGINT) AS exact_join_size FROM counts
)
SELECT exact_join_size, cms_est,
       CAST(cms_est - exact_join_size AS BIGINT) AS overestimate
FROM exact CROSS JOIN est
"""


@REGISTRY.register("join_size_cms_events", _CMS_JOINSIZE_ORACLE)
def join_size_cms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based self-join cardinality estimate for events⋈events
    ON user_id (operators/cms.py::cms_join_size_report): the CMS
    inner product bounds Σ n_u² — the shuffle-blow-up number a planner
    wants BEFORE running a join at 100 TB — from two O(d·w) counter
    grids. md5 bucketing makes the estimate itself engine-portable,
    so exact size, estimate, and overestimate are all value-hash
    checked."""
    from movie_rankings_spark.operators.cms import cms_join_size_report

    e = load_table(spark, sf_dir, "events")
    return cms_join_size_report(e, e, "user_id", depth=4, width=512)


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled greedy-MMR DuckDB twin (r4, VERDICT item 3): with the
    exact-decimal pair cosines (order-independent sums), every input
    to the greedy objective is a cross-engine-identical double, so k
    fixed selection steps unroll into chained CTEs — each step scores
    the remaining candidates (λ·rel − (1−λ)·max sim to chosen, the
    same expression shape and the PYTHON-repr literals Spark bakes
    in) and picks by (obj DESC, cosine DESC, vec_id ASC)."""
    lam_lit = repr(lam)
    om_lit = repr(1.0 - lam)
    head = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < 8
),
allp AS (
  SELECT q.query_id, e.vec_id, e.embedding,
         {_COSINE_SQL.format(a="q.q_emb", b="e.embedding")} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
pool AS (
  SELECT query_id, vec_id, embedding, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS rn FROM allp
  ) WHERE rn <= {pool}
),
ps AS (
  SELECT a.query_id, a.vec_id AS a_vec, b.vec_id AS b_vec,
         {_COSINE_SQL.format(a="a.embedding", b="b.embedding")} AS sim
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
s1 AS (
  SELECT query_id, vec_id, cosine,
         CAST('{lam_lit}' AS DOUBLE) * cosine
         - CAST('{om_lit}' AS DOUBLE) * CAST(0.0 AS DOUBLE) AS obj
  FROM pool
),
ch1 AS (
  SELECT query_id, vec_id, 1 AS mmr_rank, cosine, obj AS mmr_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY obj DESC, cosine DESC, vec_id ASC
    ) AS rn FROM s1
  ) WHERE rn = 1
)"""
    parts = [head]
    for j in range(2, k + 1):
        parts.append(f""",
s{j} AS (
  SELECT c.query_id, c.vec_id, c.cosine,
         CAST('{lam_lit}' AS DOUBLE) * c.cosine
         - CAST('{om_lit}' AS DOUBLE) * MAX(ps.sim) AS obj
  FROM pool c
  JOIN ps ON ps.query_id = c.query_id AND ps.a_vec = c.vec_id
  JOIN ch{j - 1} ch ON ch.query_id = ps.query_id AND ch.vec_id = ps.b_vec
  WHERE c.vec_id NOT IN (
    SELECT x.vec_id FROM ch{j - 1} x WHERE x.query_id = c.query_id
  )
  GROUP BY c.query_id, c.vec_id, c.cosine
),
ch{j} AS (
  SELECT * FROM ch{j - 1}
  UNION ALL
  SELECT query_id, vec_id, {j} AS mmr_rank, cosine, obj AS mmr_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY obj DESC, cosine DESC, vec_id ASC
    ) AS rn FROM s{j}
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT query_id, vec_id, mmr_rank, cosine, mmr_score FROM ch{k}
ORDER BY query_id, mmr_rank""")
    return "".join(parts)


@REGISTRY.register("similarity_mmr_topk", _mmr_oracle())
def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: exact top-20 relevance pool per
    query, then per-group greedy MMR selection of 5 (λ=0.7) in a
    bounded applyInPandas (operators/similarity.py::mmr_topk).
    Oracle-backed since r4 via exact_pairs=True: pair similarities
    use the same order-independent exact-decimal cosine as the pool,
    so the unrolled DuckDB greedy (_mmr_oracle) value-hash matches
    the full selection; equality against the numpy throughput form
    and the diversity-beats-redundancy property live in
    tests/test_mmr.py."""
    return similarity.mmr_topk(
        _emb(spark, sf_dir, fanout=True), _QUERY_IDS, k=5, pool=20, lam=0.7,
        exact_pairs=True,
    )


_DRIFT_ORACLE = """
WITH toks AS (
  SELECT CASE WHEN b < 13 THEN NULL WHEN b < 26 THEN 'val'
              ELSE 'train' END AS side,
         unnest(string_split(text, ' ')) AS word
  FROM (SELECT text,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 31, 2)
                    AS INT) AS b
        FROM documents)
),
counts AS (
  SELECT word,
         SUM(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN side = 'val' THEN 1 ELSE 0 END) AS cv
  FROM toks WHERE side IS NOT NULL GROUP BY word
),
tot AS (SELECT SUM(ct) AS nt, SUM(cv) AS nv, COUNT(*) AS v FROM counts),
terms AS (
  SELECT nt, nv, v,
         CAST((p * CAST(CAST(ln(p / m) AS DECIMAL(18,9)) AS DOUBLE) * 0.5
             + q * CAST(CAST(ln(q / m) AS DECIMAL(18,9)) AS DOUBLE) * 0.5)
              AS DECIMAL(28,15)) AS c
  FROM (
    SELECT nt, nv, v,
           CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE) AS p,
           CAST(cv + 1 AS DOUBLE) / CAST(nv + v AS DOUBLE) AS q,
           (CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)
            + CAST(cv + 1 AS DOUBLE) / CAST(nv + v AS DOUBLE)) / 2.0 AS m
    FROM counts, tot
  )
)
SELECT CAST(MIN(nt) AS BIGINT) AS n_train_tokens,
       CAST(MIN(nv) AS BIGINT) AS n_val_tokens,
       CAST(MIN(v) AS BIGINT) AS vocab_size,
       CAST(SUM(c) AS DOUBLE) AS js_divergence
FROM terms
"""


@REGISTRY.register("drift_train_val_js", _DRIFT_ORACLE)
def drift_train_val_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-val token-distribution drift (operators/drift.py):
    one conditional-aggregate corpus reduction, 1-row broadcast
    totals, DECIMAL-rounded log terms so the smoothed JS divergence
    is order-independent and value-hash exact."""
    from movie_rankings_spark.operators.drift import js_token_drift

    return js_token_drift(_docs(spark, sf_dir))


_KPG_ORACLE = """
SELECT lang, doc_id, rn FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rn
  FROM documents
) WHERE rn <= 3 ORDER BY lang, rn
"""


@REGISTRY.register("sample_k_per_lang", _KPG_ORACLE)
def sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-k-per-group sample (vs the RATE-based
    stratified sampler): md5-ordered row_number per lang, keep 3.
    The md5 order is a seeded uniform shuffle, so this is reservoir
    sampling's output computed deterministically — stable across
    retries, partitionings, and engines. One shuffle on the group
    key; the window is per-group, never global."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .orderBy("lang", "rn")
    )


# dedup_cluster_reps under a second registered name: the driver
# contract lists every registered query, so the name stays.
REGISTRY.register("dedup_cluster_reps_star", _CLUSTER_ORACLE)(dedup_cluster_reps)


_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS true_label
  FROM embeddings WHERE vec_id % 97 = 0
),
pairs AS (
  SELECT q.query_id, q.true_label, e.vec_id, e.label,
         {_COSINE_SQL.format(a='q.q_emb', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id % 97 <> 0
),
nn AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 5
),
votes AS (
  SELECT query_id, true_label, label, COUNT(*) AS n_votes
  FROM nn GROUP BY 1, 2, 3
)
SELECT query_id, true_label, label AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY n_votes DESC, label ASC) AS r
  FROM votes
) WHERE r = 1 ORDER BY query_id
"""


@REGISTRY.register("knn_label_propagation", _KNN_ORACLE)
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision via exact kNN: the vec_id%97 holdout takes the
    majority label of its 5 nearest labeled neighbors
    (operators/similarity.py::knn_label_propagation). Deterministic
    vote tie-break ⇒ fully oracle-exact predictions."""
    return similarity.knn_label_propagation(
        _emb(spark, sf_dir), F.col("vec_id") % 97 == 0, k=5
    ).orderBy("query_id")


@REGISTRY.register("knn_label_propagation_ivf")  # ANN neighbors: rows-only
def knn_label_propagation_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB scale path for knn_label_propagation: neighbor
    search routed through the IVF probe (operators/similarity.py::
    knn_label_propagation_ivf) instead of the exact holdout×corpus
    GEMM — scored pairs shrink to ~nprobe/n_centroids of the corpus
    and every stage is a bucket equi-join. Rows-only (ANN recall < 1
    by construction); tests/test_classifier.py gates prediction
    agreement vs the exact variant (100 % on planted clusters, ≥ 50 %
    on the sf0.001 table, whose isotropic embeddings are the
    worst case for bucket pruning)."""
    return similarity.knn_label_propagation_ivf(
        _emb(spark, sf_dir),
        F.col("vec_id") % 97 == 0,
        k=5,
        nprobe=8,
    ).orderBy("query_id")


_AUC_ORACLE = """
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
nb AS (
  SELECT a.logit AS s, a.pos AS p, a.neg AS n,
         COALESCE(SUM(b.neg), 0) AS neg_below
  FROM vc a LEFT JOIN vc b ON b.logit < a.logit
  GROUP BY 1, 2, 3
)
SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
       CAST(SUM(n) AS BIGINT) AS n_neg,
       CAST(SUM(CAST(p AS DECIMAL(18,0))
                * CAST(neg_below * 2 + n AS DECIMAL(18,0))) AS DOUBLE)
         / (2.0 * CAST(SUM(p) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)) AS auc
FROM nb
"""


@REGISTRY.register("classifier_auc_eval", _AUC_ORACLE)
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the hashed-BoW classifier against the lang
    label (operators/classifier.py::classifier_auc): distinct-logit
    histogram (bounded by the integer logit range), theta self-join
    for negatives-below, decimal pair sums. Closes the in-engine
    train → score → evaluate loop, fully value-hash checked."""
    from movie_rankings_spark.operators.classifier import classifier_auc

    return classifier_auc(_docs(spark, sf_dir), F.col("lang") == "en")


_QFILTER_GROUP_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang, source,
         least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.5
           + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         AS DOUBLE) / length(text)) * 0.3
           + least(CAST(len(list_filter(string_split(text, ' '),
                    w -> list_contains(['the','a','of','and','to','in','is',
                                        'it','that','for'], w)))
                        AS DOUBLE) / len(string_split(text, ' ')) * 5.0, 1.0)
             * 0.2 AS quality
  FROM documents
),
thr AS (
  SELECT lang, quantile_cont(quality, 0.75) AS t FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.source, s.quality
FROM scored s JOIN thr USING (lang)
WHERE s.quality > thr.t ORDER BY s.doc_id
"""


@REGISTRY.register("quality_filtered_per_lang", _QFILTER_GROUP_ORACLE)
def quality_filtered_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile quality gate (operators/textops.py::
    quality_filtered_per_group): each lang keeps its own top quartile
    so one language can't crowd out the mix; |groups|-row threshold
    table broadcast back, fact never sorts."""
    return textops.quality_filtered_per_group(
        _docs(spark, sf_dir, fanout=True), "lang", 0.75
    ).orderBy("doc_id")


_RETRIEVAL_EVAL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qf, embedding[1:32] AS qp
  FROM embeddings WHERE vec_id < 8
),
ep AS (SELECT vec_id, embedding[1:32] AS emb FROM embeddings),
full_pairs AS (
  SELECT q.query_id, e.vec_id,
         {_COSINE_SQL.format(a='q.qf', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM full_pairs) WHERE rn <= 5
),
pref_pairs AS (
  SELECT q.query_id, e.vec_id,
         {_COSINE_SQL.format(a='q.qp', b='e.emb')} AS cosine
  FROM ep e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
result AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM pref_pairs) WHERE rn <= 5
),
hits AS (
  SELECT r.query_id, r.rn
  FROM result r JOIN truth t
    ON r.query_id = t.query_id AND r.vec_id = t.vec_id
),
per AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant_found,
         1.0 / CAST(MIN(rn) AS DOUBLE) AS mrr
  FROM hits GROUP BY 1
)
SELECT d.query_id,
       CAST(COALESCE(p.n_relevant_found, 0) AS BIGINT) AS n_relevant_found,
       CAST(COALESCE(p.n_relevant_found, 0) AS DOUBLE) / 5.0 AS recall_at_k,
       COALESCE(p.mrr, 0.0) AS mrr
FROM (SELECT DISTINCT query_id FROM truth) d LEFT JOIN per p USING (query_id)
ORDER BY d.query_id
"""


@REGISTRY.register("retrieval_eval_prefix", _RETRIEVAL_EVAL_ORACLE)
def retrieval_eval_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous retrieval auditing: per-query recall@5 and MRR of a
    cheaper retrieval tier against the exact brute-force top-5
    (operators/similarity.py::retrieval_eval). The audited tier here
    is the deterministic 32-dim Matryoshka prefix index — exact-
    decimal cosine over the sliced vectors, so unlike the IVF arm the
    whole evaluation (ranks, recall, MRR) is engine-portable and
    value-hash checked against the DuckDB twin (converted from the
    rows-only retrieval_eval_ivf in r8). The IVF index is evaluated
    through the same retrieval_eval operator in
    tests/test_similarity.py::test_retrieval_eval_ivf_recall_floor,
    which also asserts its aggregate recall floor."""
    emb = _emb(spark, sf_dir, fanout=True)
    truth = similarity.cosine_topk_exact(emb, _QUERY_IDS, k=5)
    sliced = emb.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    pref = similarity.cosine_topk_exact(sliced, _QUERY_IDS, k=5)
    return similarity.retrieval_eval(pref, truth, k=5).orderBy("query_id")


# --- classifier calibration (bins of the hashed-BoW logit) ------------------

_CALIBRATION_ORACLE = """
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
  SELECT CAST(floor(s.logit / 500.0) AS BIGINT) AS score_bin,
         s.logit, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM scores s JOIN documents d USING (doc_id)
)
SELECT score_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate,
       CAST(SUM(logit) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_score
FROM labeled GROUP BY score_bin ORDER BY score_bin
"""


@REGISTRY.register("classifier_calibration_bins", _CALIBRATION_ORACLE)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the hashed-BoW classifier: logits bucketed
    into width-5.0 score bins, each bin reporting observed positive
    rate vs mean score — the reliability diagram that decides whether
    the gate threshold transfers across corpora. Companion to
    classifier_auc_eval (ranking quality); this is probability
    quality. One scoring pass (broadcast model join, per-doc partial
    agg) then a bounded-cardinality bin aggregate; logit sums stay
    integer so every bin statistic is exact."""
    from movie_rankings_spark.operators.classifier import hashed_bow_scores

    docs = _docs(spark, sf_dir, fanout=True)
    scored = hashed_bow_scores(docs).join(
        docs.select(
            "doc_id", (F.col("lang") == "en").cast("int").alias("_y")
        ),
        "doc_id",
    )
    return (
        scored.groupBy(
            F.floor(F.col("logit_x100") / F.lit(500.0))
            .cast("long")
            .alias("score_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_y").cast("long").alias("n_pos"),
            (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("pos_rate"),
            (
                F.sum("logit_x100").cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("avg_score"),
        )
        .orderBy("score_bin")
    )


# --- temperature-scaled language mix (XLM-R style, alpha = 0.5) -------------

_MIX_TEMP_ORACLE = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
m AS (SELECT MIN(n) AS mn FROM c),
r AS (
  SELECT lang, n,
         sqrt(CAST(mn AS DOUBLE) / CAST(n AS DOUBLE)) AS keep_rate
  FROM c CROSS JOIN m
)
SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, r.keep_rate,
       CAST(SUM(CASE WHEN
             CAST('0x' || substr(md5('mixT' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) / 4294967296.0 < r.keep_rate
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN r USING (lang)
GROUP BY 1, 2, 3 ORDER BY r.lang
"""


@REGISTRY.register("mix_temperature_sampling", _MIX_TEMP_ORACLE)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling (the XLM-R / mT5
    recipe at alpha = 0.5): head languages are deterministically
    downsampled toward sqrt-proportional shares — keep_rate(lang) =
    sqrt(n_min / n_lang), so the rarest language keeps everything and
    a 100x-bigger language keeps 10%. Companion to
    mix_corpus_token_budget (budget-driven mix); this is the
    distribution-flattening mix.

    Exactness: alpha = 0.5 makes the rate a single sqrt of a double
    ratio — sqrt and divide are IEEE correctly-rounded in both
    engines (pow is not, which is why the alpha isn't a parameter in
    the oracle-checked form). Membership is the md5-fraction
    coin-flip keyed on 'mixT'||doc_id, the same derandomized
    per-row hash every sampling operator here uses.

    Scale: one groupBy(lang) for counts (|langs| rows), a broadcast
    of the rate table back onto the fact, one conditional aggregate
    — the corpus is scanned once and never sorted/salted."""
    docs = _docs(spark, sf_dir)
    # counts feeds the min scalar AND the rate table — persist the
    # |langs|-row frame so the corpus count pass runs once
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).persist_tracked()
    mn = counts.agg(F.min("n").alias("mn"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n",
        F.sqrt(F.col("mn").cast("double") / F.col("n").cast("double")).alias(
            "keep_rate"
        ),
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mixT"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n", "keep_rate")
        .agg(
            F.sum(F.when(frac < F.col("keep_rate"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            "keep_rate",
            "n_kept",
        )
        .orderBy("lang")
    )


# --- near-dup clusters: keep the BEST-quality member -------------------------

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, n2.v FROM reach r JOIN und n2 ON r.v = n2.u
),
labels AS (SELECT u, MIN(v) AS component FROM reach GROUP BY u),
q AS (
  SELECT doc_id,
         least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.5
           + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                         AS DOUBLE) / length(text)) * 0.3
           + least(CAST(len(list_filter(string_split(text, ' '),
                    w -> list_contains({_STOP_EN}, w)))
                        AS DOUBLE) / len(string_split(text, ' ')) * 5.0, 1.0)
             * 0.2 AS quality
  FROM documents
),
ranked AS (
  SELECT l.component, l.u AS doc_id, q.quality,
         ROW_NUMBER() OVER (
           PARTITION BY l.component
           ORDER BY q.quality DESC, l.u ASC) AS rn,
         COUNT(*) OVER (PARTITION BY l.component) AS n_members
  FROM labels l JOIN q ON l.u = q.doc_id
)
SELECT doc_id AS keep_doc_id, CAST(n_members AS BIGINT) AS n_members, quality
FROM ranked WHERE rn = 1 ORDER BY keep_doc_id
"""


@REGISTRY.register("dedup_cluster_keep_best", _KEEP_BEST_ORACLE)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup collapse: the production dedup policy
    keeps each cluster's HIGHEST-QUALITY member, not its smallest id
    (the arbitrary-rep policy of dedup_cluster_reps throws away the
    best copy whenever a cleaner near-duplicate exists). Exact
    prefix-filtered Jaccard pairs (PPJoin — no false negatives, so
    the closure oracle is deterministically exact) → connected
    components → per-component argmax of the heuristic quality score
    (tie: min doc_id).

    Scale: components' label table is |clustered docs| rows — tiny
    next to the corpus; the quality join touches only those rows, and
    the per-component window partitions by component (no global
    sort). Components come from the O(log n) small-star/large-star
    rounds (operators/components.py). Oracled
    exactly via the recursive-CTE transitive closure over the
    verified-exact edge set plus the same quality formula."""
    from movie_rankings_spark.operators.components import (
        connected_components,
    )
    from movie_rankings_spark.functions.text import quality_score
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_prefix_pairs(docs, n=3, threshold=0.5)
    labels = connected_components(pairs)
    q = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    member = labels.join(q, labels["node"] == q["doc_id"]).select(
        "component", "doc_id", "quality"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        member.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("keep_doc_id"), "n_members", "quality"
        )
        .orderBy("keep_doc_id")
    )


def _bpe_encode_oracle() -> str:
    from movie_rankings_spark.operators.tokenizer import bpe_encode_oracle_sql

    return bpe_encode_oracle_sql(8)


@REGISTRY.register("tokenizer_encode_bpe", _bpe_encode_oracle())
def tokenizer_encode_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODE (operators/tokenizer.py::
    bpe_encode_token_counts): learns 8 merge rules on the corpus, then
    tokenizes every document with them — per doc, words vs post-merge
    BPE token counts. Oracle-exact since r8: the DuckDB twin unrolls
    the 8 deterministic train rounds (bpe_train_oracle_sql machinery)
    and replays the broadcast encode join
    (tokenizer.py::bpe_encode_oracle_sql); exactness vs a pure-Python
    reference tokenizer additionally pinned in
    tests/test_tokenizer_train.py."""
    from movie_rankings_spark.operators.tokenizer import (
        bpe_encode_token_counts,
    )

    return bpe_encode_token_counts(_docs(spark, sf_dir), n_merges=8).orderBy(
        "doc_id"
    )


# --- label-centroid confusion structure (r3s4) ------------------------------

_CENTROID_ORACLE = f"""
WITH el AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
  FROM el GROUP BY 1, 2
),
arr AS (
  SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label
),
mem AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1)
SELECT a.label AS label_a, b.label AS label_b,
       ma.n AS n_a, mb.n AS n_b,
       {_COSINE_SQL.format(a='a.c', b='b.c')} AS cosine
FROM arr a JOIN arr b ON a.label < b.label
JOIN mem ma ON ma.label = a.label
JOIN mem mb ON mb.label = b.label
ORDER BY label_a, label_b
"""


@REGISTRY.register("centroid_similarity_labels", _CENTROID_ORACLE)
def centroid_similarity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-prototype confusion audit (operators/embeddings.py::
    label_centroids + centroid_pairwise_cosine): per-label mean
    embedding (exact decimal element sums), then pairwise cosine
    between the |labels| prototypes — high inter-class cosine flags
    labels the encoder cannot separate (the embedding-quality
    companion to classifier_auc_eval). One |labels|×dim aggregate
    shuffle; the pairwise stage is a broadcast self-join over |labels|
    rows."""
    from movie_rankings_spark.operators.embeddings import (
        centroid_pairwise_cosine,
        label_centroids,
    )

    return centroid_pairwise_cosine(label_centroids(_emb(spark, sf_dir)))


# --- edit-distance verification of near-dup pairs (r3s4) --------------------

_EDITDIST_ORACLE = f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       CAST(1.0 AS DOUBLE)
         - CAST(levenshtein(a.text, b.text) AS DOUBLE)
           / greatest(length(a.text), length(b.text)) AS edit_sim,
       (CAST(levenshtein(a.text, b.text) AS DOUBLE)
          / greatest(length(a.text), length(b.text))) <= 0.2 AS edit_pass
FROM pairs p
JOIN documents a ON p.doc_a = a.doc_id
JOIN documents b ON p.doc_b = b.doc_id
ORDER BY p.doc_a, p.doc_b
"""


@REGISTRY.register("dedup_editdistance_verify", _EDITDIST_ORACLE)
def dedup_editdistance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-stage verifier on the near-dup pair set: exact
    Levenshtein similarity per candidate pair plus the stricter
    edit-gate flag (dist/maxlen <= 0.2) — the character-level check
    that catches shingle-level false friends (same vocabulary, heavy
    reordering). Levenshtein is O(len_a x len_b) per pair, which is
    exactly why it only ever runs on the verified PAIR table
    (|pairs| rows, from the exact PPJoin so the pair set matches the
    oracle's closure deterministically), never the corpus; both
    engines ship the same classic DP levenshtein, so the report is
    value-hash exact."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_prefix_pairs(docs, n=3, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    maxlen = F.greatest(F.length("ta"), F.length("tb"))
    ratio = dist.cast("double") / maxlen
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            (F.lit(1.0) - ratio).alias("edit_sim"),
            (ratio <= 0.2).alias("edit_pass"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- multimodal audio framing (r3s4) ----------------------------------------

_AUDIO_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1
),
f AS (
  SELECT media_id, text,
         CAST(unnest(range(0, CAST(ceil(length(text) / 512.0) AS BIGINT)))
              AS INTEGER) AS frame_idx
  FROM m
),
w AS (
  SELECT media_id, frame_idx,
         substr(text, frame_idx * 512 + 1, 1024) AS win
  FROM f
),
v AS (
  SELECT media_id, frame_idx,
         CAST(length(win) AS INTEGER) AS n_samples,
         list_transform(range(1, length(win) + 1),
           j -> CASE WHEN ascii(substr(win, j, 1)) >= 128
                     THEN ascii(substr(win, j, 1)) - 256
                     ELSE ascii(substr(win, j, 1)) END) AS vals
  FROM w
),
s AS (
  SELECT media_id, frame_idx, n_samples,
         list_sum(list_transform(vals, x -> CAST(x AS BIGINT) * x)) AS ss,
         list_sum(list_transform(range(2, n_samples + 1),
           j -> CASE WHEN (vals[j] < 0) <> (vals[j - 1] < 0)
                     THEN 1 ELSE 0 END)) AS zc
  FROM v
)
SELECT media_id, frame_idx, n_samples,
       sqrt(CAST(ss AS DOUBLE) / n_samples) AS rms,
       CASE WHEN n_samples > 1
            THEN CAST(COALESCE(zc, 0) AS DOUBLE) / n_samples
            ELSE CAST(0.0 AS DOUBLE) END AS zcr
FROM s ORDER BY media_id, frame_idx
"""


@REGISTRY.register("multimodal_audio_frames", _AUDIO_ORACLE)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing + per-frame RMS / zero-crossing rate
    (operators/multimodal.py::audio_window_features): the windowed-DSP
    plumbing of an audio pipeline, Arrow-batched, one output row per
    (media, frame). The decode line is the deterministic stand-in
    (payload bytes as int8 PCM — no codec in this container), which
    makes the WHOLE path oracle-checkable: integer square sums and
    sign-change counts are exact in both engines, so rms/zcr
    hash-match bit-for-bit."""
    from movie_rankings_spark.operators import multimodal

    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return multimodal.audio_window_features(media).orderBy(
        "media_id", "frame_idx"
    )


# --- GDPR erasure impact audit (r3s4) ---------------------------------------

_ERASURE_ORACLE = """
WITH f AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 3)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_erased,
       CAST(SUM(CASE WHEN f.user_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_remaining,
       CAST(COUNT(DISTINCT CASE WHEN f.user_id IS NOT NULL
                                THEN e.user_id END) AS BIGINT)
         AS n_forgotten_users
FROM events e LEFT JOIN f USING (user_id)
GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("erasure_audit_events", _ERASURE_ORACLE)
def erasure_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a forget list (here a
    deterministic predicate standing in for the uploaded id table),
    report per event type how many rows erasure removes, how many
    remain, and how many distinct users are being forgotten — the
    pre-flight every GDPR delete job runs, and the post-flight proof
    is its n_erased=0 re-run. Completes the governance tier next to
    kanonymity_customers and text_pii_redaction.

    Scale: the forget list BROADCASTS onto a single fact scan (left
    join + conditional aggregates — erase counts and retention counts
    in one pass, no second scan for the complement); the actual
    delete is the same broadcast as an anti-join write."""
    ev = load_table(spark, sf_dir, "events")
    forget = (
        ev.filter(F.col("user_id") % 97 == 3).select("user_id").distinct()
    )
    flagged = ev.join(
        F.broadcast(forget.withColumn("_forget", F.lit(1))),
        "user_id",
        "left",
    )
    is_f = F.col("_forget").isNotNull()
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(is_f, 1).otherwise(0)).cast("long").alias("n_erased"),
            F.sum(F.when(is_f, 0).otherwise(1))
            .cast("long")
            .alias("n_remaining"),
            F.countDistinct(F.when(is_f, F.col("user_id")))
            .cast("long")
            .alias("n_forgotten_users"),
        )
        .orderBy("event_type")
    )


# --- BM25 ranked retrieval (r3s4) -------------------------------------------

_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('scan', 'table', 'filter') GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tok,
         CAST(floor(CAST(n_docs * 1000 AS DOUBLE) / CAST(df AS DOUBLE))
              AS BIGINT) AS idf_q,
         avgdl
  FROM dft CROSS JOIN corpus
),
s AS (
  SELECT tf.doc_id,
         CAST(CAST(w.idf_q AS DOUBLE)
              * (CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / w.avgdl))
              AS DECIMAL(18,6)) AS term_score
  FROM tf JOIN w USING (tok) JOIN dl USING (doc_id)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       CAST(SUM(term_score) AS DOUBLE) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


@REGISTRY.register("search_bm25_topk", _BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (operators/search.py::bm25_topk)
    for the query {scan, table, filter}: inverted-index postings of
    the query terms only (term filter directly above the explode),
    quantized-integer idf (the TF-IDF operator's engine-portable
    trick — no ln), per-term scores DECIMAL-rounded before the
    per-doc sum so the ranking hash-matches the SQL oracle, and a
    TakeOrdered top-k tail. The search-engine scoring surface next to
    similarity_tfidf_topk's vector-space one."""
    from movie_rankings_spark.operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), ["scan", "table", "filter"], k=10)


# --- exact duplicated-substring spans (r3s4) --------------------------------

_SUBSTR_SPANS_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         CAST(unnest(range(1, greatest(length(text) - 20 + 1, 0) + 1))
              AS INTEGER) AS pos,
         text
  FROM documents
),
g AS (SELECT doc_id, pos, substr(text, pos, 20) AS gram FROM grams),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
b AS (
  SELECT doc_id, pos,
         CASE WHEN COALESCE(pos - lag(pos) OVER w, 0) > 20
              THEN 1 ELSE 0 END AS new_s
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos,
         SUM(new_s) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS span
  FROM b
)
SELECT doc_id,
       CAST(MIN(pos) AS INTEGER) AS span_start,
       CAST(MAX(pos) + 19 AS INTEGER) AS span_end,
       CAST(MAX(pos) + 19 - MIN(pos) + 1 AS INTEGER) AS span_len,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM s GROUP BY doc_id, span
ORDER BY doc_id, span_start
"""


@REGISTRY.register("dedup_substring_spans", _SUBSTR_SPANS_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring span report (operators/dedup.py::
    duplicated_substring_spans): the suffix-array substring-dedup
    pass of Lee et al. 2022 re-expressed as explode → frequency →
    per-doc span merge — character-level memorization-prone regions,
    complementing the document-level dedup ladder. Every stage is
    relational and the gram key stays a string here, so the whole
    report is value-hash exact against DuckDB; the 100 TB form swaps
    the group key for xxhash64(gram) (fixed-width shuffle) with
    collision verify, as documented on the operator."""
    return dedup.duplicated_substring_spans(_docs(spark, sf_dir, fanout=True), 20)


# --- DSIR importance resampling (r3s4) --------------------------------------

_DSIR_ORACLE = """
WITH base AS (
  SELECT doc_id, source, source = 'src0' AS tgt,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, source, tgt, word, COUNT(*) AS tf
  FROM base GROUP BY 1, 2, 3, 4
),
vocab AS (
  SELECT word,
         SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct,
         SUM(CASE WHEN tgt THEN 0 ELSE tf END) AS cs
  FROM tf GROUP BY 1
),
totals AS (
  SELECT SUM(ct) AS tt, SUM(cs) AS ts, COUNT(*) AS v FROM vocab
),
lam AS (
  SELECT word,
         CAST(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))
              AS DECIMAL(18,9))
         - CAST(ln(CAST(cs + 1 AS DOUBLE) / CAST(ts + v AS DOUBLE))
                AS DECIMAL(18,9)) AS lam
  FROM vocab CROSS JOIN totals
)
SELECT tf.doc_id, tf.source,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(tf.tf * lam.lam AS DECIMAL(28,9))) AS DOUBLE)
         AS log_weight
FROM tf JOIN lam USING (word)
WHERE NOT tf.tgt
GROUP BY 1, 2
ORDER BY log_weight DESC, doc_id LIMIT 20
"""


@REGISTRY.register("dsir_importance_topk", _DSIR_ORACLE)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py): source-pool documents
    ranked by target-likeness under smoothed unigram importance
    weights (target = the src0 slice standing in for the wanted
    domain). The curation step between heuristic gates
    (quality_filtered_docs) and model scoring (classifier_doc_scores)
    — distribution matching without training a model. DECIMAL-rounded
    ln terms + exact decimal accumulation make the ranking value-hash
    exact (the drift-monitor convention)."""
    from movie_rankings_spark.operators.dsir import (
        dsir_importance_topk as op,
    )

    return op(_docs(spark, sf_dir), F.col("source") == "src0", k=20)


# --- language-ID confusion matrix (r3s4) ------------------------------------


def _langid_confusion_oracle() -> str:
    score_exprs = ",\n       ".join(
        f"CAST(len(list_intersect(list_distinct({_WORDS}), "
        f"{_sql_list(LANG_STOPWORDS[lang])})) AS INTEGER) AS score_{lang}"
        for lang in LANG_ORDER
    )
    greatest = (
        "GREATEST(" + ", ".join(f"score_{lang}" for lang in LANG_ORDER) + ")"
    )
    case_arms = " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS lang_label,
       {score_exprs}
  FROM documents
),
pred AS (
  SELECT lang_label,
         CASE WHEN {greatest} <= 0 THEN 'und' {case_arms} ELSE 'und' END
           AS lang_pred
  FROM scored
),
totals AS (
  SELECT lang_label, COUNT(*) AS n_label FROM pred GROUP BY 1
)
SELECT p.lang_label, p.lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS label_share
FROM pred p JOIN totals t USING (lang_label)
GROUP BY p.lang_label, p.lang_pred, t.n_label
ORDER BY p.lang_label, p.lang_pred
"""


@REGISTRY.register("langid_confusion_matrix", _langid_confusion_oracle())
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    corpus labels: (true, predicted) doc counts + per-label shares
    (the diagonal is per-language recall) — the evaluation step that
    turns text_langid from a transform into a measured model, like
    classifier_auc_eval does for the quality classifier. Two bounded
    aggregates over the one scoring scan."""
    from movie_rankings_spark.functions.text import lang_predict

    docs = _docs(spark, sf_dir)
    pred = docs.select(
        F.col("lang").alias("lang_label"),
        lang_predict(F.col("text")).alias("lang_pred"),
    )
    totals = pred.groupBy("lang_label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    return (
        pred.groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(F.broadcast(totals), "lang_label")
        .select(
            "lang_label",
            "lang_pred",
            "n_docs",
            (
                F.col("n_docs").cast("double")
                / F.col("n_label").cast("double")
            ).alias("label_share"),
        )
        .orderBy("lang_label", "lang_pred")
    )


# --- embedding norm audit (r3s4) --------------------------------------------

_NORM_AUDIT_ORACLE = """
WITH norms AS (
  SELECT label,
         CAST(sqrt(CAST(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                        AS DECIMAL(28,12)))) AS DOUBLE))
              AS DECIMAL(18,9)) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(nrm) AS DOUBLE) / COUNT(*) AS mean_norm,
       CAST(MIN(nrm) AS DOUBLE) AS min_norm,
       CAST(MAX(nrm) AS DOUBLE) AS max_norm
FROM norms GROUP BY label ORDER BY label
"""


@REGISTRY.register("embedding_norm_audit", _NORM_AUDIT_ORACLE)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store health check: per-label vector-norm profile
    (collapsed or exploding norms flag encoder drift / bad batches
    before they poison ANN recall). Per-row norms use the exact
    decimal square sums (functions/vectors.py), each norm rounded to
    DECIMAL(18,9) before the mean so the per-label aggregate is
    order-independent — one scan, one bounded aggregate."""
    from movie_rankings_spark.functions.vectors import (
        NARROW,
        norm_sq_exact,
    )

    e = _emb(spark, sf_dir)
    nrm = (
        F.sqrt(norm_sq_exact(F.col("embedding"), NARROW))
        .cast("decimal(18,9)")
        .alias("nrm")
    )
    return (
        e.select("label", nrm)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (F.sum("nrm").cast("double") / F.count(F.lit(1))).alias(
                "mean_norm"
            ),
            F.min("nrm").cast("double").alias("min_norm"),
            F.max("nrm").cast("double").alias("max_norm"),
        )
        .orderBy("label")
    )


# --- data-contract expectation suite over documents (r3s4) ------------------

_EXPECTATIONS_ORACLE = """
WITH checks AS (
  SELECT
    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS f_id_null,
    SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
      AS f_text_empty,
    SUM(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'und')
             THEN 1 ELSE 0 END) AS f_lang_domain,
    SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
      AS f_chars_consistent,
    SUM(CASE WHEN length(text) < 10 OR length(text) > 100000
             THEN 1 ELSE 0 END) AS f_len_range,
    COUNT(*) AS n_rows,
    COUNT(DISTINCT doc_id) AS n_ids
  FROM documents
)
SELECT * FROM (
  SELECT 'doc_id_not_null' AS expectation, CAST(f_id_null AS BIGINT)
           AS n_failures, f_id_null = 0 AS passed FROM checks
  UNION ALL
  SELECT 'doc_id_unique', CAST(n_rows - n_ids AS BIGINT),
         n_rows = n_ids FROM checks
  UNION ALL
  SELECT 'text_not_empty', CAST(f_text_empty AS BIGINT),
         f_text_empty = 0 FROM checks
  UNION ALL
  SELECT 'lang_in_domain', CAST(f_lang_domain AS BIGINT),
         f_lang_domain = 0 FROM checks
  UNION ALL
  SELECT 'n_chars_matches_text', CAST(f_chars_consistent AS BIGINT),
         f_chars_consistent = 0 FROM checks
  UNION ALL
  SELECT 'length_in_range', CAST(f_len_range AS BIGINT),
         f_len_range = 0 FROM checks
) ORDER BY expectation
"""


@REGISTRY.register("expectations_documents", _EXPECTATIONS_ORACLE)
def expectations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract expectation suite over the documents table (the
    Great-Expectations pattern, in-engine): null/uniqueness/domain/
    consistency/range checks evaluated in ONE conditional-aggregate
    scan, unpivoted to a (expectation, n_failures, passed) report —
    the ingest gate a corpus refresh must pass before any downstream
    pipeline sees it. Companion to audit_orders_quality (relational
    facts); this one guards the text corpus."""
    d = _docs(spark, sf_dir)
    checks = d.agg(
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias(
            "f_id_null"
        ),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.length("text") == 0), 1
            ).otherwise(0)
        ).alias("f_text_empty"),
        F.sum(
            F.when(
                ~F.col("lang").isin("en", "de", "fr", "es", "und"), 1
            ).otherwise(0)
        ).alias("f_lang_domain"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("f_chars_consistent"),
        F.sum(
            F.when(
                (F.length("text") < 10) | (F.length("text") > 100_000), 1
            ).otherwise(0)
        ).alias("f_len_range"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_ids"),
    )
    rows = F.array(
        F.struct(
            F.lit("doc_id_not_null").alias("expectation"),
            F.col("f_id_null").cast("long").alias("n_failures"),
            (F.col("f_id_null") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("doc_id_unique").alias("expectation"),
            (F.col("n_rows") - F.col("n_ids")).cast("long").alias("n_failures"),
            (F.col("n_rows") == F.col("n_ids")).alias("passed"),
        ),
        F.struct(
            F.lit("text_not_empty").alias("expectation"),
            F.col("f_text_empty").cast("long").alias("n_failures"),
            (F.col("f_text_empty") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("lang_in_domain").alias("expectation"),
            F.col("f_lang_domain").cast("long").alias("n_failures"),
            (F.col("f_lang_domain") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("n_chars_matches_text").alias("expectation"),
            F.col("f_chars_consistent").cast("long").alias("n_failures"),
            (F.col("f_chars_consistent") == 0).alias("passed"),
        ),
        F.struct(
            F.lit("length_in_range").alias("expectation"),
            F.col("f_len_range").cast("long").alias("n_failures"),
            (F.col("f_len_range") == 0).alias("passed"),
        ),
    )
    return (
        checks.select(F.explode(rows).alias("e"))
        .select("e.*")
        .orderBy("expectation")
    )


# --- Neyman sampling allocation (r3s4) --------------------------------------

_NEYMAN_ORACLE = """
WITH m AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(n_chars AS DECIMAL(18,0)) * n_chars) AS DOUBLE) AS s2
  FROM documents GROUP BY 1
),
sd AS (
  SELECT lang, n_docs,
         sqrt(greatest(s2 / n_docs - (s1 / n_docs) * (s1 / n_docs), 0.0))
           AS stddev_chars
  FROM m
),
tot AS (
  SELECT SUM(CAST(n_docs AS DOUBLE) * stddev_chars) AS w FROM sd
)
SELECT sd.lang, sd.n_docs, sd.stddev_chars,
       CAST(floor(1000.0 * CAST(sd.n_docs AS DOUBLE) * sd.stddev_chars
                  / t.w) AS BIGINT) AS alloc_n,
       floor(1000.0 * CAST(sd.n_docs AS DOUBLE) * sd.stddev_chars / t.w)
         / CAST(sd.n_docs AS DOUBLE) AS alloc_rate
FROM sd CROSS JOIN tot t
ORDER BY sd.lang
"""


@REGISTRY.register("sample_neyman_allocation", _NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) stratified-sampling allocation: a
    1000-doc audit budget split across language strata proportional to
    N_h·sigma_h — high-variance strata get more of the budget than
    size-proportional allocation would give them (the survey-sampling
    design behind efficient eval-set construction). Exact decimal
    moments per stratum, a 1-row broadcast total, and double
    arithmetic written identically in the oracle."""
    d = _docs(spark, sf_dir)
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,0)"))
        .cast("double")
        .alias("s1"),
        F.sum(F.col("n_chars").cast("decimal(18,0)") * F.col("n_chars"))
        .cast("double")
        .alias("s2"),
    )
    sd = m.select(
        "lang",
        "n_docs",
        F.sqrt(
            F.greatest(
                F.col("s2") / F.col("n_docs")
                - (F.col("s1") / F.col("n_docs"))
                * (F.col("s1") / F.col("n_docs")),
                F.lit(0.0),
            )
        ).alias("stddev_chars"),
    ).persist_tracked()  # read twice: feeds the 1-row total AND the final select
    tot = sd.agg(
        F.sum(F.col("n_docs").cast("double") * F.col("stddev_chars")).alias(
            "w"
        )
    )
    alloc = F.floor(
        F.lit(1000.0)
        * F.col("n_docs").cast("double")
        * F.col("stddev_chars")
        / F.col("w")
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "stddev_chars",
            alloc.cast("long").alias("alloc_n"),
            (alloc / F.col("n_docs").cast("double")).alias("alloc_rate"),
        )
        .orderBy("lang")
    )


# --- dedup funnel impact report (r3s4) --------------------------------------

_DEDUP_IMPACT_ORACLE = f"""
WITH RECURSIVE fp AS (
  SELECT doc_id, len({_WORDS}) AS n_words,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f
  FROM documents
),
exact_removed AS (
  SELECT doc_id, n_words FROM (
    SELECT doc_id, n_words,
           MIN(doc_id) OVER (PARTITION BY f) AS keeper
    FROM fp
  ) WHERE doc_id <> keeper
),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, n2.v FROM reach r JOIN und n2 ON r.v = n2.u
),
labels AS (SELECT u, MIN(v) AS component FROM reach GROUP BY u),
near_removed AS (
  SELECT l.u AS doc_id, fp.n_words
  FROM labels l JOIN fp ON l.u = fp.doc_id
  WHERE l.u <> l.component
)
SELECT * FROM (
  SELECT 'exact' AS tier,
         CAST(COUNT(*) AS BIGINT) AS n_docs_removed,
         CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS n_tokens_removed
  FROM exact_removed
  UNION ALL
  SELECT 'neardup', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
  FROM near_removed
) ORDER BY tier
"""


@REGISTRY.register("dedup_impact_report", _DEDUP_IMPACT_ORACLE)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup funnel summary a curation run reports: documents and
    tokens removed at the exact tier (content-fingerprint groups,
    min-id keeper) and at the near-dup tier (exact Jaccard clusters,
    min-id rep) — the cost/benefit line items before committing a
    dedup policy. Both tiers reuse the proven building blocks
    (content_fingerprint window; exact PPJoin pairs + star
    components), so the value-hash match against the closure oracle
    is deterministic, not recall-dependent."""
    from movie_rankings_spark.functions.text import (
        content_fingerprint,
        words,
    )
    from movie_rankings_spark.operators.components import (
        connected_components,
    )
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.size(words(F.col("text"))).alias("n_words"),
        content_fingerprint(F.col("text")).alias("f"),
    ).persist_tracked()  # read by the exact tier AND the LSH pipeline

    w = Window.partitionBy("f")
    exact_removed = (
        docs.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keeper"))
        .agg(
            F.lit("exact").alias("tier"),
            F.count(F.lit(1)).cast("long").alias("n_docs_removed"),
            F.coalesce(F.sum("n_words"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
    pairs = dedup.jaccard_prefix_pairs(
        docs.select("doc_id", "text"), n=3, threshold=0.5
    )
    labels = connected_components(pairs)
    near_removed = (
        labels.filter(F.col("node") != F.col("component"))
        .join(docs.select(F.col("doc_id").alias("node"), "n_words"), "node")
        .agg(
            F.lit("neardup").alias("tier"),
            F.count(F.lit(1)).cast("long").alias("n_docs_removed"),
            F.coalesce(F.sum("n_words"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
    return exact_removed.unionByName(near_removed).orderBy("tier")


# --- Cohen's kappa between two heuristic quality raters ---------------------

_KAPPA_ORACLE = """
WITH r AS (
  SELECT CASE WHEN n_chars >= 240 THEN 1 ELSE 0 END AS a,
         CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1000
                   >= n_chars * 178 THEN 1 ELSE 0 END AS b
  FROM documents
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(SUM(a) AS BIGINT) AS rater_a_pos,
         CAST(SUM(b) AS BIGINT) AS rater_b_pos
  FROM r
)
SELECT n_rows, n_agree, rater_a_pos, rater_b_pos,
       CAST(n_agree AS DOUBLE) / CAST(n_rows AS DOUBLE) AS po,
       CAST(CAST(rater_a_pos AS DECIMAL(38,0)) * CAST(rater_b_pos AS DECIMAL(38,0))
          + CAST(n_rows - rater_a_pos AS DECIMAL(38,0))
            * CAST(n_rows - rater_b_pos AS DECIMAL(38,0)) AS DOUBLE)
         / CAST(CAST(n_rows AS DECIMAL(38,0)) * CAST(n_rows AS DECIMAL(38,0))
                AS DOUBLE) AS pe,
       (CAST(n_agree AS DOUBLE) / CAST(n_rows AS DOUBLE)
        - CAST(CAST(rater_a_pos AS DECIMAL(38,0)) * CAST(rater_b_pos AS DECIMAL(38,0))
             + CAST(n_rows - rater_a_pos AS DECIMAL(38,0))
               * CAST(n_rows - rater_b_pos AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST(n_rows AS DECIMAL(38,0)) * CAST(n_rows AS DECIMAL(38,0))
                   AS DOUBLE))
       / (1.0
        - CAST(CAST(rater_a_pos AS DECIMAL(38,0)) * CAST(rater_b_pos AS DECIMAL(38,0))
             + CAST(n_rows - rater_a_pos AS DECIMAL(38,0))
               * CAST(n_rows - rater_b_pos AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(CAST(n_rows AS DECIMAL(38,0)) * CAST(n_rows AS DECIMAL(38,0))
                   AS DOUBLE)) AS kappa
FROM m
"""


@REGISTRY.register("kappa_quality_raters", _KAPPA_ORACLE)
def kappa_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do two cheap quality heuristics actually agree beyond chance?
    Cohen's kappa between a length rater (n_chars ≥ 240) and a
    space-density rater (spaces/chars ≥ 0.178, evaluated in exact
    integer cross-multiplication) over documents — the label-QA gate
    run before adopting a heuristic as a training-filter proxy.
    Raw agreement double-counts luck; kappa subtracts the marginal-
    product chance term.

    One map-side-combined aggregate scans the corpus once into a
    1-row moment set; po/pe/kappa are IEEE divisions of exact
    integers mirrored verbatim in the oracle
    (operators/infotheory.py::cohens_kappa).
    """
    from movie_rankings_spark.operators.infotheory import cohens_kappa

    docs = _docs(spark, sf_dir)
    rater_a = (F.col("n_chars") >= F.lit(240)).cast("int")
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    rater_b = (spaces * F.lit(1000) >= F.col("n_chars") * F.lit(178)).cast("int")
    return cohens_kappa(docs, rater_a, rater_b)


# --- corpus concentration: char share of the longest docs -------------------

_COVERAGE_ORACLE = """
WITH vc AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(n_chars AS BIGINT) * CAST(COUNT(*) AS BIGINT) AS s
  FROM documents GROUP BY 1
), cum AS (
  SELECT v, CAST(SUM(c) OVER (ORDER BY v DESC) AS BIGINT) AS rows_ge,
         CAST(SUM(s) OVER (ORDER BY v DESC) AS BIGINT) AS sum_ge
  FROM vc
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total, CAST(SUM(s) AS BIGINT) AS s_total
  FROM vc
), fr AS (
  SELECT unnest([1, 5, 10, 25, 50]) AS pct_docs
), wk AS (
  SELECT CAST(pct_docs AS INT) AS pct_docs, n_total, s_total,
         CAST(FLOOR((pct_docs * n_total + 99) / 100) AS BIGINT) AS k_docs
  FROM fr, tot
), sel AS (
  SELECT w.pct_docs, w.k_docs, w.n_total, w.s_total, MAX(c.v) AS tv
  FROM wk w JOIN cum c ON c.rows_ge >= w.k_docs
  GROUP BY 1, 2, 3, 4
)
SELECT s.pct_docs, s.k_docs, s.tv AS threshold_value,
       CAST(c.sum_ge - (c.rows_ge - s.k_docs) * s.tv AS BIGINT)
         AS covered_value,
       s.s_total,
       CAST(c.sum_ge - (c.rows_ge - s.k_docs) * s.tv AS DOUBLE)
         / CAST(s.s_total AS DOUBLE) AS share
FROM sel s JOIN cum c ON c.v = s.tv
ORDER BY s.pct_docs
"""


@REGISTRY.register("coverage_topdoc_chars", _COVERAGE_ORACLE)
def coverage_topdoc_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What share of the corpus do the longest documents hold? Exact
    concentration curve at the top 1/5/10/25/50% of documents ranked
    by n_chars — the Lorenz-curve reading a curation team checks
    before length-capping or re-mixing (gini_customer_revenue's
    corpus sibling, with tie groups at the threshold pro-rated
    exactly in integers).

    The corpus reduces to the distinct-length table (bounded by the
    length DOMAIN, not the row count); cumulative rows/chars-≥ come
    from a broadcast theta self-join of that bounded table — the
    roc_curve pattern, never a global-sort window
    (operators/statistics.py::coverage_topfrac).
    """
    from movie_rankings_spark.operators.statistics import coverage_topfrac

    docs = _docs(spark, sf_dir)
    return coverage_topfrac(docs, "n_chars", [1, 5, 10, 25, 50])


# --- hybrid retrieval: reciprocal-rank fusion of BM25 + cosine ---------------

_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('scan', 'table', 'filter') GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tok,
         CAST(floor(CAST(n_docs * 1000 AS DOUBLE) / CAST(df AS DOUBLE))
              AS BIGINT) AS idf_q,
         avgdl
  FROM dft CROSS JOIN corpus
),
s AS (
  SELECT tf.doc_id,
         CAST(CAST(w.idf_q AS DOUBLE)
              * (CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / w.avgdl))
              AS DECIMAL(18,6)) AS term_score
  FROM tf JOIN w USING (tok) JOIN dl USING (doc_id)
),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
              AS BIGINT) AS lex_rank
  FROM (
    SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
    FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
  )
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id = 0
),
pairs AS (
  SELECT e.vec_id,
         {_COSINE_SQL.format(a='q.q_emb', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
sem AS (
  SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
    SELECT vec_id, ROW_NUMBER() OVER (
      ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= 20
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
       COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)
       + COALESCE(1.0 / (60.0 + CAST(sem_rank AS DOUBLE)), 0.0) AS rrf
FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
"""


@REGISTRY.register("search_hybrid_rrf", _RRF_ORACLE)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical arm
    (BM25 top-20 for {scan, table, filter}) and the semantic arm
    (exact-cosine top-20 neighbours of vec 0) over the shared
    doc_id/vec_id space — THE standard production pattern for
    RAG-corpus search, where neither keyword match nor embedding
    similarity alone recalls well. rrf = Σ_arms 1/(60 + rank)
    (Cormack et al.'s k=60), so an id ranked by both arms beats one
    ranked highly by a single arm.

    Scale shape: each arm is its own bounded top-k (BM25's inverted
    postings + TakeOrdered; the GEMM-pruned exact cosine) — the
    fusion join and rank windows run over 2·k rows, kilobytes. Both
    arms' scores are engine-portable (DECIMAL-rounded BM25 terms,
    exact-decimal cosine), so ranks — and therefore the fused scores
    — value-hash exactly.
    """
    from pyspark.sql import Window

    from movie_rankings_spark.operators.search import bm25_topk

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    lex20 = bm25_topk(docs, ["scan", "table", "filter"], k=20)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex = lex20.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    sem = similarity.cosine_topk_exact(emb, (0,), k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rn").cast("long").alias("sem_rank"),
    )
    fused = lex.join(sem, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("lex_rank").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60.0) + F.col("sem_rank").cast("double")),
        F.lit(0.0),
    )
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


# --- population stability index: doc-length drift train vs val --------------

_PSI_ORACLE = """
WITH r AS (
  SELECT greatest(0, least(9, CAST(floor(CAST(n_chars AS BIGINT) / 64)
                               AS INT))) AS bin,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 31, 2)
                        AS BIGINT) < 13 THEN NULL
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 31, 2)
                        AS BIGINT) < 26 THEN 'val'
              ELSE 'train' END AS side
  FROM documents
), obs AS (
  SELECT bin,
         CAST(SUM(CASE WHEN side = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS ct,
         CAST(SUM(CASE WHEN side = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS cv
  FROM r WHERE side IS NOT NULL GROUP BY bin
), frame AS (
  SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin
), filled AS (
  SELECT f.bin,
         CAST(COALESCE(o.ct, 0) AS BIGINT) AS train_n,
         CAST(COALESCE(o.cv, 0) AS BIGINT) AS val_n
  FROM frame f LEFT JOIN obs o USING (bin)
), tot AS (
  SELECT CAST(SUM(train_n) AS BIGINT) AS nt,
         CAST(SUM(val_n) AS BIGINT) AS nv
  FROM filled
)
SELECT bin, train_n, val_n,
       CAST(train_n + 1 AS DOUBLE) / CAST(nt + 10 AS DOUBLE) AS p_train,
       CAST(val_n + 1 AS DOUBLE) / CAST(nv + 10 AS DOUBLE) AS p_val,
       CAST(CAST(
         (CAST(train_n + 1 AS DOUBLE) / CAST(nt + 10 AS DOUBLE)
          - CAST(val_n + 1 AS DOUBLE) / CAST(nv + 10 AS DOUBLE))
         * CAST(CAST(ln(
             (CAST(train_n + 1 AS DOUBLE) / CAST(nt + 10 AS DOUBLE))
             / (CAST(val_n + 1 AS DOUBLE) / CAST(nv + 10 AS DOUBLE))
           ) AS DECIMAL(18,9)) AS DOUBLE)
         AS DECIMAL(28,15)) AS DOUBLE) AS psi_contrib
FROM filled CROSS JOIN tot ORDER BY bin
"""


@REGISTRY.register("drift_train_val_psi", _PSI_ORACLE)
def drift_train_val_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of document length between the
    train and val splits — the industry model-monitoring drift gate
    (PSI < 0.1 stable / > 0.25 act), the per-FEATURE companion to
    drift_train_val_js's vocabulary-level divergence. Fixed 64-char
    bins clamped to 10; add-one smoothing keeps empty bins finite;
    Σ psi_contrib over the 10 rows is the PSI
    (operators/drift.py::psi_feature_drift).
    """
    from movie_rankings_spark.operators.drift import psi_feature_drift

    return psi_feature_drift(
        _docs(spark, sf_dir), "n_chars", width=64, n_bins=10
    )


# --- oracle-exact Rademacher JL projection -----------------------------------


def _jl_rademacher_oracle() -> str:
    from movie_rankings_spark.operators.embeddings import rademacher_signs

    w = rademacher_signs(13, 16, 64)
    m = (
        "["
        + ", ".join(
            "[" + ", ".join(f"{v!r}" for v in row) + "]" for row in w
        )
        + "]"
    )
    return f"""
WITH ks AS (
  SELECT CAST(unnest(generate_series(1, 16)) AS INT) AS kk
), w AS (SELECT {m} AS m)
SELECT e.vec_id, CAST(ks.kk - 1 AS INT) AS k,
       (CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000000.0)
                    AS BIGINT)
               * CAST(w.m[ks.kk][i] AS BIGINT))) AS DOUBLE)
        / 1000000000.0) * 0.25 AS proj
FROM embeddings e CROSS JOIN ks CROSS JOIN w
ORDER BY e.vec_id, k
"""


@REGISTRY.register("embedding_jl_rademacher", _jl_rademacher_oracle())
def embedding_jl_rademacher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection with REPRODUCIBLE semantics:
    ±1 Rademacher signs from md5(seed:k:i) parity (Achlioptas 2003 —
    same ε-distortion lemma as Gaussians) over the q9-quantized
    embedding, so the weighted sum is exact integer arithmetic and
    every one of the N·16 projected coordinates value-hashes against
    DuckDB. Converts the JL capability from rows-only (the numpy
    Gaussian hot path, embedding_jl_projection) to oracle-backed;
    production uses the GEMM, audits use this
    (operators/embeddings.py::jl_rademacher_project)."""
    from movie_rankings_spark.operators.embeddings import (
        jl_rademacher_project,
    )

    return jl_rademacher_project(_emb(spark, sf_dir, fanout=True), out_dim=16, seed=13)


# --- per-source KS sweep: which source's length profile deviates? ------------

_KS_SOURCES_ORACLE = """
WITH cells AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), grid AS (SELECT DISTINCT v AS v_at FROM cells),
cum_g AS (
  SELECT c.g, gr.v_at, CAST(SUM(c.c) AS BIGINT) AS cum_g
  FROM cells c JOIN grid gr ON c.v <= gr.v_at GROUP BY 1, 2
),
cum_all AS (
  SELECT gr.v_at, CAST(SUM(c.c) AS BIGINT) AS cum_all
  FROM cells c JOIN grid gr ON c.v <= gr.v_at GROUP BY 1
),
ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_group FROM cells GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cells),
d AS (
  SELECT cg.g, cg.v_at,
         ABS(cg.cum_g * (nt.n_total - ng.n_group)
             - (ca.cum_all - cg.cum_g) * ng.n_group) AS d_num,
         ng.n_group, nt.n_total
  FROM cum_g cg JOIN cum_all ca USING (v_at) JOIN ng USING (g)
  CROSS JOIN nt
), r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY g ORDER BY d_num DESC, v_at ASC) AS rn
  FROM d
)
SELECT g AS "group", n_group,
       CAST(n_total - n_group AS BIGINT) AS n_rest,
       CAST(d_num AS BIGINT) AS d_num,
       CAST(v_at AS BIGINT) AS at_value,
       CAST(d_num AS DOUBLE)
         / CAST(n_group * (n_total - n_group) AS DOUBLE) AS ks_d
FROM r WHERE rn = 1 ORDER BY "group"
"""


@REGISTRY.register("ks_source_length_profiles", _KS_SOURCES_ORACLE)
def ks_source_length_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source's document-length profile deviates from the rest
    of the corpus? Exact group-vs-rest KS for every source in ONE
    pass — the curation sweep run before re-weighting a multi-source
    mix (ks_price_priority tests one designed contrast; this screens
    all |sources| of them, with the length where each gap peaks).

    n_chars is DOMAIN-bounded, so cumulatives come from a broadcast
    theta join of the distinct-length grid over the persisted
    (source, length) cell table — the roc_curve pattern, one fact
    scan, never a global window; the rest-side ECDF is derived as
    (global − group) (operators/disttests.py::ks_group_vs_rest).
    """
    from movie_rankings_spark.operators.disttests import ks_group_vs_rest

    return ks_group_vs_rest(_docs(spark, sf_dir), "source", "n_chars")


# --- r6: multinomial naive-Bayes language model (full model oracle-hashed) --

_NB_ORACLE = """
WITH b AS (
  SELECT lang AS cls, string_split(text, ' ') AS toks
  FROM documents WHERE lang IS NOT NULL
), ex AS (
  SELECT cls, unnest(toks) AS token FROM b
), cnt AS (
  SELECT cls, token, CAST(COUNT(*) AS BIGINT) AS n_wc FROM ex GROUP BY 1, 2
), docs AS (
  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs_class FROM b GROUP BY 1
), dt AS (
  SELECT CAST(SUM(n_docs_class) AS BIGINT) AS n_docs_total FROM docs
), tc AS (
  SELECT cls, CAST(SUM(n_wc) AS BIGINT) AS total_c FROM cnt GROUP BY 1
), tw AS (
  SELECT token, CAST(SUM(n_wc) AS BIGINT) AS n_w_all FROM cnt GROUP BY 1
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(n_w_all) AS BIGINT) AS total_all
  FROM tw
), grid AS (
  SELECT tc.cls, tw.token, tc.total_c, tw.n_w_all, d.n_docs_class,
         dt.n_docs_total, v.vocab_size, v.total_all,
         COALESCE(c.n_wc, 0) AS n_wc
  FROM tc JOIN docs d ON tc.cls = d.cls
  CROSS JOIN tw
  LEFT JOIN cnt c ON c.cls = tc.cls AND c.token = tw.token
  CROSS JOIN v CROSS JOIN dt
)
SELECT cls AS "class", token, n_wc,
       CAST(n_w_all - n_wc AS BIGINT) AS n_rest, total_c, vocab_size,
       n_docs_class, n_docs_total,
       (CAST(n_wc AS DOUBLE) + 1.0)
         / (CAST(total_c AS DOUBLE) + 1.0 * CAST(vocab_size AS DOUBLE))
         AS p_w_class,
       (CAST(n_w_all - n_wc AS DOUBLE) + 1.0)
         / (CAST(total_all - total_c AS DOUBLE)
            + 1.0 * CAST(vocab_size AS DOUBLE)) AS p_w_rest,
       ((CAST(n_wc AS DOUBLE) + 1.0)
         / (CAST(total_c AS DOUBLE) + 1.0 * CAST(vocab_size AS DOUBLE)))
       / ((CAST(n_w_all - n_wc AS DOUBLE) + 1.0)
         / (CAST(total_all - total_c AS DOUBLE)
            + 1.0 * CAST(vocab_size AS DOUBLE))) AS likelihood_ratio,
       CAST(n_docs_class AS DOUBLE) / CAST(n_docs_total AS DOUBLE)
         AS prior_class
FROM grid ORDER BY 1, 2
"""


@REGISTRY.register("nb_train_lang_model", _NB_ORACLE)
def nb_train_lang_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes model trained on documents with lang
    as the class: the full class x vocabulary grid of Laplace-
    smoothed conditionals, class priors, and one-vs-rest likelihood
    ratios (each class's discriminative vocabulary) — the count-based
    generative baseline beside the discriminative classifier tier
    (hashed-BoW scorer, logistic GD), and unlike those, EXACTLY
    SQL-expressible: the entire trained model hashes against the
    oracle (operators/nbayes.py::nb_train — two column-pruned fact
    scans by design, |classes|x|vocab|-bounded persisted counts)."""
    from movie_rankings_spark.operators.nbayes import nb_train

    d = _docs(spark, sf_dir)
    return nb_train(
        d,
        F.col("lang"),
        F.split(F.col("text"), " "),
    )


# --- r6: BH-FDR-corrected KS drift scan across sources ----------------------

_KS_FDR_ORACLE = """
WITH cells AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), grid AS (SELECT DISTINCT v AS v_at FROM cells),
cum_g AS (
  SELECT c.g, gr.v_at, CAST(SUM(c.c) AS BIGINT) AS cum_g
  FROM cells c JOIN grid gr ON c.v <= gr.v_at GROUP BY 1, 2
),
cum_all AS (
  SELECT gr.v_at, CAST(SUM(c.c) AS BIGINT) AS cum_all
  FROM cells c JOIN grid gr ON c.v <= gr.v_at GROUP BY 1
),
ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_group FROM cells GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cells),
d AS (
  SELECT cg.g, cg.v_at,
         ABS(cg.cum_g * (nt.n_total - ng.n_group)
             - (ca.cum_all - cg.cum_g) * ng.n_group) AS d_num,
         ng.n_group, nt.n_total
  FROM cum_g cg JOIN cum_all ca USING (v_at) JOIN ng USING (g)
  CROSS JOIN nt
), rr AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY g ORDER BY d_num DESC, v_at ASC) AS rn
  FROM d
), ks AS (
  SELECT g, n_group,
         CAST(n_total - n_group AS BIGINT) AS n_rest,
         CAST(d_num AS DOUBLE)
           / CAST(n_group * (n_total - n_group) AS DOUBLE) AS ks_d
  FROM rr WHERE rn = 1
), kgrid AS (
  SELECT CAST(r.range AS BIGINT) AS k FROM range(1, 51) r
), pv AS (
  SELECT ks.g,
    LEAST(1.0, GREATEST(0.0, 2.0 * CAST(CAST(SUM(CAST(
      (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
      * exp((-2.0 * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
            * ((ks.ks_d * ks.ks_d)
               * (CAST(ks.n_group * ks.n_rest AS DOUBLE)
                  / CAST(ks.n_group + ks.n_rest AS DOUBLE))))
      AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS DOUBLE)))
      AS p_value
  FROM ks CROSS JOIN kgrid GROUP BY ks.g, ks.ks_d, ks.n_group, ks.n_rest
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pv),
rk AS (
  SELECT l.g, l.p_value,
         CAST(COUNT(*) AS BIGINT) AS bh_rank
  FROM pv l JOIN pv r
    ON (r.p_value < l.p_value)
       OR (r.p_value = l.p_value AND r.g <= l.g)
  GROUP BY 1, 2
), raw AS (
  SELECT rk.g, rk.bh_rank,
         rk.p_value * CAST(m.m AS DOUBLE)
           / CAST(rk.bh_rank AS DOUBLE) AS raw
  FROM rk CROSS JOIN m
), runmin AS (
  SELECT i.g, i.bh_rank, MIN(j.raw) AS q
  FROM raw i JOIN raw j ON j.bh_rank >= i.bh_rank
  GROUP BY 1, 2
)
SELECT ks.g AS "group", ks.n_group, ks.ks_d, pv.p_value,
       runmin.bh_rank,
       LEAST(1.0, runmin.q) AS q_value,
       LEAST(1.0, runmin.q) <= 0.05 AS significant_05
FROM ks JOIN pv USING (g) JOIN runmin USING (g)
ORDER BY "group"
"""


@REGISTRY.register("ks_sweep_fdr_sources", _KS_FDR_ORACLE)
def ks_sweep_fdr_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable version of ks_source_length_profiles: each
    source's group-vs-rest KS statistic converted to its asymptotic
    p-value (truncated Kolmogorov series, DECIMAL-quantized terms)
    and Benjamini-Hochberg adjusted across the simultaneous tests —
    the q-values a curation pipeline thresholds when scanning many
    sources at once. One fact pass (the sweep), then bounded-grid
    algebra (operators/disttests.py::ks_sweep_bh_fdr)."""
    from movie_rankings_spark.operators.disttests import ks_sweep_bh_fdr

    docs = _docs(spark, sf_dir).filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    return ks_sweep_bh_fdr(docs, "source", "n_chars")


# --- r6: contrastive triplet mining (exact near-dup positives) ---------------

_TRIPLET_ORACLE = f"""
WITH s AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard
  FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5
), bd AS (
  SELECT doc_a AS anchor, doc_b AS partner, jaccard FROM pairs
  UNION ALL
  SELECT doc_b, doc_a, jaccard FROM pairs
), pos AS (
  SELECT anchor, partner AS positive_doc, jaccard AS jaccard_pos,
         ROW_NUMBER() OVER (PARTITION BY anchor
                            ORDER BY jaccard DESC, partner ASC) AS rn
  FROM bd
), ring AS (
  SELECT CAST(doc_id AS BIGINT) AS d,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
  FROM documents
), neg AS (
  SELECT d AS anchor,
         COALESCE(LEAD(d, 1) OVER w, FIRST_VALUE(d) OVER w2)
           AS negative_doc
  FROM ring
  WINDOW w AS (PARTITION BY b ORDER BY h, d),
         w2 AS (PARTITION BY b ORDER BY h, d
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT pos.anchor AS anchor_doc, pos.positive_doc, pos.jaccard_pos,
       neg.negative_doc
FROM pos JOIN neg USING (anchor)
WHERE pos.rn = 1
  AND neg.negative_doc != pos.anchor
  AND neg.negative_doc != pos.positive_doc
ORDER BY anchor_doc
"""


@REGISTRY.register("contrastive_triplets_docs", _TRIPLET_ORACLE)
def contrastive_triplets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets for contrastive
    fine-tuning, mined in-engine: positives from the EXACT
    prefix-filtered Jaccard join (no false negatives), negatives as
    deterministic md5-ring neighbors within 256 hash buckets (the
    bucket count is the 100 TB knob — raise it so each bucket sort
    stays executor-sized)
    (operators/dedup.py::contrastive_triplets)."""
    from movie_rankings_spark.operators.dedup import contrastive_triplets

    return contrastive_triplets(_docs(spark, sf_dir), n=3, threshold=0.5)


# --- r7: McNemar paired-rater marginal test ----------------------------------

_MCNEMAR_ORACLE = """
WITH r AS (
  SELECT CASE WHEN n_chars >= 240 THEN 1 ELSE 0 END AS a,
         CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1000
                   >= n_chars * 178 THEN 1 ELSE 0 END AS b
  FROM documents
), m AS (
  SELECT
    CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM r
)
SELECT n11, n10, n01, n00,
       CAST(n10 + n01 AS BIGINT) AS n_discordant,
       CAST(n10 - n01 AS DOUBLE) * CAST(n10 - n01 AS DOUBLE)
         / CAST(n10 + n01 AS DOUBLE) AS chi2
FROM m
"""


@REGISTRY.register("mcnemar_quality_raters", _MCNEMAR_ORACLE)
def mcnemar_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the two quality heuristics fire at DIFFERENT RATES on the
    same documents? McNemar's paired test on the discordant cells of
    the same rater pair kappa_quality_raters scores: kappa asks
    "do they agree beyond chance", McNemar asks "is one rater
    systematically stricter" — the pair of numbers a heuristic-swap
    decision needs (operators/disttests.py::mcnemar_test; same single
    map-side-combined 2x2 aggregate shape as kappa)."""
    from movie_rankings_spark.operators.disttests import mcnemar_test

    docs = _docs(spark, sf_dir)
    rater_a = (F.col("n_chars") >= F.lit(240)).cast("int")
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    rater_b = (spaces * F.lit(1000) >= F.col("n_chars") * F.lit(178)).cast(
        "int"
    )
    return mcnemar_test(docs, rater_a, rater_b)


# --- r7: winnowing fingerprints (MOSS) + n-gram novelty ----------------------

_WINNOW_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), g AS (
  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_grams,
         unnest(range(0, len(t) - 2)) AS pos, t
  FROM tk WHERE len(t) >= 3
), h AS (
  SELECT doc_id, n_grams, CAST(pos AS BIGINT) AS pos,
         CAST('0x' || substr(
             md5(array_to_string(list_slice(t, pos + 1, pos + 3), ' ')),
             1, 8) AS BIGINT) * 1048576 + CAST(pos AS BIGINT) AS key
  FROM g
), sel AS (
  SELECT doc_id, n_grams, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, n_grams, s
  FROM sel WHERE pos <= greatest(n_grams - 4, 0)
)
SELECT doc_id, n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(MIN(s) AS BIGINT) AS fp_min,
       CAST(MAX(s) AS BIGINT) AS fp_max,
       CAST(SUM(CAST(s AS HUGEINT)) % 2147483647 AS BIGINT) AS fp_checksum
FROM fps GROUP BY 1, 2 ORDER BY doc_id
"""


@REGISTRY.register("winnow_fingerprints_docs", _WINNOW_ORACLE)
def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint summaries per document — word
    3-grams, window 4, leftmost-min (h*2^20+pos bigint key) selection:
    the positional copy-detection fingerprint the MinHash/SimHash
    dedup tier doesn't give (any shared run of >= w+k-1 = 6 words
    between two docs shares a fingerprint;
    operators/winnowing.py::winnow_fingerprints)."""
    from movie_rankings_spark.operators.winnowing import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), "text", k=3, w=4).orderBy(
        "doc_id"
    )


_NOVELTY_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), g AS (
  SELECT doc_id, unnest(range(0, len(t) - 2)) AS pos, t
  FROM tk WHERE len(t) >= 3
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, pos + 1, pos + 3), ' ') AS gram
  FROM g
), cand AS (SELECT * FROM grams WHERE doc_id % 5 <> 0),
ref AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 5 = 0),
nd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_grams
  FROM cand GROUP BY 1
), novel AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM cand c ANTI JOIN ref r ON c.gram = r.gram
  GROUP BY 1
)
SELECT nd.doc_id, nd.n_distinct_grams,
       CAST(COALESCE(novel.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(COALESCE(novel.n_novel, 0) AS DOUBLE)
         / CAST(nd.n_distinct_grams AS DOUBLE) AS novelty
FROM nd LEFT JOIN novel USING (doc_id)
ORDER BY doc_id
"""


@REGISTRY.register("ngram_novelty_docs", _NOVELTY_ORACLE)
def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram novelty of every candidate document (doc_id % 5
    != 0) against the reference slice (doc_id % 5 == 0) — the
    per-document "how much of this is new text" score between the
    corpus dedup tier and the decontamination gates
    (operators/textops.py::ngram_novelty: two distinct-gram tables,
    one anti join)."""
    from movie_rankings_spark.operators.textops import ngram_novelty

    return ngram_novelty(
        _docs(spark, sf_dir), F.col("doc_id") % 5 == 0, "text", k=3
    ).orderBy("doc_id")


# --- r7: PMI collocations, Cochran's Q, NB document scoring ------------------

_PMI_ORACLE = """
WITH tk AS (
  SELECT string_split(text, ' ') AS t FROM documents
), bi AS (
  SELECT t[i + 1] || ' ' || t[i + 2] AS bigram
  FROM (SELECT t, unnest(range(0, len(t) - 1)) AS i FROM tk WHERE len(t) >= 2)
), bc AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY 1
  HAVING COUNT(*) >= 5
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1
), tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
         (SELECT CAST(SUM(len(t) - 1) AS BIGINT) FROM tk WHERE len(t) >= 2)
           AS n_bi
), scored AS (
  SELECT b.bigram, b.c12, u1.c AS c1, u2.c AS c2,
         CAST(CAST(ln(CAST(b.c12 AS DOUBLE) * CAST(t.n_uni AS DOUBLE)
                      * CAST(t.n_uni AS DOUBLE)
                      / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)
                         * CAST(t.n_bi AS DOUBLE)))
                   AS DECIMAL(18,9)) AS DOUBLE) AS pmi
  FROM bc b
  JOIN uni u1 ON u1.w = string_split(b.bigram, ' ')[1]
  JOIN uni u2 ON u2.w = string_split(b.bigram, ' ')[2]
  CROSS JOIN tot t
)
SELECT * FROM scored ORDER BY pmi DESC, bigram ASC LIMIT 25
"""


@REGISTRY.register("pmi_collocations_docs", _PMI_ORACLE)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 word-pair collocations by PMI over the corpus (min
    count 5) — phrase candidates for a tokenizer merge list / entity
    screen; counts exact, ln quantized DECIMAL(18,9), total top-k
    order (operators/textops.py::pmi_collocations)."""
    from movie_rankings_spark.operators.textops import pmi_collocations

    return pmi_collocations(
        _docs(spark, sf_dir), "text", top_k=25, min_count=5
    )


_COCHRANQ_ORACLE = """
WITH r AS (
  SELECT CASE WHEN n_chars >= 240 THEN 1 ELSE 0 END AS a,
         CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1000
                   >= n_chars * 178 THEN 1 ELSE 0 END AS b,
         CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS c
  FROM documents
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(a) AS BIGINT) AS len_rater,
         CAST(SUM(b) AS BIGINT) AS space_rater,
         CAST(SUM(c) AS BIGINT) AS token_rater,
         CAST(SUM(a + b + c) AS BIGINT) AS t_total,
         CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS sum_row_sq
  FROM r
)
SELECT n_rows, len_rater, space_rater, token_rater, t_total, sum_row_sq,
       CAST(2 * (3 * (CAST(len_rater AS HUGEINT) * len_rater
                      + CAST(space_rater AS HUGEINT) * space_rater
                      + CAST(token_rater AS HUGEINT) * token_rater)
                 - CAST(t_total AS HUGEINT) * t_total) AS DOUBLE)
         / CAST(3 * CAST(t_total AS HUGEINT)
                - CAST(sum_row_sq AS HUGEINT) AS DOUBLE) AS q_stat
FROM m
"""


@REGISTRY.register("cochranq_quality_raters", _COCHRANQ_ORACLE)
def cochranq_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE paired quality heuristics (the kappa/
    McNemar pair plus a 50-token rater): do the raters' positive
    rates differ, conditioning on per-document totals? Friedman on
    binary data, all-integer moments, one division
    (operators/disttests.py::cochran_q)."""
    from movie_rankings_spark.operators.disttests import cochran_q

    docs = _docs(spark, sf_dir)
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return cochran_q(
        docs,
        [
            (F.col("n_chars") >= F.lit(240)).cast("int"),
            (spaces * F.lit(1000) >= F.col("n_chars") * F.lit(178)).cast("int"),
            (F.size(F.split(F.col("text"), " ")) >= F.lit(50)).cast("int"),
        ],
        names=["len_rater", "space_rater", "token_rater"],
    )


_NB_SCORE_ORACLE = """
WITH b AS (
  SELECT lang AS cls, string_split(text, ' ') AS toks
  FROM documents WHERE lang IS NOT NULL
), ex AS (
  SELECT cls, unnest(toks) AS token FROM b
), cnt AS (
  SELECT cls, token, CAST(COUNT(*) AS BIGINT) AS n_wc FROM ex GROUP BY 1, 2
), docs AS (
  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs_class FROM b GROUP BY 1
), dt AS (
  SELECT CAST(SUM(n_docs_class) AS BIGINT) AS n_docs_total FROM docs
), tc AS (
  SELECT cls, CAST(SUM(n_wc) AS BIGINT) AS total_c FROM cnt GROUP BY 1
), tw AS (
  SELECT token, CAST(SUM(n_wc) AS BIGINT) AS n_w_all FROM cnt GROUP BY 1
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM tw
), cells AS (
  SELECT tc.cls, tw.token,
         CAST(ln((CAST(COALESCE(c.n_wc, 0) AS DOUBLE) + 1.0)
                 / (CAST(tc.total_c AS DOUBLE)
                    + 1.0 * CAST(v.vocab_size AS DOUBLE)))
              AS DECIMAL(18,9)) AS lp
  FROM tc CROSS JOIN tw
  LEFT JOIN cnt c ON c.cls = tc.cls AND c.token = tw.token
  CROSS JOIN v
), priors AS (
  SELECT d.cls,
         CAST(ln(CAST(d.n_docs_class AS DOUBLE)
                 / CAST(dt.n_docs_total AS DOUBLE)) AS DECIMAL(18,9))
           AS lprior
  FROM docs d CROSS JOIN dt
), dtok AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY 1, 2
), sc AS (
  SELECT d.doc_id, ce.cls,
         CAST(CAST(SUM(CAST(CAST(d.cnt AS DECIMAL(10,0)) * ce.lp
                           AS DECIMAL(38,9))) AS DECIMAL(28,9))
              + MAX(p.lprior) AS DECIMAL(28,9)) AS s,
         CAST(SUM(d.cnt) AS BIGINT) AS n_tokens
  FROM dtok d JOIN cells ce ON ce.token = d.token
  JOIN priors p ON p.cls = ce.cls
  GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, n_tokens, cls, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, cls ASC) AS rn,
         LEAD(s) OVER (PARTITION BY doc_id
                       ORDER BY s DESC, cls ASC) AS nxt
  FROM sc
)
SELECT doc_id, n_tokens, cls AS pred_class,
       CAST(s AS DOUBLE) AS best_score,
       CAST(s - nxt AS DOUBLE) AS margin
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


@REGISTRY.register("nb_score_docs", _NB_SCORE_ORACLE)
def nb_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-time naive-Bayes classification of every document under
    the nb_train_lang_model grid: argmax over exact-decimal
    log-likelihood sums (per-cell ln quantized DECIMAL(18,9) on the
    bounded vocab x classes grid, then pure decimal arithmetic), with
    the best-vs-runner-up margin — the distributed JOIN that applies
    the trained model (operators/nbayes.py::nb_score)."""
    from movie_rankings_spark.operators.nbayes import nb_score, nb_train

    docs = _docs(spark, sf_dir)
    model = nb_train(
        docs, F.col("lang"), F.split(F.col("text"), " ")
    )
    return nb_score(
        docs, F.col("doc_id"), F.split(F.col("text"), " "), model
    ).orderBy("doc_id")


# --- r7: RAKE keyphrases ------------------------------------------------------

_RAKE_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), raw AS (
  SELECT doc_id, unnest(t) AS w,
         CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
  FROM tk
), pos AS (
  SELECT doc_id, w, pos,
         (w IN ('a','the','and','of','to','in','is') OR w = '') AS is_stop
  FROM raw
), segs AS (
  SELECT doc_id, w, pos,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS seg,
         is_stop
  FROM pos
), cand AS (
  SELECT doc_id, seg, pos, w,
         COUNT(*) OVER (PARTITION BY doc_id, seg) AS plen
  FROM segs WHERE NOT is_stop
), ws AS (
  SELECT w,
         CAST(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              AS DECIMAL(18,9)) AS ws
  FROM cand GROUP BY w
), phr AS (
  SELECT c.doc_id, c.seg,
         string_agg(c.w, ' ' ORDER BY c.pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         SUM(CAST(ws.ws AS DECIMAL(28,9))) AS score_d
  FROM cand c JOIN ws ON ws.w = c.w
  GROUP BY 1, 2
)
SELECT phrase, CAST(MAX(n_words) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score_d) AS DOUBLE) AS score
FROM phr GROUP BY phrase
ORDER BY score DESC, phrase ASC LIMIT 20
"""


@REGISTRY.register("rake_keyphrases_docs", _RAKE_ORACLE)
def rake_keyphrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 RAKE keyphrases over the corpus — maximal stopword-free
    token runs scored by summed word degree/frequency ratios: the
    two-aggregate unsupervised keyword tier next to the graph-based
    textrank_keywords (operators/textops.py::rake_keyphrases; word
    scores quantized DECIMAL(18,9), phrase sums exact decimal, total
    top-k order)."""
    from movie_rankings_spark.operators.textops import rake_keyphrases

    return rake_keyphrases(_docs(spark, sf_dir), "text", lang="en", top_k=20)


# --- r7: Fleiss' kappa multi-rater agreement ----------------------------------

_FLEISS_ORACLE = """
WITH r AS (
  SELECT CASE WHEN n_chars >= 240 THEN 1 ELSE 0 END AS a,
         CASE WHEN (length(text) - length(replace(text, ' ', ''))) * 1000
                   >= n_chars * 178 THEN 1 ELSE 0 END AS b,
         CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS c
  FROM documents
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM((a + b + c) * (a + b + c)
                  + (3 - a - b - c) * (3 - a - b - c)) AS BIGINT) AS sum_sq,
         CAST(SUM(a + b + c) AS BIGINT) AS c1
  FROM r
), pe AS (
  SELECT CAST(SUM(CAST(
           (CAST(c AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
           * (CAST(c AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
         AS DECIMAL(18,12))) AS DOUBLE) AS p_e,
         CAST(SUM(cat * c) AS BIGINT) AS cat_checksum
  FROM (SELECT 1 AS cat, c1 AS c, n_items FROM m
        UNION ALL
        SELECT 0 AS cat, 3 * n_items - c1 AS c, n_items FROM m)
)
SELECT m.n_items, CAST(3 AS BIGINT) AS n_raters, m.sum_sq,
       (CAST(m.sum_sq AS DOUBLE) - CAST(m.n_items AS DOUBLE) * 3.0)
         / (CAST(m.n_items AS DOUBLE) * 3.0 * 2.0) AS p_bar,
       pe.p_e,
       ((CAST(m.sum_sq AS DOUBLE) - CAST(m.n_items AS DOUBLE) * 3.0)
          / (CAST(m.n_items AS DOUBLE) * 3.0 * 2.0) - pe.p_e)
         / (1.0 - pe.p_e) AS kappa,
       pe.cat_checksum
FROM m CROSS JOIN pe
"""


@REGISTRY.register("fleiss_quality_raters", _FLEISS_ORACLE)
def fleiss_quality_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across the SAME three quality heuristics
    cochranq_quality_raters tests: Cochran-Q asks "do their positive
    RATES differ", Fleiss asks "how far beyond chance do all three
    AGREE per document" — together the go/no-go readout on swapping
    one heuristic for another. Agreement numerator as the exact
    count of concordant rater pairs — pure codegen, no category
    domain materialized (operators/disttests.py::fleiss_kappa)."""
    from movie_rankings_spark.operators.disttests import fleiss_kappa

    docs = _docs(spark, sf_dir)
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return fleiss_kappa(
        docs,
        [
            (F.col("n_chars") >= F.lit(240)).cast("int"),
            (spaces * F.lit(1000) >= F.col("n_chars") * F.lit(178)).cast(
                "int"
            ),
            (F.size(F.split(F.col("text"), " ")) >= F.lit(50)).cast("int"),
        ],
    )


# --- r7: per-node local clustering coefficient --------------------------------

_LCC_ORACLE = """
WITH baskets AS (
  SELECT list_distinct(list(l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
), ok AS (
  SELECT parts FROM baskets WHERE len(parts) BETWEEN 2 AND 30
), pairs AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM ok, LATERAL unnest(parts) AS a(p), LATERAL unnest(parts) AS b(p)
  WHERE a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
  GROUP BY node
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
), tn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node
)
SELECT d.node, d.d AS degree,
       CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_triangles,
       2.0 * CAST(COALESCE(tn.t, 0) AS DOUBLE)
         / (CAST(d.d AS DOUBLE) * (CAST(d.d AS DOUBLE) - 1.0)) AS lcc
FROM deg d LEFT JOIN tn USING (node)
WHERE d.d >= 2
ORDER BY node
"""


@REGISTRY.register("local_clustering_copurchase", _LCC_ORACLE)
def local_clustering_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient on the co-purchase
    graph — which items sit inside tight co-purchase communities vs
    bridge across them; the node-level refinement of
    triangles_copurchase' one global number, same degree-ordered
    O(m^1.5) orientation, oracle = independent naive 3-way join
    (operators/triangles.py::local_clustering)."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import copurchase_edges
    from movie_rankings_spark.operators.triangles import (
        local_clustering,
        undirected_edges,
    )

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return local_clustering(undirected_edges(edges))


# --- r7: readability + token diversity per source -----------------------------

_READABILITY_ORACLE = """
WITH r AS (
  SELECT source AS g,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
              AS BIGINT) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS y
  FROM documents WHERE source IS NOT NULL
), q AS (
  SELECT g, w,
         CAST(206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
              - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
              AS DECIMAL(18,9)) AS fre_q
  FROM r WHERE w > 0
)
SELECT g AS "group", CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_words,
       CAST(CAST(SUM(fre_q) AS DECIMAL(38,9)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_fre,
       MIN(CAST(fre_q AS DOUBLE)) AS min_fre,
       MAX(CAST(fre_q AS DOUBLE)) AS max_fre
FROM q GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("readability_flesch_sources", _READABILITY_ORACLE)
def readability_flesch_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source (vowel-group syllable
    proxy) — the prose-complexity lens of the quality tier: which
    sources contribute hard text, next to the length/stopword
    ratios that only say how MUCH text
    (operators/textops.py::readability_by_group)."""
    from movie_rankings_spark.operators.textops import readability_by_group

    return readability_by_group(
        _docs(spark, sf_dir), F.col("source"), F.col("text")
    )


_SIMPSON_ORACLE = """
WITH ex AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE source IS NOT NULL
), cells AS (
  SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM ex WHERE tok != '' GROUP BY 1, 2
), per AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS rich,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS coll,
         CAST(SUM(CAST(CAST(c AS DECIMAL(19,0))
                  * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000000.0)
                         AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS s_cln
  FROM cells GROUP BY 1
), f AS (
  SELECT g, n, rich, coll,
         CAST(CAST(n AS DECIMAL(19,0))
              * CAST(round(ln(CAST(n AS DOUBLE)) * 1000000000.0) AS BIGINT)
              AS DECIMAL(38,0)) - s_cln AS h_num,
         CAST(round(ln(CAST(rich AS DOUBLE)) * 1000000000.0) AS BIGINT)
           AS lnq_rich
  FROM per
)
SELECT g AS "group", n AS n_tokens, rich AS richness,
       CAST(coll AS DOUBLE)
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS simpson_d,
       1.0 / (CAST(coll AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         AS inv_simpson,
       CAST(h_num AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)
         AS shannon_h,
       CAST(h_num AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(lnq_rich AS DOUBLE)) AS evenness
FROM f ORDER BY 1
"""


@REGISTRY.register("simpson_diversity_sources", _SIMPSON_ORACLE)
def simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token diversity per source: exact-integer Simpson index,
    inverse Simpson (effective vocabulary), q9 fixed-point Shannon
    entropy and Pielou evenness — the per-source concentration
    readout next to the corpus-global Zipf/Heaps laws; a collapsing
    inverse-Simpson flags boilerplate sources
    (operators/textops.py::simpson_diversity_by_group)."""
    from movie_rankings_spark.operators.textops import (
        simpson_diversity_by_group,
    )

    return simpson_diversity_by_group(
        _docs(spark, sf_dir), F.col("source"), F.col("text")
    )


# --- r7: query-likelihood retrieval, RBO ranker agreement, Burrows' Delta -----

_QL_BODY = """
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
  WHERE tok IN ('scan', 'table', 'filter') GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
), corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks),
cf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM toks
  WHERE tok IN ('scan', 'table', 'filter') GROUP BY 1
), cands AS (SELECT DISTINCT doc_id FROM tf),
grid AS (
  SELECT c.doc_id, w.tok, CAST(COALESCE(t.tf, 0) AS BIGINT) AS tf,
         d.dl, w.cf, n.n_tokens
  FROM cands c
  JOIN dl d USING (doc_id)
  CROSS JOIN cf w CROSS JOIN corpus n
  LEFT JOIN tf t ON t.doc_id = c.doc_id AND t.tok = w.tok
), sc AS (
  SELECT doc_id, tf,
         CAST(ln((CAST(tf AS DOUBLE)
                  + 200.0 * (CAST(cf AS DOUBLE) / CAST(n_tokens AS DOUBLE)))
                 / (CAST(dl AS DOUBLE) + 200.0)) AS DECIMAL(18,9)) AS logp
  FROM grid
), ql_top AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_terms_matched,
         CAST(SUM(logp) AS DOUBLE) AS score
  FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10
)
"""

_QL_ORACLE = "WITH " + _QL_BODY + """
SELECT doc_id, n_terms_matched, score FROM ql_top
ORDER BY score DESC, doc_id
"""


@REGISTRY.register("retrieval_ql_dirichlet", _QL_ORACLE)
def retrieval_ql_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for the same bag-of-terms query
    search_bm25_topk ranks, under Dirichlet-smoothed query
    likelihood (mu = 200) — the language-model ranker whose length
    handling differs most from BM25's; every query term contributes
    smoothing mass to every candidate
    (operators/search.py::ql_dirichlet_topk)."""
    from movie_rankings_spark.operators.search import ql_dirichlet_topk

    return ql_dirichlet_topk(
        _docs(spark, sf_dir, fanout=True), ["scan", "table", "filter"], k=10, mu=200.0
    )


def _rbo_weight_literal(x: float) -> str:
    s = repr(x)
    return s if "e" in s else s + "e0"


_BM25_RANK_BODY = """
btoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), btf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM btoks
  WHERE tok IN ('scan', 'table', 'filter') GROUP BY 1, 2
), bdl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), bcorpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM bdl
), bdft AS (SELECT tok, COUNT(*) AS df FROM btf GROUP BY 1),
bw AS (
  SELECT tok,
         CAST(floor(CAST(n_docs * 1000 AS DOUBLE) / CAST(df AS DOUBLE))
              AS BIGINT) AS idf_q,
         avgdl
  FROM bdft CROSS JOIN bcorpus
), bs AS (
  SELECT btf.doc_id,
         CAST(CAST(bw.idf_q AS DOUBLE)
              * (CAST(btf.tf AS DOUBLE) * 2.2)
              / (CAST(btf.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(bdl.dl AS DOUBLE) / bw.avgdl))
              AS DECIMAL(18,6)) AS term_score
  FROM btf JOIN bw USING (tok) JOIN bdl USING (doc_id)
), bm_top AS (
  SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
  FROM bs GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
)
"""

_RBO_ORACLE = (
    "WITH "
    + _BM25_RANK_BODY
    + ", "
    + _QL_BODY.strip()
    + """,
ra AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS rank
  FROM bm_top
), rb AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS rank
  FROM ql_top
), shared AS (
  SELECT greatest(ra.rank, rb.rank) AS m FROM ra JOIN rb USING (doc_id)
), wt(depth, weight) AS (VALUES
"""
    + ",\n".join(
        f"  ({d}, {_rbo_weight_literal(0.9 ** (d - 1))})"
        for d in range(1, 11)
    )
    + """
), counted AS (
  SELECT w.depth,
         CAST(COUNT(s.m) AS BIGINT) AS x_d,
         MIN(w.weight) AS weight
  FROM wt w LEFT JOIN shared s ON s.m <= w.depth
  GROUP BY 1
), terms AS (
  SELECT depth, x_d,
         CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE) AS agreement,
         CAST(weight * (CAST(x_d AS DOUBLE) / CAST(depth AS DOUBLE))
              AS DECIMAL(18,12)) AS term_q
  FROM counted
), rbo AS (
  SELECT 0.09999999999999998e0
         * CAST(CAST(SUM(term_q) AS DECIMAL(28,12)) AS DOUBLE) AS rbo
  FROM terms
)
SELECT t.depth, t.x_d, t.agreement, CAST(t.term_q AS DOUBLE) AS term,
       r.rbo
FROM terms t CROSS JOIN rbo r
ORDER BY t.depth
"""
)


@REGISTRY.register("rbo_bm25_vs_ql", _RBO_ORACLE)
def rbo_bm25_vs_ql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do the BM25 and query-likelihood rankers agree on the
    same query? Rank-biased overlap (p = 0.9, truncated at 10) over
    the two top-10 lists — the ranking-A/B meta-metric, weighted
    toward the top ranks (operators/search.py::rbo_topk)."""
    from pyspark.sql import Window

    from movie_rankings_spark.operators.search import (
        bm25_topk,
        ql_dirichlet_topk,
        rbo_topk,
    )

    docs = _docs(spark, sf_dir)
    terms = ["scan", "table", "filter"]
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    rank_a = bm25_topk(docs, terms, k=10).select(
        "doc_id", F.row_number().over(w).alias("rank")
    )
    rank_b = ql_dirichlet_topk(docs, terms, k=10, mu=200.0).select(
        "doc_id", F.row_number().over(w).alias("rank")
    )
    return rbo_topk(rank_a, rank_b, p=0.9, k=10)


_BURROWS_ORACLE = """
WITH ex AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE source IS NOT NULL
), cells AS (
  SELECT g, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM ex WHERE w != '' GROUP BY 1, 2
), vocab AS (
  SELECT w FROM (
    SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM cells GROUP BY 1
  ) ORDER BY cw DESC, w ASC LIMIT 30
), totals AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY 1
), grid AS (
  SELECT t.g, v.w,
         CAST(CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(t.n_g AS DOUBLE)
              AS DECIMAL(18,12)) AS fq
  FROM totals t CROSS JOIN vocab v
  LEFT JOIN cells c ON c.g = t.g AND c.w = v.w
), mom AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(fq) AS DECIMAL(28,12)) AS sf,
         CAST(SUM(CAST(fq * fq AS DECIMAL(38,24))) AS DECIMAL(38,24)) AS sff
  FROM grid GROUP BY 1
), z AS (
  SELECT g.g, g.w,
         (CAST(g.fq AS DOUBLE)
          - CAST(m.sf AS DOUBLE) / CAST(m.k AS DOUBLE))
         / sqrt((CAST(m.k AS DOUBLE)
                 * CAST(CAST(m.sff AS VARCHAR) AS DOUBLE)
                 - CAST(m.sf AS DOUBLE) * CAST(m.sf AS DOUBLE))
                / (CAST(m.k AS DOUBLE) * (CAST(m.k AS DOUBLE) - 1.0))) AS z
  FROM grid g JOIN mom m USING (w)
)
SELECT a.g AS group_a, b.g AS group_b,
       CAST(COUNT(CAST(abs(a.z - b.z) AS DECIMAL(18,9))) AS BIGINT)
         AS n_words,
       CAST(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(18,9)))
                 AS DECIMAL(28,9)) AS DOUBLE)
         / CAST(COUNT(CAST(abs(a.z - b.z) AS DECIMAL(18,9))) AS DOUBLE)
         AS delta
FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("burrows_delta_sources", _BURROWS_ORACLE)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair
    — z-scored top-30-word frequency profiles, mean |Δz|: the
    authorship/provenance fingerprint matrix (near-zero pairs may
    share a generator) next to the vocabulary-overlap views
    (operators/textops.py::burrows_delta)."""
    from movie_rankings_spark.operators.textops import burrows_delta

    return burrows_delta(
        _docs(spark, sf_dir), F.col("source"), F.col("text"), top_n_words=30
    )


# --- r7: Good-Turing, Kneser-Ney LM, nDCG -------------------------------------

_GT_ORACLE = """
WITH tk AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
), counts AS (
  SELECT array_to_string(list_slice(ts, i.i, i.i + 2), ' ') AS tok,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM tk, LATERAL unnest(range(1, len(ts) - 1)) AS i(i)
  WHERE len(ts) >= 3
  GROUP BY 1
), coc AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM counts GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_r) AS BIGINT) AS n_types,
         CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
  FROM coc
)
SELECT c.r, c.n_r,
       CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_r_plus_1,
       CAST(c.r + 1 AS DOUBLE) * CAST(COALESCE(nx.n_r, 0) AS DOUBLE)
         / CAST(c.n_r AS DOUBLE) AS r_star,
       t.n_types, t.n_tokens,
       CAST(t.n1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS p_unseen
FROM coc c LEFT JOIN coc nx ON nx.r = c.r + 1 CROSS JOIN tot t
WHERE c.r <= 10 ORDER BY c.r
"""


@REGISTRY.register("good_turing_vocab", _GT_ORACLE)
def good_turing_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies over the corpus
    vocabulary: adjusted counts r* and the unseen-mass estimate
    N1/N — the probability the next token is a NEW type, the
    coverage number a tokenizer/vocab decision reads next to the
    Heaps-law curve. Analyzed over word 3-GRAM types (the unigram
    vocabulary of this corpus is saturated — no rare types — and the
    n-gram space is where the singleton tail lives at any corpus
    size). Pure exact-integer ratios
    (operators/textops.py::good_turing_vocab)."""
    from movie_rankings_spark.operators.textops import good_turing_vocab

    return good_turing_vocab(
        _docs(spark, sf_dir), F.col("text"), max_r=10, ngram=3
    )


_KN_ORACLE = """
WITH tk AS (
  SELECT source AS g, string_split(text, ' ') AS ts
  FROM documents WHERE source IS NOT NULL
), bg AS (
  SELECT g, ts[i.i] AS v, ts[i.i + 1] AS w
  FROM tk, LATERAL unnest(range(1, len(ts))) AS i(i)
  WHERE len(ts) >= 2
), bgg AS (
  SELECT g, v, w, CAST(COUNT(*) AS BIGINT) AS cgvw FROM bg GROUP BY 1, 2, 3
), bc AS (
  SELECT v, w, CAST(SUM(cgvw) AS BIGINT) AS cvw FROM bgg GROUP BY 1, 2
), ctx AS (
  SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv,
         CAST(COUNT(*) AS BIGINT) AS n1p_v
  FROM bc GROUP BY 1
), cont AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM bc GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1p_all FROM bc),
model AS (
  SELECT b.v, b.w,
         CAST(round(ln(
           greatest(CAST(b.cvw AS DOUBLE) - 0.75, 0.0)
             / CAST(c.cv AS DOUBLE)
           + 0.75 * CAST(c.n1p_v AS DOUBLE) / CAST(c.cv AS DOUBLE)
             * (CAST(k.n1p_w AS DOUBLE) / CAST(t.n1p_all AS DOUBLE))
         ) * 1000000000.0) AS BIGINT) AS lq
  FROM bc b JOIN ctx c USING (v) JOIN cont k USING (w) CROSS JOIN tot t
), per AS (
  SELECT g, CAST(SUM(cgvw) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(b.cgvw AS HUGEINT) * m.lq) AS HUGEINT) AS slq
  FROM bgg b JOIN model m USING (v, w) GROUP BY 1
)
SELECT g AS "group", n_bigrams, CAST(slq AS BIGINT) AS sum_logp_q9,
       CAST(slq AS DOUBLE)
         / (CAST(n_bigrams AS DOUBLE) * 1000000000.0) AS mean_logp,
       CAST(CAST(exp(-(CAST(slq AS DOUBLE)
                       / (CAST(n_bigrams AS DOUBLE) * 1000000000.0)))
                 AS DECIMAL(18,6)) AS DOUBLE) AS perplexity
FROM per ORDER BY 1
"""


@REGISTRY.register("kneser_ney_source_scores", _KN_ORACLE)
def kneser_ney_source_scores_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source fluency leaderboard under an interpolated
    Kneser-Ney bigram LM (D = 0.75) trained on the whole corpus —
    the discounting upgrade of the add-k bigram scorer: continuation
    probability rewards words seen in many CONTEXTS, not just often
    (operators/textops.py::kneser_ney_source_scores)."""
    from movie_rankings_spark.operators.textops import (
        kneser_ney_source_scores,
    )

    return kneser_ney_source_scores(
        _docs(spark, sf_dir), F.col("source"), F.col("text"), discount=0.75
    )


def _ndcg_disc_literal(x: float) -> str:
    s = repr(x)
    return s if "e" in s else s + "e0"


_NDCG_ORACLE = (
    "WITH "
    + _QL_BODY.strip()
    + """,
ranked AS (
  SELECT doc_id, n_terms_matched AS gain,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS rank
  FROM ql_top
), disc(rank, d) AS (VALUES
"""
    + ",\n".join(
        f"  ({r}, {_ndcg_disc_literal(1.0 / __import__('math').log2(r + 1))})"
        for r in range(1, 11)
    )
    + """
), terms AS (
  SELECT r.rank, r.doc_id, CAST(r.gain AS BIGINT) AS gain,
         CAST(CAST(r.gain AS DOUBLE) * w.d AS DECIMAL(18,12)) AS term_q
  FROM ranked r JOIN disc w USING (rank)
), ideal AS (
  SELECT CAST(gain AS BIGINT) AS gain,
         CAST(ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id ASC)
              AS INTEGER) AS irank
  FROM ranked
), dcg AS (
  SELECT CAST(CAST(SUM(term_q) AS DECIMAL(28,12)) AS DOUBLE) AS dcg
  FROM terms
), idcg AS (
  SELECT CAST(CAST(SUM(CAST(CAST(i.gain AS DOUBLE) * w.d
                            AS DECIMAL(18,12))) AS DECIMAL(28,12))
              AS DOUBLE) AS idcg
  FROM ideal i JOIN disc w ON w.rank = i.irank
)
SELECT t.rank, t.doc_id, t.gain, CAST(t.term_q AS DOUBLE) AS dcg_term,
       d.dcg, g.idcg, d.dcg / g.idcg AS ndcg
FROM terms t CROSS JOIN dcg d CROSS JOIN idcg g
ORDER BY t.rank
"""
)


@REGISTRY.register("ndcg_ql_ranking", _NDCG_ORACLE)
def ndcg_ql_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the query-likelihood ranking with term-coverage
    gains — the graded-relevance evaluation next to rbo_bm25_vs_ql's
    rank agreement; log2 discounts are Python literals in both
    engines (operators/search.py::ndcg_at_k)."""
    from pyspark.sql import Window

    from movie_rankings_spark.operators.search import (
        ndcg_at_k,
        ql_dirichlet_topk,
    )

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranking = ql_dirichlet_topk(
        _docs(spark, sf_dir), ["scan", "table", "filter"], k=10, mu=200.0
    ).select(
        "doc_id",
        F.col("n_terms_matched").alias("gain"),
        F.row_number().over(w).alias("rank"),
    )
    return ndcg_at_k(ranking, k=10)


# --- r7: HITS, Matryoshka prefix recall, inter-event CV^2 ---------------------


def _hits_oracle(n_iter: int = 4, top_k: int = 15) -> str:
    """Unrolled DuckDB twin of the q15-quantized HITS recurrence
    (the _pagerank_oracle convention: exact integer mass sums,
    VARCHAR-mediated int128→double casts, identical IEEE shapes)."""
    parts = [
        """WITH e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), srcs AS MATERIALIZED (SELECT DISTINCT src FROM e),
ns AS (SELECT COUNT(*) AS n FROM srcs),
h0 AS MATERIALIZED (
  SELECT src, CAST(1.0 AS DOUBLE) / (SELECT n FROM ns) AS h FROM srcs
)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
am{k} AS MATERIALIZED (
  SELECT e.dst,
         CAST(SUM(CAST(round(h{k - 1}.h * 1e15) AS BIGINT)) AS HUGEINT)
           AS mass
  FROM e JOIN h{k - 1} USING (src) GROUP BY e.dst
),
at{k} AS (SELECT CAST(SUM(mass) AS HUGEINT) AS tot FROM am{k}),
a{k} AS MATERIALIZED (
  SELECT dst, CAST(CAST(mass AS VARCHAR) AS DOUBLE)
              / CAST(CAST(t.tot AS VARCHAR) AS DOUBLE) AS a
  FROM am{k} CROSS JOIN at{k} t
),
hm{k} AS MATERIALIZED (
  SELECT e.src,
         CAST(SUM(CAST(round(a{k}.a * 1e15) AS BIGINT)) AS HUGEINT) AS mass
  FROM e JOIN a{k} USING (dst) GROUP BY e.src
),
ht{k} AS (SELECT CAST(SUM(mass) AS HUGEINT) AS tot FROM hm{k}),
h{k} AS MATERIALIZED (
  SELECT src, CAST(CAST(mass AS VARCHAR) AS DOUBLE)
              / CAST(CAST(t.tot AS VARCHAR) AS DOUBLE) AS h
  FROM hm{k} CROSS JOIN ht{k} t
)"""
        )
    parts.append(
        f""",
ranked AS (
  SELECT 'authority' AS role, dst AS node, a AS score FROM a{n_iter}
  UNION ALL
  SELECT 'hub', src, h FROM h{n_iter}
)
SELECT role, node, score, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY role ORDER BY score DESC, node ASC) AS rn
  FROM ranked
) WHERE rn <= {top_k}
ORDER BY role, rank"""
    )
    return "".join(parts)


@REGISTRY.register("hits_purchase_graph", _hits_oracle())
def hits_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the directed customer→part
    purchase bipartite graph: hub customers buy broadly across
    authoritative parts — the mutually-recursive centrality
    PageRank's single score can't separate. Four L1-normalized power
    iterations, q15 exact-integer mass sums, oracle = unrolled
    identical recurrence (operators/pagerank.py::hits_bipartite)."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import hits_bipartite

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return hits_bipartite(edges, n_iter=4, top_k=15)


_MATRYOSHKA_ORACLE = f"""
WITH e32 AS (
  SELECT vec_id, embedding, list_slice(embedding, 1, 32) AS emb
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb,
         list_slice(embedding, 1, 32) AS q32
  FROM embeddings WHERE vec_id < 8
), fp AS (
  SELECT q.query_id, e.vec_id,
         {_COSINE_SQL.format(a='q.q_emb', b='e.embedding')} AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
), ft AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM fp
  ) WHERE rn <= 5
), pp AS (
  SELECT q.query_id, e.vec_id,
         {_COSINE_SQL.format(a='q.q32', b='e.emb')} AS cosine
  FROM e32 e CROSS JOIN q WHERE e.vec_id <> q.query_id
), pt AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM pp
  ) WHERE rn <= 5
), ov AS (
  SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM ft f JOIN pt p ON f.query_id = p.query_id AND f.vec_id = p.vec_id
  GROUP BY 1
), per AS (
  SELECT d.query_id, CAST(5 AS INTEGER) AS k,
         CAST(32 AS INTEGER) AS prefix_dim,
         CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / 5.0 AS recall
  FROM (SELECT DISTINCT query_id FROM ft) d LEFT JOIN ov USING (query_id)
), mn AS (
  SELECT CAST(SUM(n_overlap) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 5.0) AS mean_recall
  FROM per
)
SELECT p.query_id, p.k, p.prefix_dim, p.n_overlap, p.recall, m.mean_recall
FROM per p CROSS JOIN mn m
ORDER BY p.query_id
"""


@REGISTRY.register("matryoshka_prefix_recall", _MATRYOSHKA_ORACLE)
def matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Can the embedding column be served at HALF the dimensions?
    Exact cosine top-5 under the full 64-dim vectors vs the first 32
    dims, recall@5 per query + corpus mean — the Matryoshka
    truncation audit an index-cost decision reads
    (operators/similarity.py::prefix_dim_recall)."""
    from movie_rankings_spark.operators.similarity import prefix_dim_recall

    emb = load_table(spark, sf_dir, "embeddings")
    return prefix_dim_recall(
        emb, query_ids=list(range(8)), k=5, prefix_dim=32
    )


_INTEREVENT_ORACLE = """
WITH g AS (
  SELECT user_id AS k,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), gg AS (
  SELECT k, CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL
), m AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(gap AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS ss
  FROM gg GROUP BY 1 HAVING COUNT(*) >= 9
), st AS (
  SELECT k AS key, n_gaps,
         (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) / 1000000.0
           AS mean_gap_s,
         (CAST(CAST(n_gaps * ss - s * s AS VARCHAR) AS DOUBLE)
           / (CAST(n_gaps AS DOUBLE) * (CAST(n_gaps AS DOUBLE) - 1.0)))
         / ((CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))) AS cv2
  FROM m
)
SELECT key, n_gaps, mean_gap_s, cv2
FROM st ORDER BY cv2 DESC, key ASC LIMIT 20
"""


@REGISTRY.register("interevent_cv_users", _INTEREVENT_ORACLE)
def interevent_cv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by CV² of their inter-event times — bursty in
    TIME (sessions, retries, bots) vs metronomic, the time-domain
    twin of fano_burstiness_users' daily-count readout; exact
    microsecond gaps, one partitioned lag window
    (operators/timeseries.py::interevent_cv)."""
    from movie_rankings_spark.operators.timeseries import interevent_cv

    return interevent_cv(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "ts",
        min_events=10,
        top_k=20,
    )


_RICHNESS_ORACLE = """
WITH tk AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
), counts AS (
  SELECT array_to_string(list_slice(ts, i.i, i.i + 2), ' ') AS tok,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM tk, LATERAL unnest(range(1, len(ts) - 1)) AS i(i)
  WHERE len(ts) >= 3
  GROUP BY 1
), coc AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM counts GROUP BY 1
), m AS (
  SELECT CAST(SUM(n_r) AS BIGINT) AS s_obs,
         CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN r = 2 THEN n_r ELSE 0 END) AS BIGINT) AS n2
  FROM coc
)
SELECT n_tokens, s_obs, n1, n2,
       CASE WHEN n2 > 0
            THEN CAST(s_obs AS DOUBLE)
                 + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                   / (2.0 * CAST(n2 AS DOUBLE))
            ELSE CAST(s_obs AS DOUBLE)
                 + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0) / 2.0
       END AS chao1,
       CAST(s_obs AS DOUBLE)
         + CAST(n1 AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)
           / CAST(n_tokens AS DOUBLE) AS jackknife1,
       1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage
FROM m
"""


@REGISTRY.register("richness_vocab_estimators", _RICHNESS_ORACLE)
def richness_vocab_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary HASN'T this corpus seen? Chao1 and
    first-order-jackknife lower bounds on the true word-3-gram type
    count, plus Good's sample coverage — the cardinality companions
    to good_turing_vocab's unseen probability MASS, over the same
    count-of-counts reduction
    (operators/textops.py::richness_estimators)."""
    from movie_rankings_spark.operators.textops import richness_estimators

    return richness_estimators(_docs(spark, sf_dir), F.col("text"), ngram=3)


# --- r8: tokenizer fairness across languages ---------------------------------

_TOKFAIR_ORACLE = r"""
WITH t AS (
  SELECT lang,
         strlen(text) AS n_bytes,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS n_bpe
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_bpe) AS BIGINT) AS total_tokens,
       CAST(SUM(n_bytes) AS DOUBLE) / CAST(SUM(n_bpe) AS DOUBLE)
         AS bytes_per_token,
       CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
         AS fertility
FROM t GROUP BY lang ORDER BY lang
"""


@REGISTRY.register("tokenizer_fairness_langs", _TOKFAIR_ORACLE)
def tokenizer_fairness_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fairness audit across languages (r8): bytes-per-token
    and fertility (subword tokens per whitespace word) per lang under
    the BPE-ish regex tokenizer (functions/text.py::bpe_token_count) —
    the compression-equity readout an LLM data pipeline checks before
    fixing a token budget: languages with high bytes-per-token get
    fewer effective characters per context window, and fertility ≫1
    flags scripts the tokenizer fragments. Pure codegen'd expressions
    (regexp_count + octet/char length), one partial aggregate on the
    |langs|-row key — no shuffle beyond the groupBy, no UDF. Every
    count is integer-exact; the two ratios are single IEEE divisions
    of exact longs."""
    from movie_rankings_spark.functions.text import bpe_token_count

    d = _docs(spark, sf_dir).select(
        "lang",
        F.octet_length("text").alias("n_bytes"),
        F.length("text").alias("n_chars"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("n_words"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_bpe").cast("long").alias("total_tokens"),
            (
                F.sum("n_bytes").cast("double")
                / F.sum("n_bpe").cast("double")
            ).alias("bytes_per_token"),
            (
                F.sum("n_bpe").cast("double")
                / F.sum("n_words").cast("double")
            ).alias("fertility"),
        )
        .orderBy("lang")
    )
