"""Full-text ranked retrieval: BM25 scoring over an inverted index.

The search-engine counterpart of the TF-IDF cosine operator
(operators/tfidf.py): Okapi BM25 with the Lucene-style saturation —
per (doc, term):

    idf_q(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

where idf_q is the same integer-quantized document-frequency weight
the TF-IDF operator uses (floor(N * quant / df) — engine-portable, no
ln), dl is the document length in tokens and avgdl the exact corpus
mean (decimal sum / count).

Exactness contract: every per-term score is a chain of IEEE
correctly-rounded ops on identical inputs (integer tf/dl/idf_q,
double avgdl), ROUNDED TO DECIMAL(18,6) before the per-doc sum — so
the total is order-independent and value-hash identical to the SQL
oracle, the same trick as position-based attribution's credit shares.

Scale: the term filter lands directly above the token explode, so
only postings of the |query| terms survive the first aggregate (the
inverted-index slice, not the full index); document lengths come from
a second column-pruned scan (re-scan beats caching a corpus-sized
exploded frame — the plan lint's documented trade). df and avgdl are
|terms|-row / 1-row broadcasts; the final top-k is
TakeOrderedAndProject.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.functions.text import words


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf_quant: int = 1000,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    Output: (doc_id, n_terms_matched, score), score descending with
    doc_id tie-break."""
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("tok"))
    tf = (
        toks.filter(F.col("tok").isin(list(terms)))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    dl = docs.select(
        "doc_id", F.size(words(F.col("text"))).alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )

    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf_q = F.floor(
        (F.col("n_docs") * idf_quant).cast("double") / F.col("df").cast("double")
    ).cast("long")
    weights = df_t.crossJoin(F.broadcast(corpus)).select(
        "tok", idf_q.alias("idf_q"), "avgdl"
    )

    tf_part = (F.col("tf").cast("double") * (k1 + 1)) / (
        F.col("tf").cast("double")
        + k1
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    term_score = (F.col("idf_q").cast("double") * tf_part).cast(
        "decimal(18,6)"
    )
    return (
        tf.join(F.broadcast(weights), "tok")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum(term_score).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def ql_dirichlet_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    mu: float = 200.0,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing — the
    language-model ranker next to bm25_topk's probabilistic-IR
    scoring: score(d) = Σ_{t∈q} ln((c(t,d) + μ·p(t|C))/(dl + μ)).
    BM25 and QL disagree most on document-length handling, which is
    exactly what rbo_topk is registered to measure.

    Every query term contributes to every CANDIDATE document (docs
    matching ≥ 1 term), including zero-count terms — the smoothing
    mass is the point — via a candidates × |q| dense grid (broadcast
    term stats, left-joined tf). Scale: the term filter sits on the
    token explode (postings slice, never the full index); corpus
    stats are |q|-row / 1-row broadcasts.

    Exactness: counts/lengths exact; each per-term log-probability is
    ONE shared IEEE ln quantized DECIMAL(18,9) (the ln rule) before
    the exact per-doc decimal sum; ranking ties break on doc_id.
    Output: (doc_id, n_terms_matched, score), score DESCENDING
    (log-likelihoods are negative; closer to zero = better)."""
    toks = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("tok")
    )
    tf = (
        toks.filter(F.col("tok").isin(list(terms)))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist_tracked()  # candidates + the grid read this
    )
    dl = docs.select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("dl")
    )
    # ONE vocabulary reduce serves both the corpus-size scalar and the
    # query-term collection frequencies (bounded by |vocab|, never
    # rows) — one fewer corpus scan than aggregating them separately
    vocab_counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist_tracked()
    )
    corpus = vocab_counts.agg(
        F.sum("cnt").cast("long").alias("n_tokens")
    )
    cf = (
        vocab_counts.filter(F.col("tok").isin(list(terms)))
        .select("tok", F.col("cnt").alias("cf"))
        .crossJoin(F.broadcast(corpus))
    )
    cands = tf.select("doc_id").distinct()
    grid = (
        cands.join(dl, "doc_id")
        .crossJoin(F.broadcast(cf.select("tok", "cf", "n_tokens")))
        .join(tf, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "tok",
            F.coalesce(F.col("tf"), F.lit(0)).cast("long").alias("tf"),
            "dl",
            "cf",
            "n_tokens",
        )
    )
    p_c = F.col("cf").cast("double") / F.col("n_tokens").cast("double")
    logp = F.log(
        (F.col("tf").cast("double") + F.lit(float(mu)) * p_c)
        / (F.col("dl").cast("double") + F.lit(float(mu)))
    ).cast("decimal(18,9)")
    return (
        grid.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("tf") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_terms_matched"),
            F.sum(logp).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rbo_topk(
    rank_a: DataFrame,
    rank_b: DataFrame,
    p: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010), truncated at depth
    k: RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·|A_d ∩ B_d|/d — HOW MUCH two
    rankers agree, weighted toward the top — the meta-evaluation
    number a ranking A/B (BM25 vs QL, old index vs new) reports.
    Truncated form, no residual extrapolation (documented; both
    engines compute the identical finite sum).

    Inputs: two (doc_id, rank) tables with ranks 1..k. A shared doc
    enters every depth d ≥ max(rank_a, rank_b), so X_d is ONE
    cumulative count over the bounded depth grid. Every p^{d−1} is a
    PYTHON literal injected into engine and oracle; each depth term
    p^{d−1}·X_d/d is quantized DECIMAL(18,12) before the exact sum.

    Output: one row per depth — depth, x_d (overlap), agreement
    (X_d/d), term — plus the shared rbo, ordered by depth."""
    both = (
        rank_a.select(F.col("doc_id"), F.col("rank").alias("ra"))
        .join(
            rank_b.select(F.col("doc_id"), F.col("rank").alias("rb")),
            "doc_id",
        )
        .select(F.greatest("ra", "rb").alias("m"))
    )
    weights = F.array(
        *[F.lit(float(p) ** (d - 1)) for d in range(1, k + 1)]
    )
    grid = rank_a.select(
        F.col("rank").cast("int").alias("depth")
    ).withColumn("weight", F.element_at(weights, F.col("depth")))
    counted = (
        grid.join(F.broadcast(both), F.col("m") <= F.col("depth"), "left")
        .groupBy("depth")
        .agg(
            F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("x_d"),
            F.first("weight").alias("weight"),
        )
    )
    depth = counted.select(
        "depth",
        "x_d",
        (F.col("x_d").cast("double") / F.col("depth").cast("double")).alias(
            "agreement"
        ),
        (
            F.col("weight")
            * (F.col("x_d").cast("double") / F.col("depth").cast("double"))
        )
        .cast("decimal(18,12)")
        .alias("term_q"),
    ).persist_tracked()  # the rbo scalar and the output read this
    rbo = depth.agg(
        (
            F.lit(1.0 - float(p))
            * F.sum("term_q").cast("decimal(28,12)").cast("double")
        ).alias("rbo")
    )
    return (
        depth.crossJoin(F.broadcast(rbo))
        .select(
            "depth",
            "x_d",
            "agreement",
            F.col("term_q").cast("double").alias("term"),
            "rbo",
        )
        .orderBy("depth")
    )


def ndcg_at_k(ranking: DataFrame, k: int = 10) -> DataFrame:
    """Normalized discounted cumulative gain over a (doc_id, rank,
    gain) ranking — the graded-relevance evaluation next to
    rbo_topk's rank agreement: DCG@k = Σ gain_d/log₂(d+1), divided
    by the ideal ordering's IDCG. Gains come from the caller (term
    coverage, clicks, labels).

    Every log₂(d+1) discount for d = 1..k is a PYTHON literal
    injected into engine and oracle (never engine libm); the ideal
    ordering re-ranks the SAME k gains descending (a k-row window);
    DCG/IDCG terms are quantized DECIMAL(18,12) before exact sums,
    and nDCG is one division. Output: one row per rank — rank,
    doc_id, gain, dcg_term — plus the shared dcg, idcg, ndcg —
    ordered by rank."""
    import math

    from pyspark.sql import Window

    discounts = F.array(
        *[F.lit(1.0 / math.log2(d + 1)) for d in range(1, k + 1)]
    )
    base = ranking.select(
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        F.col("gain").cast("long").alias("gain"),
    ).withColumn("disc", F.element_at(discounts, F.col("rank")))
    w_ideal = Window.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
    ideal = base.select(
        "gain", F.row_number().over(w_ideal).alias("irank")
    ).withColumn("disc", F.element_at(discounts, F.col("irank")))
    terms = base.select(
        "rank",
        "doc_id",
        "gain",
        (F.col("gain").cast("double") * F.col("disc"))
        .cast("decimal(18,12)")
        .alias("term_q"),
    ).persist_tracked()  # the dcg scalar and the output read this
    dcg = terms.agg(
        F.sum("term_q").cast("decimal(28,12)").cast("double").alias("dcg")
    )
    idcg = ideal.select(
        (F.col("gain").cast("double") * F.col("disc"))
        .cast("decimal(18,12)")
        .alias("t")
    ).agg(F.sum("t").cast("decimal(28,12)").cast("double").alias("idcg"))
    return (
        terms.crossJoin(F.broadcast(dcg))
        .crossJoin(F.broadcast(idcg))
        .select(
            "rank",
            "doc_id",
            "gain",
            F.col("term_q").cast("double").alias("dcg_term"),
            "dcg",
            "idcg",
            F.try_divide(F.col("dcg"), F.col("idcg")).alias("ndcg"),
        )
        .orderBy("rank")
    )
