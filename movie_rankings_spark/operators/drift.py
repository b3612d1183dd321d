"""Distribution-drift monitoring: Jensen-Shannon divergence between
the train and validation token distributions.

The check a training pipeline runs after every split/ingest: "does
val still look like train?" A drifting JS (or a drifting per-source
run of this report) catches ingest bugs, contamination of one split,
and topic shift before they show up as eval noise.

Estimate: add-one-smoothed unigram distributions over the SHARED
vocabulary, JS(p,q) = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2 —
symmetric, bounded by ln 2, zero iff identical.

Scale shape: the corpus is reduced ONCE — one conditional-aggregate
groupBy(word) produces both sides' counts (no second scan, no join of
two count tables); totals are a 1-row broadcast. Per-word math is
closed-form doubles from exact integer counts. The ln terms are
rounded to DECIMAL(18,9) and the per-word contribution to
DECIMAL(28,15) before the global sum (the bigram-LM convention), so
the reduction is order-independent and the one-row report value-hash
matches DuckDB.

The split rule is hash_split_summary's md5-byte bucket (test 0-12,
val 13-25, train rest) — test is held out of the comparison.

Reference scope: north-star [EXT] observability tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import words


def js_token_drift(docs: DataFrame) -> DataFrame:
    """One-row report: n_train_tokens, n_val_tokens, vocab_size,
    js_divergence."""
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10
    ).cast("int")
    side = (
        F.when(b < 13, F.lit(None).cast("string"))
        .when(b < 26, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    toks = (
        docs.select(side.alias("side"), F.explode(words(F.col("text"))).alias("word"))
        .filter(F.col("side").isNotNull())
    )
    # persisted: the totals scalar and the per-word join both read it,
    # and exchange reuse does not unify the two aggregate branches —
    # without the cache the corpus would be scanned twice. Vocab-sized.
    counts = toks.groupBy("word").agg(
        F.sum(F.when(F.col("side") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("side") == "val", 1).otherwise(0)).alias("cv"),
    ).persist_tracked()
    totals = counts.agg(
        F.sum("ct").alias("nt"),
        F.sum("cv").alias("nv"),
        F.count(F.lit(1)).alias("v"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    p = (F.col("ct") + 1).cast("double") / (F.col("nt") + F.col("v")).cast("double")
    q = (F.col("cv") + 1).cast("double") / (F.col("nv") + F.col("v")).cast("double")
    m = (p + q) / 2.0
    logp = F.log(p / m).cast("decimal(18,9)").cast("double")
    logq = F.log(q / m).cast("decimal(18,9)").cast("double")
    contrib = (p * logp * 0.5 + q * logq * 0.5).cast("decimal(28,15)")
    return j.select("nt", "nv", "v", contrib.alias("c")).groupBy().agg(
        F.first("nt").alias("n_train_tokens"),
        F.first("nv").alias("n_val_tokens"),
        F.first("v").cast("long").alias("vocab_size"),
        F.sum("c").cast("double").alias("js_divergence"),
    )


def psi_feature_drift(
    docs: DataFrame, value_col: str, width: int = 64, n_bins: int = 10
) -> DataFrame:
    """Population Stability Index of a numeric feature between the
    train and val splits — the industry-standard drift score read at
    model-monitoring gates (PSI < 0.1 stable, 0.1–0.25 watch, > 0.25
    act), complementing js_token_drift's vocabulary-level view with a
    per-FEATURE one: PSI = Σ_bins (p_i − q_i)·ln(p_i / q_i).

    Bins are FIXED width (floor(value/width), clamped to [0,
    n_bins−1] on BOTH ends so negative feature values land in bin 0
    instead of silently vanishing from p/q) so the binning is
    engine-portable; a static n_bins-row frame left-
    joins the observed counts so empty bins participate (add-one
    smoothing keeps their log finite). Split rule = the md5-byte
    bucket shared with js_token_drift (test held out).

    Scale: one conditional-aggregate fact scan produces both sides'
    counts per bin (≤ n_bins rows); totals re-aggregate the bounded
    frame. ln quantized to DECIMAL(18,9), contribution to
    DECIMAL(28,15) (the module convention) ⇒ per-bin value-hash
    exact.

    Output: n_bins rows — bin, train_n, val_n, p_train, p_val,
    psi_contrib (sum over rows = the PSI).
    """
    spark = docs.sparkSession
    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10
    ).cast("int")
    side = (
        F.when(b < 13, F.lit(None).cast("string"))
        .when(b < 26, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    binc = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.col(value_col).cast("long") / F.lit(width)).cast(
                "int"
            ),
        ),
    )
    obs = (
        docs.select(side.alias("side"), binc.alias("bin"))
        .filter(F.col("side").isNotNull())
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("side") == "train", 1).otherwise(0))
            .cast("long")
            .alias("ct"),
            F.sum(F.when(F.col("side") == "val", 1).otherwise(0))
            .cast("long")
            .alias("cv"),
        )
    )
    frame = local_frame(spark, [(i,) for i in range(n_bins)], "bin int")
    filled = (
        frame.join(obs, "bin", "left")
        .select(
            "bin",
            F.coalesce("ct", F.lit(0)).cast("long").alias("train_n"),
            F.coalesce("cv", F.lit(0)).cast("long").alias("val_n"),
        )
        .persist_tracked()  # totals branch + output branch, n_bins rows
    )
    totals = filled.agg(
        F.sum("train_n").cast("long").alias("nt"),
        F.sum("val_n").cast("long").alias("nv"),
    )
    j = filled.crossJoin(F.broadcast(totals))
    p = (F.col("train_n") + 1).cast("double") / (
        F.col("nt") + F.lit(n_bins)
    ).cast("double")
    q = (F.col("val_n") + 1).cast("double") / (
        F.col("nv") + F.lit(n_bins)
    ).cast("double")
    lg = F.log(p / q).cast("decimal(18,9)").cast("double")
    return j.select(
        "bin",
        "train_n",
        "val_n",
        p.alias("p_train"),
        q.alias("p_val"),
        ((p - q) * lg).cast("decimal(28,15)").cast("double").alias(
            "psi_contrib"
        ),
    ).orderBy("bin")


def psi_bins(filled: DataFrame, n_bins: int) -> DataFrame:
    """PSI arithmetic over a prepared (bin, ref_n, live_n) count table
    (all n_bins rows present, counts exact longs): add-one smoothing,
    quantized-log DECIMAL convention — shared by the batch
    psi_feature_drift and the streaming monitor so both report the
    identical engine-portable numbers.

    Output: bin, ref_n, live_n, p_ref, p_live, psi_contrib."""
    filled = filled.persist_tracked()  # totals + output branches
    totals = filled.agg(
        F.sum("ref_n").cast("long").alias("nr"),
        F.sum("live_n").cast("long").alias("nl"),
    )
    j = filled.crossJoin(F.broadcast(totals))
    p = (F.col("ref_n") + 1).cast("double") / (
        F.col("nr") + F.lit(n_bins)
    ).cast("double")
    q = (F.col("live_n") + 1).cast("double") / (
        F.col("nl") + F.lit(n_bins)
    ).cast("double")
    lg = F.log(p / q).cast("decimal(18,9)").cast("double")
    return j.select(
        "bin",
        "ref_n",
        "live_n",
        p.alias("p_ref"),
        q.alias("p_live"),
        ((p - q) * lg).cast("decimal(28,15)").cast("double").alias(
            "psi_contrib"
        ),
    ).orderBy("bin")


def hellinger_drift(
    df: DataFrame, value_col: Column, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Hellinger distance + Bhattacharyya coefficient between two
    groups' distributions of a DOMAIN-BOUNDED integral value — the
    third drift lens next to js_token_drift (KL-family, unbounded
    sensitivity to zeros) and psi_feature_drift (binned, industry
    convention): Hellinger is a true bounded METRIC (0 identical,
    1 disjoint), BC = Σ√(p_v·q_v) its overlap complement.

    Contract: value domain bounded (quantities, ratings — the
    benford convention), so the cell table is broadcast-size. ONE
    fact reduction to per-(value) conditional counts; each cell's
    √(p·q) is the shared double expression of exact integers
    quantized DECIMAL(18,9), the sum exact decimal, and
    H = √(1 − BC) one final shared op.

    Output: ONE row — n_a, n_b, n_values, bc_coeff, hellinger."""
    cells = (
        df.select(
            value_col.cast("long").alias("v"),
            a_ind.cast("int").alias("_a"),
            b_ind.cast("int").alias("_b"),
        )
        .filter(
            F.col("v").isNotNull() & ((F.col("_a") + F.col("_b")) > 0)
        )
        .groupBy("v")
        .agg(
            F.sum("_a").cast("long").alias("ca"),
            F.sum("_b").cast("long").alias("cb"),
        )
        .persist_tracked()  # totals + the BC sum read this
    )
    tot = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    terms = cells.crossJoin(F.broadcast(tot)).select(
        F.sqrt(
            (F.col("ca").cast("double") / F.col("n_a").cast("double"))
            * (F.col("cb").cast("double") / F.col("n_b").cast("double"))
        )
        .cast("decimal(18,9)")
        .alias("t")
    )
    bc = terms.agg(F.sum("t").cast("double").alias("bc_coeff"))
    return (
        tot.crossJoin(F.broadcast(bc))
        .select(
            "n_a",
            "n_b",
            "n_values",
            "bc_coeff",
            F.sqrt(F.greatest(F.lit(1.0) - F.col("bc_coeff"), F.lit(0.0))).alias(
                "hellinger"
            ),
        )
    )
