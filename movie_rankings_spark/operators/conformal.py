"""Split-conformal prediction intervals over a grouped point predictor.

Reference parity: no uncertainty surface exists in the reference
(top_movies.py); this closes the inference tier's loop from the model
side: A15's classifier scores and D7's regression weights come with no
finite-sample guarantee, while split conformal (Vovk et al. 2005;
Lei et al. 2018) wraps ANY predictor in intervals with distribution-
free ≥ 1−α coverage — the per-prediction error bar a serving layer
attaches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_conformal_group_median(
    df: DataFrame,
    key_col: Column,
    group_col: Column,
    target_cents: Column,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal intervals around a per-group lower-median
    predictor, with a held-out coverage audit:

      1. hash-split rows 8/4/4 into train / calibration / test by the
         first hex char of md5(key) — deterministic, engine-identical;
      2. TRAIN the predictor: the lower median (⌈n/2⌉-th smallest
         target) per group — an integer, so every nonconformity score
         |y − pred| stays an exact long;
      3. CALIBRATE: q̂ = the k-th smallest calibration score with
         k = ⌈(1−α)(n_calib+1)⌉ (exact integer arithmetic, the
         finite-sample-corrected conformal quantile); [pred±q̂] then
         covers a fresh row with probability ≥ 1−α, distribution-free;
      4. EVALUATE: the share of test rows inside their interval.

    Shape: THREE column-pruned fact scans by design — one per split
    role, exactly how a production pipeline touches train/calib/test
    materializations. The training median runs over the persisted
    (group, value) cell table with a per-GROUP window (domain-bounded,
    the A83 cell convention); the conformal quantile reuses
    weighted_quantiles' prefix-scan cumulative on the persisted
    calibration score cells (never a SinglePartition window); k and
    n_calib are exact driver-side integers from a bounded collect
    (offset-table convention). Requires n_calib ≥ k (i.e. roughly
    n_calib ≥ 1/α − 1); tiny calibration splits raise.

    Exactness: predictor, scores, k, and q̂ are exact longs; coverage
    is one correctly-rounded division ⇒ value-hash exact.

    Output: one row per group — group, n_train, pred_cents, n_calib,
    conf_k, q_hat, n_test, n_covered, coverage — ordered by group.
    """
    from movie_rankings_spark.operators.statistics import (
        weighted_quantiles,
    )

    h = F.substring(F.md5(key_col.cast("string")), 1, 1)
    base = df.select(
        group_col.alias("g"),
        target_cents.cast("long").alias("y"),
        F.when(h <= "7", F.lit("train"))
        .when(h <= "b", F.lit("calib"))
        .otherwise(F.lit("test"))
        .alias("sp"),
    ).filter(F.col("g").isNotNull() & F.col("y").isNotNull())

    cells = (
        base.filter(F.col("sp") == "train")
        .groupBy("g", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist_tracked()  # per-g totals + median window read this
    )
    ng = cells.groupBy("g").agg(F.sum("n").cast("long").alias("n_train"))
    w = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    med = (
        cells.withColumn("_cum", F.sum("n").over(w))
        .join(F.broadcast(ng), "g")
        .filter(
            F.col("_cum")
            >= F.floor((F.col("n_train") + 1) / F.lit(2)).cast("long")
        )
        .groupBy("g", "n_train")
        .agg(F.min("y").cast("long").alias("pred_cents"))
    )

    sc_cells = (
        base.filter(F.col("sp") == "calib")
        .join(F.broadcast(med.select("g", "pred_cents")), "g")
        .select(F.abs(F.col("y") - F.col("pred_cents")).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist_tracked()  # n_calib scalar + quantile pass read this
    )
    n_calib = sc_cells.agg(F.sum("n")).collect()[0][0] or 0
    cov_num = alpha_den - alpha_num  # (1 - alpha) as a fraction
    k = (cov_num * (n_calib + 1) + alpha_den - 1) // alpha_den
    if n_calib < k:
        raise ValueError(
            f"calibration split too small: n_calib={n_calib} < k={k}"
        )
    qh = weighted_quantiles(
        sc_cells,
        F.col("s"),
        F.col("n"),
        quantiles=((int(k), int(n_calib)),),
    ).select(F.col("value").alias("q_hat"))

    test = base.filter(F.col("sp") == "test").join(
        F.broadcast(med), "g"
    )
    return (
        test.crossJoin(F.broadcast(qh))
        .groupBy("g", "n_train", "pred_cents", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("pred_cents"))
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            F.col("g").alias("group"),
            "n_train",
            "pred_cents",
            F.lit(int(n_calib)).cast("long").alias("n_calib"),
            F.lit(int(k)).cast("long").alias("conf_k"),
            "q_hat",
            "n_test",
            "n_covered",
            (
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
        .orderBy("group")
    )
