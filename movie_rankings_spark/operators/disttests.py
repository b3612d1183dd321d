"""Nonparametric two-sample distribution tests — exact Kolmogorov–
Smirnov and Mann–Whitney U — plus a Benford first-digit audit: the
"did this distribution shift?" toolkit a pipeline runs when a
metric's SHAPE (not just its mean) matters: comparing document-length
profiles across sources, price distributions across order classes,
or screening a numeric column for fabricated values.

Why these, next to the existing drift/anomaly family:
- drift_train_val_js (operators/drift.py) compares BINNED histograms
  — resolution is the bin width. KS is the exact, binning-free
  supremum distance between the two empirical CDFs, with the value
  where the gap peaks (the actionable part: WHERE the shapes split).
- The t-test assumes normality; Mann–Whitney is the standard
  rank-based alternative ("do A's values stochastically dominate
  B's?") and its rank-biserial effect size is the number reported
  next to the p-value.
- Benford's law flags fabricated or truncated numeric columns before
  they poison features: organic multiplicative data has first digit
  d with probability log10(1 + 1/d); uniform or hand-entered data
  does not.

Exactness contract (the gini/quantile_rank_map conventions):
- both tests reduce the fact to the DISTINCT-VALUE count table with
  per-group tallies (one map-side-combined shuffle);
- exact cumulative counts over that table come from the bucketed
  two-pass (per-bucket windows + driver-prefix-summed offsets at
  `statistics.quantile_rank_map`) — never an Exchange
  SinglePartition window and never a value-domain theta join (the
  roc_curve pattern is for DOMAIN-bounded values; price-like columns
  have ~N distinct values and would make that join quadratic);
- every statistic numerator is an exact BIGINT (KS distance as
  max|cumA·nB − cumB·nA|; U doubled so midrank ties stay integral);
  the final ks_d / rank-biserial / z are single IEEE expressions of
  those integers, written identically in the oracle.
- documented bound: exact as long as n_a·n_b < 2^62 (per-test pair
  count fits a BIGINT) — beyond that the sums must move to
  DECIMAL(38,0), which halves throughput and is not needed below
  ~2·10^9 rows per side.

The reference's statistical surface is sum and mean
(`top_movies.py:140,143`); this extends the §2 A8/A43 family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def _bucketed_cum2(
    df: DataFrame,
    value_col: str,
    a_ind: Column,
    b_ind: Column,
    buckets: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Distinct-value table (v, ca, cb, cum_a, cum_b) with EXACT
    inclusive cumulative per-group counts over v ascending, without a
    global sort: approx_percentile bounds place values into contiguous
    buckets (placement is heuristic, every count below is exact),
    per-bucket windows run in parallel, and a ≤ buckets-row collect
    prefix-sums the per-bucket/per-group offsets on the driver —
    quantile_rank_map's two-pass, carried for two groups at once.

    NULL values of value_col are EXCLUDED (they have no place on the
    real line, and NULLS FIRST in the per-bucket window would
    otherwise count them as a distinct smallest value) — the same
    contract spearman_rho and ks_group_vs_rest already enforce.

    Returns (cum_df, n_a, n_b); the totals are driver-known (they
    fall out of the offsets collect) so callers embed them as
    literals instead of re-aggregating.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(int(n), 4096))

    rows = df.select(
        F.col(value_col).cast("long").alias("v"),
        a_ind.cast("long").alias("_a"),
        b_ind.cast("long").alias("_b"),
    ).filter(((F.col("_a") + F.col("_b")) > 0) & F.col("v").isNotNull())
    # the ONLY fact-sized pass: materialized into the persisted
    # distinct-value table; bounds/totals/final all read the cache
    vc = (
        rows.groupBy("v")
        .agg(
            F.sum("_a").cast("long").alias("ca"),
            F.sum("_b").cast("long").alias("cb"),
        )
        .persist_tracked()
    )
    if n > 1:
        # unweighted percentiles of the distinct values: the per-bucket
        # windows run over vc ROWS, so balancing |V| per bucket (not row
        # mass) is the right load balance — and it reads the cache, not
        # the fact. Placement is heuristic; every count below is exact.
        bounds = vc.agg(
            F.percentile_approx(
                "v", F.lit([i / n for i in range(1, n)]), F.lit(10_000)
            ).alias("b")
        ).collect()[0]["b"]
    else:
        bounds = []
    bounds = sorted(set(bounds or []))
    bucket = (
        F.size(F.filter(F.lit(bounds), lambda b: F.col("v") > b))
        if bounds
        else F.lit(0)
    )
    vb = vc.withColumn("_bucket", bucket)
    totals = {
        r["_bucket"]: (r["ta"], r["tb"])
        for r in vb.groupBy("_bucket")
        .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
        .collect()
    }
    offsets, run_a, run_b = [], 0, 0
    for b in range(len(bounds) + 1):
        offsets.append((b, run_a, run_b))
        ta, tb = totals.get(b, (0, 0))
        run_a += ta
        run_b += tb
    off = local_frame(
        spark,
        offsets, "_bucket int, _off_a long, _off_b long"
    )
    w = Window.partitionBy("_bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        vb.withColumn("_ra", F.sum("ca").over(w))
        .withColumn("_rb", F.sum("cb").over(w))
        .join(F.broadcast(off), "_bucket")
        .select(
            "v",
            "ca",
            "cb",
            (F.col("_off_a") + F.col("_ra")).cast("long").alias("cum_a"),
            (F.col("_off_b") + F.col("_rb")).cast("long").alias("cum_b"),
        )
    )
    return cum, int(run_a), int(run_b)


def ks_two_sample(
    df: DataFrame, value_col: str, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance.

    Output: ONE row — n_a, n_b, d_num = max_v |cumA(v)·n_b −
    cumB(v)·n_a| (exact BIGINT), at_value (the SMALLEST v attaining
    the max — deterministic tie-break), ks_d = d_num/(n_a·n_b) (one
    IEEE division of exact integers).

    The supremum over the step ECDFs is attained at a jump, i.e. at
    an observed distinct value, so scanning the distinct-value table
    is exhaustive. One fact-sized shuffle (the distinct-value
    groupBy); everything after runs on |V| rows.
    """
    cum, n_a, n_b = _bucketed_cum2(df, value_col, a_ind, b_ind)
    d_num = F.abs(
        F.col("cum_a") * F.lit(n_b) - F.col("cum_b") * F.lit(n_a)
    ).cast("long")
    m = cum.agg(
        F.max(
            F.struct(d_num.alias("d_num"), (-F.col("v")).alias("_nv"))
        ).alias("_m")
    )
    denom = float(n_a) * float(n_b)
    return m.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.col("_m.d_num").alias("d_num"),
        (-F.col("_m._nv")).cast("long").alias("at_value"),
        (F.col("_m.d_num").cast("double") / F.lit(denom)).alias("ks_d"),
    )


def mannwhitney_u(
    df: DataFrame, value_col: str, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Exact Mann–Whitney U with midrank tie handling, rank-biserial
    effect size, and the tie-corrected normal z approximation.

    U_A counts pairs (a, b) with a > b, ties ½ each. Doubling keeps
    it integral: u_a_x2 = Σ_v ca(v)·(2·cumltB(v) + cb(v)) — every
    term an exact product of counts; u_b_x2 = 2·n_a·n_b − u_a_x2.
    rank_biserial = (u_a_x2 − n_a·n_b)/(n_a·n_b) and
    z = (u_a_x2 − n_a·n_b) / (2·sqrt(var)), with the tie-corrected
    var = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))) — the tie sum is
    an exact BIGINT; var/z are IEEE expressions of exact integers
    written identically in the oracle.

    Output: ONE row — n_a, n_b, u_a_x2, u_b_x2, tie_term,
    rank_biserial, z. Same single-shuffle shape as ks_two_sample.
    """
    cum, n_a, n_b = _bucketed_cum2(df, value_col, a_ind, b_ind)
    term = F.col("ca") * (
        F.lit(2) * (F.col("cum_b") - F.col("cb")) + F.col("cb")
    )
    t = F.col("ca") + F.col("cb")
    m = cum.agg(
        F.sum(term).cast("long").alias("u_a_x2"),
        F.sum(t * t * t - t).cast("long").alias("tie_term"),
    )
    prod = float(n_a) * float(n_b)
    n = n_a + n_b
    ties = F.col("tie_term").cast("double") / F.lit(
        float(n) * float(n - 1)
    )
    var = F.lit(prod / 12.0) * (F.lit(float(n + 1)) - ties)
    centered = F.col("u_a_x2").cast("double") - F.lit(prod)
    return m.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        "u_a_x2",
        (F.lit(2 * n_a * n_b) - F.col("u_a_x2")).cast("long").alias(
            "u_b_x2"
        ),
        "tie_term",
        (centered / F.lit(prod)).alias("rank_biserial"),
        (centered / (F.lit(2.0) * F.sqrt(var))).alias("z"),
    )


#: Benford expectations log10(1 + 1/d), frozen to full double
#: precision so the Spark plan and the oracle SQL share the SAME
#: literal (neither engine's log10 is consulted at query time).
BENFORD_EXPECTED = {
    1: 0.30102999566398120,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_first_digit(df: DataFrame, cents_col: Column) -> DataFrame:
    """First-significant-digit audit against Benford's law over a
    positive integral column (prices in cents keep the first
    significant digit of the price itself).

    Output: 9 rows (digit 1–9, missing digits kept at 0) — digit,
    observed, total, share, expected, dev = share − expected.
    The expected shares are injected as frozen literals
    (BENFORD_EXPECTED) into BOTH engines, so share/dev are IEEE
    expressions of exact integers and shared constants — value-hash
    exact. One map-side-combined shuffle to ≤ 9 cells.
    """
    spark = df.sparkSession
    obs = (
        df.select(cents_col.cast("long").alias("_c"))
        .filter(F.col("_c") > 0)
        .groupBy(
            F.substring(F.col("_c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    frame = local_frame(
        spark,
        [(d, e) for d, e in BENFORD_EXPECTED.items()],
        "digit int, expected double",
    )
    filled = (
        frame.join(obs, "digit", "left")
        .withColumn("observed", F.coalesce("observed", F.lit(0)).cast("long"))
        .persist_tracked()  # total branch + output branch over 9 rows
    )
    total = filled.agg(F.sum("observed").cast("long").alias("total"))
    share = F.col("observed").cast("double") / F.col("total").cast("double")
    return (
        filled.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "observed",
            "total",
            share.alias("share"),
            "expected",
            (share - F.col("expected")).alias("dev"),
        )
        .orderBy("digit")
    )


def spearman_rho(df: DataFrame, col_a: Column, col_b: Column) -> DataFrame:
    """Exact Spearman rank correlation between two integral columns —
    Pearson correlation of the midrank vectors, the monotone-
    association screen that survives outliers and nonlinearity (the
    rank sibling of statistics.py's Pearson `corr_price_quantity`).

    Shape: the fact reduces ONCE to the distinct-(a, b) pair table
    (map-side combined, persisted); per-variable midranks come from
    the same bucketed-cumulative machinery as ks_two_sample over that
    cached table (never a global-sort window); rank maps equi-join
    back onto the pair table.

    Exactness: midranks are doubled to stay integral (r2 = 2·cumlt +
    c + 1); the three rank moments are exact DECIMAL(38,0) sums
    (every operand ≤ 2n, so Σ c·r2·r2 ≤ 4n³ — exact for n < ~2·10^12);
    Σ c·r2 ≡ n(n+1) is an identity, so the centered numerator/
    denominators are exact integer DIFFERENCES (no catastrophic
    cancellation in floating point — the naive double expansion loses
    every digit of a weak correlation at n ~ 10^6), and rho is one
    IEEE expression of those exact integers, mirrored verbatim in the
    oracle (DuckDB computes the same integers in HUGEINT).

    Output: ONE row — n_rows, rho.
    """
    pairs = (
        df.select(
            col_a.cast("long").alias("va"), col_b.cast("long").alias("vb")
        )
        .filter(F.col("va").isNotNull() & F.col("vb").isNotNull())
        .groupBy("va", "vb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # rank passes + join read this, not the fact
    )
    cum_a, n, _ = _bucketed_cum2(pairs, "va", F.col("c"), F.lit(0))
    cum_b, _, _ = _bucketed_cum2(pairs, "vb", F.col("c"), F.lit(0))
    ranka = cum_a.select(
        F.col("v").alias("va"),
        (F.lit(2) * F.col("cum_a") - F.col("ca") + F.lit(1))
        .cast("long")
        .alias("r2a"),
    )
    rankb = cum_b.select(
        F.col("v").alias("vb"),
        (F.lit(2) * F.col("cum_a") - F.col("ca") + F.lit(1))
        .cast("long")
        .alias("r2b"),
    )

    def d19(c: Column) -> Column:
        return c.cast("decimal(19,0)")

    j = pairs.join(ranka, "va").join(rankb, "vb")
    m = j.agg(
        F.sum(d19(F.col("c")) * d19(F.col("r2a")) * d19(F.col("r2b"))).alias(
            "sab"
        ),
        F.sum(d19(F.col("c")) * d19(F.col("r2a")) * d19(F.col("r2a"))).alias(
            "saa"
        ),
        F.sum(d19(F.col("c")) * d19(F.col("r2b")) * d19(F.col("r2b"))).alias(
            "sbb"
        ),
    )
    nd = F.lit(n).cast("decimal(19,0)")
    # Σ doubled midranks over all rows is n(n+1) exactly — the
    # driver-known n makes Sa = Sb a literal instead of a fourth sum
    sa = nd * F.lit(n + 1).cast("decimal(19,0)")
    num = nd * F.col("sab") - sa * sa
    den_a = nd * F.col("saa") - sa * sa
    den_b = nd * F.col("sbb") - sa * sa
    # try_divide: a zero-variance column (every value tied) makes the
    # denominator 0 — DuckDB's x/0.0 is NULL, and try_divide mirrors
    # that exactly where ANSI `/` would raise
    rho = F.try_divide(
        num.cast("double"),
        F.sqrt(den_a.cast("double")) * F.sqrt(den_b.cast("double")),
    )
    return m.select(
        F.lit(n).cast("long").alias("n_rows"), rho.alias("rho")
    )


def ks_group_vs_rest(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group two-sample KS against the REST of the corpus, for
    every group at once — "which source's length profile deviates?",
    the curation sweep run before re-weighting a multi-source mix
    (ks_two_sample answers one designed contrast; this screens all
    |groups| of them in one pass).

    Contract: value_col is integral and DOMAIN-bounded (document
    lengths, ages, star ratings — not price-like ~N-distinct columns;
    those belong to ks_two_sample's bucketed machinery). The fact
    reduces ONCE to the (group, value) cell table (~|groups|·|domain|
    rows, persisted); cumulatives come from a broadcast theta join of
    the bounded distinct-value grid (the roc_curve pattern — never a
    global window), and the rest-side ECDF is derived as
    (global − group), so no second pass exists anywhere.

    Exactness: D numerator per group is the exact BIGINT
    max |cum_g·n_rest − cum_rest·n_g| with the smallest attaining
    value as the deterministic tie-break (bound n_g·n_rest < 2^62);
    ks_d is one IEEE division.

    Output: (group, n_group, n_rest, d_num, at_value, ks_d), ordered
    by group.
    """
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # grid + totals + both cum sides read this
    )
    grid = cells.select("v").distinct().select(F.col("v").alias("v_at"))
    # inclusive cumulative per group at EVERY grid value (a group's
    # ECDF must be evaluated at other groups' jump points too)
    cum_g = (
        cells.join(F.broadcast(grid), F.col("v") <= F.col("v_at"))
        .groupBy("g", "v_at")
        .agg(F.sum("c").cast("long").alias("cum_g"))
    )
    cum_all = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .join(F.broadcast(grid), F.col("v") <= F.col("v_at"))
        .groupBy("v_at")
        .agg(F.sum("cv").cast("long").alias("cum_all"))
    )
    n_g = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n_group"))
    n_all = cells.agg(F.sum("c").cast("long").alias("n_total"))
    j = (
        cum_g.join(F.broadcast(cum_all), "v_at")
        .join(F.broadcast(n_g), "g")
        .crossJoin(F.broadcast(n_all))
    )
    n_rest = F.col("n_total") - F.col("n_group")
    d = F.abs(
        F.col("cum_g") * n_rest
        - (F.col("cum_all") - F.col("cum_g")) * F.col("n_group")
    ).cast("long")
    picked = j.groupBy("g", "n_group", "n_total").agg(
        F.max(
            F.struct(d.alias("d_num"), (-F.col("v_at")).alias("_nv"))
        ).alias("_m")
    )
    return picked.select(
        F.col("g").alias("group"),
        "n_group",
        (F.col("n_total") - F.col("n_group")).alias("n_rest"),
        F.col("_m.d_num").alias("d_num"),
        (-F.col("_m._nv")).cast("long").alias("at_value"),
        F.try_divide(
            F.col("_m.d_num").cast("double"),
            (
                F.col("n_group") * (F.col("n_total") - F.col("n_group"))
            ).cast("double"),
        ).alias("ks_d"),
    ).orderBy("group")


def welch_t_test(
    df: DataFrame, cents_col: Column, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups over an
    integral (cents-quantized) value — the parametric companion to
    mannwhitney_u on the same contrast: MWU asks about stochastic
    dominance of ranks, Welch about the difference of means without
    assuming equal variances (the textbook two-sample t's equal-
    variance assumption rarely survives real revenue data).

    Exactness (the grouped_ols/spearman convention): the ONLY fact
    pass is one map-side-combined conditional aggregate producing six
    exact DECIMAL moments (n, Σv, Σv² per side; Σv² through
    DECIMAL(38,0) so partial-agg order cannot round). The centered
    sums n·Σv² − (Σv)² are exact DECIMAL DIFFERENCES (no float
    cancellation) cast to double once; mean/variance/t/df are shared
    closed-form IEEE expressions of those exact integers, written
    identically in the oracle. NULL cents and rows in neither group
    are excluded (the _bucketed_cum2 contract).

    Output: ONE row — n_a, n_b, mean_a, mean_b, var_a, var_b
    (sample variances), t_stat, df (Welch–Satterthwaite).
    """
    d38 = "decimal(38,0)"
    v = cents_col.cast("long")
    rows = df.select(
        v.alias("v"), a_ind.cast("int").alias("_a"), b_ind.cast("int").alias("_b")
    ).filter(((F.col("_a") + F.col("_b")) > 0) & F.col("v").isNotNull())
    vd = F.col("v").cast("decimal(19,0)")
    m = rows.agg(
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("_b") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("_a") == 1, vd).otherwise(F.lit(0).cast("decimal(19,0)")))
        .cast(d38)
        .alias("sa"),
        F.sum(F.when(F.col("_b") == 1, vd).otherwise(F.lit(0).cast("decimal(19,0)")))
        .cast(d38)
        .alias("sb"),
        F.sum(
            F.when(F.col("_a") == 1, (vd * vd).cast(d38)).otherwise(
                F.lit(0).cast(d38)
            )
        )
        .cast(d38)
        .alias("saa"),
        F.sum(
            F.when(F.col("_b") == 1, (vd * vd).cast(d38)).otherwise(
                F.lit(0).cast(d38)
            )
        )
        .cast(d38)
        .alias("sbb"),
    )
    na, nb = F.col("na").cast(d38), F.col("nb").cast(d38)
    num_a = (na * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    num_b = (nb * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    # try_divide throughout: a degenerate group (n < 2, or both
    # variances 0) yields NULL statistics instead of an ANSI
    # divide-by-zero — matching DuckDB, where x/0.0 is NULL
    mean_a = F.try_divide(F.col("sa").cast("double"), nad)
    mean_b = F.try_divide(F.col("sb").cast("double"), nbd)
    var_a = F.try_divide(num_a, nad * (nad - F.lit(1.0)))
    var_b = F.try_divide(num_b, nbd * (nbd - F.lit(1.0)))
    se2_a = F.try_divide(var_a, nad)
    se2_b = F.try_divide(var_b, nbd)
    t = F.try_divide(mean_a - mean_b, F.sqrt(se2_a + se2_b))
    dof = F.try_divide(
        (se2_a + se2_b) * (se2_a + se2_b),
        se2_a * se2_a / (nad - F.lit(1.0))
        + se2_b * se2_b / (nbd - F.lit(1.0)),
    )
    return m.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        var_a.alias("var_a"),
        var_b.alias("var_b"),
        t.alias("t_stat"),
        dof.alias("df"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, cents_col: Column
) -> DataFrame:
    """One-way ANOVA decomposition across ALL groups of a categorical
    key — the k-group generalization of welch_t_test's contrast
    (classic equal-variance F): does the group explain any of the
    value's variance?

    Per-group rows keep every emitted number a closed-form function
    of exact integer aggregates (the chi2_contingency convention —
    and the per-group means/SS are the actionable readout anyway);
    the global F rides along, assembled from DECIMAL(28,0)-quantized
    per-group terms so the cross-group summation is exact and
    order-independent (the psi_feature_drift convention: a raw
    double SUM over groups would depend on partial-agg order).

    One map-side-combined fact aggregate to |groups| rows; the grand
    totals re-aggregate that bounded table (persisted).

    Output: |groups| rows — group, n_group, sum_cents, mean,
    ss_within_g, plus the global ss_between / ss_within / f_stat
    repeated per row (closed-form over the quantized terms).
    """
    d38 = "decimal(38,0)"
    rows = df.select(
        F.col(group_col).alias("g"), cents_col.cast("long").alias("v")
    ).filter(F.col("g").isNotNull() & F.col("v").isNotNull())
    vd = F.col("v").cast("decimal(19,0)")
    per_g = (
        rows.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(vd).cast(d38).alias("s_g"),
            F.sum((vd * vd).cast(d38)).cast(d38).alias("ss_g"),
        )
        .persist_tracked()  # totals branch + output branch, |groups| rows
    )
    # per-group S_g²/n_g, quantized so the cross-group sum is exact.
    # SCALE 0 on purpose: these doubles exceed 2^52, so they are
    # integral already (the scale-0 cast is exact, no rounding-mode
    # ambiguity between engines) and a scale-0 decimal→double cast is
    # ONE correctly-rounded conversion in both engines — a fractional
    # scale would double-round through double(int128)/10^s (the
    # grouped_ols finding, re-observed here at 4 ulps of ss_between).
    term = (
        (
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g").cast("double")
        )
        .cast("decimal(28,0)")
    )
    gq = per_g.withColumn("_term", term)
    totals = gq.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("s_g").cast(d38).alias("s_all"),
        F.sum("ss_g").cast(d38).alias("ss_all"),
        F.sum("_term").cast("decimal(38,0)").alias("term_sum"),
    )
    j = gq.crossJoin(F.broadcast(totals))
    nt = F.col("n_total").cast("double")
    grand_term = (
        F.col("s_all").cast("double") * F.col("s_all").cast("double") / nt
    )
    ssb = F.col("term_sum").cast("double") - grand_term
    ssw = F.col("ss_all").cast("double") - F.col("term_sum").cast("double")
    kd = F.col("k").cast("double")
    f_stat = (ssb / (kd - F.lit(1.0))) / (ssw / (nt - kd))
    ss_within_g = (
        F.col("ss_g").cast("double") - F.col("_term").cast("double")
    )
    return j.select(
        F.col("g").alias("group"),
        F.col("n_g").alias("n_group"),
        F.col("s_g").cast("long").alias("sum_cents"),
        (F.col("s_g").cast("double") / F.col("n_g").cast("double")).alias(
            "mean_cents"
        ),
        ss_within_g.alias("ss_within_g"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
    ).orderBy("group")


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal–Wallis H — the k-group rank ANOVA (nonparametric
    sibling of anova_oneway, k-group generalization of
    mannwhitney_u), with midrank tie handling and the tie-corrected
    statistic.

    Contract: value_col is integral and DOMAIN-bounded (the
    ks_group_vs_rest contract — lengths/ratings/ages, not price-like
    ~N-distinct columns). The fact reduces ONCE to the (group, value)
    cell table (persisted); global inclusive cumulatives come from a
    broadcast theta join of the bounded distinct-value grid (never a
    global-sort window); doubled midranks r2(v) = 2·cumlt(v) + c(v)
    + 1 keep every rank integral, so each group's doubled rank sum
    Σ c_g(v)·r2(v) is an exact BIGINT.

    Per-group rows (chi2 convention): group, n_group, rank_sum_x2,
    mean_rank, h_term = 3·S2_g²/(n_g·N·(N+1)) — so H = Σ h_term −
    3·(N+1), divided by the tie factor 1 − Σ(t³−t)/(N³−N) for the
    corrected statistic; both ride along per row as closed-form IEEE
    expressions of exact integers (documented bound: S2_g < 2^53 —
    exact doubles below ~4·10^15, far past any per-group rank mass
    this bench reaches).

    Output: |groups| rows — group, n_group, rank_sum_x2, mean_rank,
    h_term, h, h_corrected.
    """
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # value totals + per-group joins read this
    )
    vt = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .persist_tracked()  # grid theta join + tie sum read this
    )
    grid = vt.select(F.col("v").alias("v_at"), F.col("cv").alias("c_at"))
    cumlt = (
        vt.join(F.broadcast(grid), F.col("v") < F.col("v_at"))
        .groupBy("v_at")
        .agg(F.sum("cv").cast("long").alias("cumlt"))
    )
    r2 = (
        grid.join(F.broadcast(cumlt), "v_at", "left")
        .select(
            F.col("v_at").alias("v"),
            (
                F.lit(2) * F.coalesce(F.col("cumlt"), F.lit(0))
                + F.col("c_at")
                + F.lit(1)
            )
            .cast("long")
            .alias("r2"),
        )
    )
    per_g = (
        cells.join(F.broadcast(r2), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("s2_g"),
        )
        .persist_tracked()  # totals + output branches, |groups| rows
    )
    ties = vt.agg(
        F.sum("cv").cast("long").alias("n_total"),
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("long")
        .alias("tie_term"),
    )
    h_term = (
        F.lit(3.0)
        * F.col("s2_g").cast("double")
        * F.col("s2_g").cast("double")
        / (
            F.col("n_g").cast("double")
            * F.col("n_total").cast("double")
            * (F.col("n_total").cast("double") + F.lit(1.0))
        )
    )
    gq = per_g.crossJoin(F.broadcast(ties)).withColumn(
        "_h_term", h_term.cast("decimal(28,9)")
    )
    tot = gq.agg(
        F.sum("_h_term").cast("decimal(38,9)").alias("h_sum")
    )
    j = gq.crossJoin(F.broadcast(tot))
    nt = F.col("n_total").cast("double")
    h = F.col("h_sum").cast("double") - F.lit(3.0) * (nt + F.lit(1.0))
    tie_factor = F.lit(1.0) - F.col("tie_term").cast("double") / (
        nt * nt * nt - nt
    )
    return j.select(
        F.col("g").alias("group"),
        F.col("n_g").alias("n_group"),
        F.col("s2_g").alias("rank_sum_x2"),
        (
            F.col("s2_g").cast("double")
            / (F.lit(2.0) * F.col("n_g").cast("double"))
        ).alias("mean_rank"),
        F.col("_h_term").cast("double").alias("h_term"),
        h.alias("h"),
        (h / tie_factor).alias("h_corrected"),
    ).orderBy("group")


def kendall_tau_b(
    df: DataFrame, x_col: Column, y_col: Column
) -> DataFrame:
    """Exact Kendall τ-b between two DOMAIN-bounded integral columns
    — the concordant-vs-discordant-pairs rank association, with the
    tie-corrected denominator (the third rank-correlation view next
    to spearman_rho: τ weights each discordance equally, making it
    the robust choice for heavy-tie ordinal pairs).

    Contract: both columns are domain-bounded (quantities, day
    deltas, ratings — |X|·|Y| cells, data-independent), because the
    pair counting is a theta self-join of the CELL table: C = Σ over
    cell pairs (x₁<x₂, y₁<y₂) of n₁·n₂ and D likewise with y₁>y₂ —
    |cells|² work on a broadcast-size table, never a fact self-join.
    The fact is scanned exactly once (groupBy into cells, persisted).
    All pair counts are exact BIGINTs (bound n² < 2^62); τ-b is one
    IEEE expression of them, identical in the oracle.

    Output: ONE row — n_rows, concordant, discordant, ties_x_pairs,
    ties_y_pairs, tau_b.
    """
    d38 = "decimal(38,0)"
    cells = (
        df.select(x_col.cast("long").alias("x"), y_col.cast("long").alias("y"))
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # self-join sides + marginals read this
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    pairs = cells.join(F.broadcast(b), F.col("x") < F.col("x2"))
    cd = pairs.agg(
        F.sum(
            F.when(F.col("y") < F.col("y2"), F.col("c") * F.col("c2")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(F.col("y") > F.col("y2"), F.col("c") * F.col("c2")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("discordant"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("tie2_x"),
            F.sum("t").cast("long").alias("n_rows"),
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("tie2_y"))
    )
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("n_rows").cast(d38)
    n0x2 = n * (n - 1)  # 2·n0, keeps everything integral
    den = F.sqrt(
        (n0x2 - F.col("tie2_x").cast(d38)).cast("double")
    ) * F.sqrt((n0x2 - F.col("tie2_y").cast(d38)).cast("double"))
    return j.select(
        "n_rows",
        "concordant",
        "discordant",
        (F.col("tie2_x") / F.lit(2)).cast("long").alias("ties_x_pairs"),
        (F.col("tie2_y") / F.lit(2)).cast("long").alias("ties_y_pairs"),
        (
            F.lit(2.0)
            * (
                F.col("concordant").cast("double")
                - F.col("discordant").cast("double")
            )
            / den
        ).alias("tau_b"),
    )


def randomization_test(
    df: DataFrame,
    key_col: Column,
    cents_col: Column,
    a_ind: Column,
    b_ind: Column,
    n_perm: int = 64,
) -> DataFrame:
    """Approximate randomization (permutation-style) test for the
    difference of group means — the distribution-free companion to
    welch_t_test on the same contrast: instead of the t reference
    distribution, the null is simulated by RE-LABELING every row with
    a pseudo-group drawn from a seeded hash, and the p-value is the
    fraction of relabelings whose |mean difference| reaches the
    observed one (random-relabeling variant: labels are redrawn
    i.i.d. rather than permuted, so pseudo-group sizes are binomial —
    the standard Monte-Carlo approximation at scale, where a true
    permutation would need a global shuffle per replicate).

    Determinism/exactness: replicate s relabels row k by the ascii
    parity of ONE HEX CHAR of a per-row md5 — md5 hex is identical
    across engines and the 16 hex chars split 8/8 on ascii parity,
    so assignment is unbiased AND reproducible. Each 32-hex-char
    digest supplies 32 replicates (char s), so 64 replicates cost
    TWO hashes per row computed BEFORE the explode (md5(key ':1'),
    md5(key ':2')) — 32× less hashing than a per-replicate digest,
    which dominates this operator's runtime. Every statistic is a
    closed IEEE form of exact DECIMAL sums, so the oracle reproduces
    each replicate bit-for-bit. ``n_perm`` ≤ 64 (two digests).

    Shape: ONE fact scan exploded ×(n_perm+1) replicates (seed 0
    carries the REAL labels so observed and null statistics ride one
    aggregate) → map-side-combined (seed, group) partial sums: the
    shuffle is 2·(n_perm+1)·|partitions| rows regardless of fact
    size; n_perm is a bounded constant (64). The (n_perm+1)-row
    statistic table collapses to ONE array row and the
    observed-vs-replicate comparison runs as higher-order array
    expressions over it — no persist, no broadcast join, no second
    pass anywhere.

    Output: ONE row — n_a, n_b, mean_a, mean_b, t_obs, n_perm,
    n_extreme, p_value = (1 + n_extreme)/(n_perm + 1).
    """
    if n_perm > 64:
        raise ValueError("randomization_test supports n_perm <= 64")
    d38 = "decimal(38,0)"
    rows = df.select(
        key_col.cast("string").alias("k"),
        cents_col.cast("long").alias("v"),
        F.when(a_ind.cast("int") == 1, 1)
        .when(b_ind.cast("int") == 1, 0)
        .alias("g"),
    ).filter(F.col("g").isNotNull() & F.col("v").isNotNull())
    # the explode multiplies rows ×(n_perm+1) AFTER the scan, so the
    # scan's partitioning understates the generated volume (a single
    # small parquet file would run the whole blow-up in one task);
    # spread the slim pre-explode (k, v, g) projection across the
    # shuffle width first. The per-replicate md5 stays in the
    # post-Generate projection ON PURPOSE: it whole-stage-codegens,
    # which measured 2.4× faster end-to-end than hoisting the two
    # digests into an interpreted nested-transform bit array.
    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    e = rows.repartition(n_shuffle).select(
        "v",
        "g",
        F.explode(F.sequence(F.lit(0), F.lit(n_perm))).alias("seed"),
        F.col("k"),
    )
    digest = F.md5(
        F.concat(
            F.col("k"),
            F.when(F.col("seed") <= 32, F.lit(":1")).otherwise(
                F.lit(":2")
            ),
        )
    )
    g2 = F.when(F.col("seed") == 0, F.col("g")).otherwise(
        F.ascii(
            F.substring(digest, (F.col("seed") - 1) % 32 + 1, F.lit(1))
        )
        % 2
    )
    vd = F.col("v").cast("decimal(19,0)")
    zero = F.lit(0).cast("decimal(19,0)")
    agg = (
        e.select("v", "seed", g2.alias("g2"))
        .groupBy("seed")
        .agg(
            F.sum(F.when(F.col("g2") == 1, 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("g2") == 1, vd).otherwise(zero))
            .cast(d38)
            .alias("sa"),
            F.sum(F.when(F.col("g2") == 0, 1).otherwise(0))
            .cast("long")
            .alias("nb"),
            F.sum(F.when(F.col("g2") == 0, vd).otherwise(zero))
            .cast(d38)
            .alias("sb"),
        )
    )
    stats = agg.select(
        "seed",
        "na",
        "nb",
        F.try_divide(F.col("sa").cast("double"), F.col("na").cast("double")).alias(
            "ma"
        ),
        F.try_divide(F.col("sb").cast("double"), F.col("nb").cast("double")).alias(
            "mb"
        ),
    ).select(
        "seed",
        "na",
        "nb",
        "ma",
        "mb",
        (F.col("ma") - F.col("mb")).alias("tstat"),
    )
    row = stats.agg(
        F.collect_list(
            F.struct("seed", "na", "nb", "ma", "mb", "tstat")
        ).alias("a")
    )
    obs = F.element_at(
        F.filter("a", lambda x: x["seed"] == 0), 1
    )
    n_extreme = F.size(
        F.filter(
            "a",
            lambda x: (x["seed"] > 0)
            & (F.abs(x["tstat"]) >= F.abs(obs["tstat"])),
        )
    ).cast("long")
    return row.select(
        obs["na"].alias("n_a"),
        obs["nb"].alias("n_b"),
        obs["ma"].alias("mean_a"),
        obs["mb"].alias("mean_b"),
        obs["tstat"].alias("t_obs"),
        F.lit(n_perm).cast("long").alias("n_perm"),
        n_extreme.alias("n_extreme"),
        (
            (F.lit(1.0) + n_extreme.cast("double"))
            / F.lit(float(n_perm + 1))
        ).alias("p_value"),
    )


def cochran_armitage(
    df: DataFrame, bin_col: Column, event_col: Column, n_bins: int
) -> DataFrame:
    """Cochran–Armitage trend test: is the event rate MONOTONICALLY
    associated with an ordered bin (integer scores s_b = b)?

        T = Σ s_b·r_b − (R/N)·Σ s_b·n_b
        Var(T) = (R/N)(1 − R/N)·(Σ s²_b·n_b − (Σ s_b·n_b)²/N)
        Z = T / √Var(T)

    The hypothesis-test companion to the isotonic FIT over the same
    bins (operators/isotonic.py): isotonic estimates the monotone
    curve, Cochran–Armitage scores the evidence that any trend exists.

    Shape: ONE conditional fact aggregate straight to the five scalar
    moments (N, R, Σsn, Σsr, Σs²n — all exact longs, map-side
    combine); everything after is closed-form IEEE arithmetic on one
    row. Bins outside [0, n_bins) and NULLs are excluded.

    Exactness: the moments are exact integers; T, Var, Z are shared
    closed-form double expressions ⇒ value-hash exact. Degenerate
    inputs (all-event / no-event / single bin) yield NULL z via
    try_divide.

    Output: ONE row — n_total, n_events, t_stat, var_t, z.
    """
    b = bin_col.cast("long")
    r = event_col.cast("int")
    rows = df.select(b.alias("_b"), r.alias("_r")).filter(
        F.col("_b").isNotNull()
        & F.col("_r").isNotNull()
        & (F.col("_b") >= 0)
        & (F.col("_b") < n_bins)
    )
    m = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_r").cast("long").alias("rr"),
        F.sum(F.col("_b")).cast("long").alias("sn"),
        F.sum(F.col("_b") * F.col("_r")).cast("long").alias("sr"),
        F.sum(F.col("_b") * F.col("_b")).cast("long").alias("ssn"),
    )
    nd = F.col("n").cast("double")
    p = F.try_divide(F.col("rr").cast("double"), nd)
    t = F.col("sr").cast("double") - p * F.col("sn").cast("double")
    var_t = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("ssn").cast("double")
            - F.try_divide(
                F.col("sn").cast("double") * F.col("sn").cast("double"),
                nd,
            )
        )
    )
    return m.select(
        F.col("n").alias("n_total"),
        F.col("rr").alias("n_events"),
        t.alias("t_stat"),
        var_t.alias("var_t"),
        F.try_divide(t, F.sqrt(var_t)).alias("z"),
    )


def jarque_bera(
    df: DataFrame, group_col: str, value_col: Column
) -> DataFrame:
    """Per-group Jarque–Bera normality diagnostic from exact raw
    moments of an integral value: skewness S, kurtosis K, and

        JB = n/6 · (S² + (K−3)²/4).

    The distribution-SHAPE screen beside the location (welch/anova)
    and dispersion (brown_forsythe) tests: a quality gate flags a
    segment whose metric stopped looking like its model.

    Shape: ONE conditional fact aggregate to per-group exact
    DECIMAL(38,0) moments (n, Σv, Σv², Σv³, Σv⁴, map-side combine);
    closed form on the |groups|-row table. The n-scaled central
    moments cancel: with M2 = nΣv² − (Σv)², M3 = n²Σv³ − 3nΣv²Σv +
    2(Σv)³, M4 = n³Σv⁴ − 4n²Σv³Σv + 6nΣv²(Σv)² − 3(Σv)⁴ (all exact
    DECIMAL), S = M3/M2^1.5 and K = M4/M2² exactly — no per-row
    centering pass. Requires |v|⁴·n ≲ 10³⁸ (fine for bounded
    integral measures; document per call site).

    Exactness: M2–M4 are exact DECIMAL polynomials cast to double
    once; S/K/JB shared closed forms ⇒ value-hash exact. Zero-variance
    groups yield NULL via try_divide.

    Output: one row per group — group, n_rows, mean, skewness,
    kurtosis (raw, normal ⇒ 3), jb_stat — ordered by group.
    """
    d38 = "decimal(38,0)"
    v = value_col.cast("long")
    rows = df.select(F.col(group_col).alias("g"), v.alias("v")).filter(
        F.col("g").isNotNull() & F.col("v").isNotNull()
    )
    vd = F.col("v").cast("decimal(19,0)")
    m = rows.groupBy("g").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(vd).cast(d38).alias("s1"),
        F.sum((vd * vd).cast(d38)).cast(d38).alias("s2"),
        F.sum((vd * vd * vd).cast(d38)).cast(d38).alias("s3"),
        F.sum(((vd * vd).cast(d38) * (vd * vd).cast(d38)).cast(d38))
        .cast(d38)
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m2 = (n * s2 - s1 * s1).cast("double")
    m3 = (n * n * s3 - F.lit(3).cast(d38) * n * s2 * s1
          + F.lit(2).cast(d38) * s1 * s1 * s1).cast("double")
    m4 = (
        n * n * n * s4
        - F.lit(4).cast(d38) * n * n * s3 * s1
        + F.lit(6).cast(d38) * n * s2 * s1 * s1
        - F.lit(3).cast(d38) * s1 * s1 * s1 * s1
    ).cast("double")
    # M2^1.5 as M2·√M2: sqrt and multiply are correctly rounded in
    # both engines, pow(x, 1.5) is not guaranteed to be
    skew = F.try_divide(m3, m2 * F.sqrt(m2))
    kurt = F.try_divide(m4, m2 * m2)
    nd = n.cast("double")
    jb = (
        nd
        / F.lit(6.0)
        * (
            skew * skew
            + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0)
        )
    )
    return m.select(
        F.col("g").alias("group"),
        n.cast("long").alias("n_rows"),
        F.try_divide(s1.cast("double"), nd).alias("mean"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
        jb.alias("jb_stat"),
    ).orderBy("group")


def brown_forsythe(
    df: DataFrame, group_col: str, cents_col: Column
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test: one-way ANOVA on the
    absolute deviations z_ij = |v_ij − median_g| from each group's
    LOWER MEDIAN — the robust Levene variant (median-centered), the
    dispersion companion to anova_oneway's location test and the
    check that guards its equal-variance assumption.

    Shape: TWO column-pruned fact scans by design — (1) the per-group
    (value, count) cell table (persisted) feeds a per-GROUP window
    for the lower median (domain-bounded cells, never a
    SinglePartition exchange; the split_conformal convention), (2) a
    re-scan joins the broadcast |groups|-row median table and feeds
    the absolute deviations to anova_oneway's one-pass moment
    aggregate. Cheaper at scale than persisting a fact-sized
    (g, v) projection between passes.

    Exactness: the lower median of integral cents is an exact long,
    so every deviation stays an exact long and the whole ANOVA
    decomposition inherits anova_oneway's value-hash-exact contract.

    Output: anova_oneway's schema over the deviations — one row per
    group (group, n_group, …, f_stat, df1, df2) — ordered by group.
    """
    from pyspark.sql import Window

    v = cents_col.cast("long")
    base = df.select(F.col(group_col).alias("g"), v.alias("v")).filter(
        F.col("g").isNotNull() & F.col("v").isNotNull()
    )
    cells = (
        base.groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist_tracked()  # per-g totals + median window read this
    )
    ng = cells.groupBy("g").agg(F.sum("n").cast("long").alias("n_g"))
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    med = (
        cells.withColumn("_cum", F.sum("n").over(w))
        .join(F.broadcast(ng), "g")
        .filter(
            F.col("_cum")
            >= F.floor((F.col("n_g") + 1) / F.lit(2)).cast("long")
        )
        .groupBy("g")
        .agg(F.min("v").cast("long").alias("med"))
    )
    dev = base.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("absdev")
    )
    return anova_oneway(dev, "g", F.col("absdev"))


def ks_sweep_bh_fdr(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_terms: int = 50,
) -> DataFrame:
    """Multiple-testing-corrected KS drift scan: the group-vs-rest
    sweep (ks_group_vs_rest), each statistic converted to its
    asymptotic p-value via the truncated Kolmogorov series

        p = 2·Σ_{k=1..K} (−1)^{k−1}·exp(−2k²λ²),
        λ² = D²·(n_g·n_rest)/(n_g+n_rest)

    then Benjamini–Hochberg adjusted across the |groups| simultaneous
    tests (q_i = min_{j≥i} p_(j)·m/j) — the scan a curation pipeline
    actually acts on: with 50 sources, 2–3 raw p < .05 appear by
    chance alone; BH controls the false-discovery rate.

    Shape: the sweep's one-fact-pass machinery, then everything on
    the BOUNDED |groups|-row result — p terms via a |groups|×K
    broadcast grid, rank and the running min via theta self-joins
    (≤ |groups|² rows; never a global window). K is fixed (series
    terms decay as exp(−2k²λ²); K = 50 is far past double underflow
    for any λ the test can emit).

    Exactness: exp is evaluated on identically-computed doubles in
    both engines and each term quantized to DECIMAL(28,15) before the
    cross-k sum (the drift-monitor ln convention); BH arithmetic is
    closed-form on exact ranks ⇒ value-hash exact.

    Output: one row per group — group, n_group, ks_d, p_value,
    bh_rank, q_value, significant_05 — ordered by group.
    """
    ks = ks_group_vs_rest(df, group_col, value_col).persist_tracked()
    spark = df.sparkSession
    kg = spark.range(1, k_terms + 1).select(
        F.col("id").cast("long").alias("k")
    )
    ne = F.try_divide(
        (F.col("n_group") * F.col("n_rest")).cast("double"),
        (F.col("n_group") + F.col("n_rest")).cast("double"),
    )
    lam2 = (F.col("ks_d") * F.col("ks_d")) * ne
    kd = F.col("k").cast("double")
    sign = F.when(F.pmod(F.col("k"), F.lit(2)) == 1, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )
    # q8, not the drift monitor's q15: exp() may differ by 1 ulp
    # across engines, and a 1e-15 grid leaves ~5% boundary-hit odds
    # per term; 1e-8 keeps far more precision than a p-value needs
    # while making a boundary hit ~5e-9-probable per term
    term = (
        sign * F.exp((F.lit(-2.0) * (kd * kd)) * lam2)
    ).cast("decimal(28,8)")
    pv = (
        ks.crossJoin(F.broadcast(kg))
        .select("group", term.alias("t"))
        .groupBy("group")
        .agg(F.sum("t").cast("decimal(38,8)").alias("_s"))
        .select(
            "group",
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0), F.lit(2.0) * F.col("_s").cast("double")
                ),
            ).alias("p_value"),
        )
    )
    base = ks.join(pv, "group").persist_tracked()  # self-join sides
    m = base.agg(F.count(F.lit(1)).cast("long").alias("m"))
    l = base.select(
        F.col("group").alias("g_l"),
        F.col("p_value").alias("p_l"),
    )
    r = base.select(
        F.col("group").alias("g_r"), F.col("p_value").alias("p_r")
    )
    rank = (
        l.join(
            F.broadcast(r),
            (F.col("p_r") < F.col("p_l"))
            | (
                (F.col("p_r") == F.col("p_l"))
                & (F.col("g_r") <= F.col("g_l"))
            ),
        )
        .groupBy("g_l", "p_l")
        .agg(F.count(F.lit(1)).cast("long").alias("bh_rank"))
        .crossJoin(F.broadcast(m))
        .select(
            "g_l",
            "bh_rank",
            (
                F.col("p_l")
                * F.col("m").cast("double")
                / F.col("bh_rank").cast("double")
            ).alias("raw"),
        )
        .persist_tracked()  # running-min theta join reads both sides
    )
    runmin = (
        rank.select(
            F.col("g_l").alias("g_i"),
            F.col("bh_rank").alias("rk_i"),
        )
        .join(
            F.broadcast(
                rank.select(
                    F.col("bh_rank").alias("rk_j"), F.col("raw").alias("raw_j")
                )
            ),
            F.col("rk_j") >= F.col("rk_i"),
        )
        .groupBy("g_i", "rk_i")
        .agg(F.min("raw_j").alias("_q"))
    )
    return (
        base.join(runmin, base["group"] == runmin["g_i"])
        .select(
            "group",
            "n_group",
            "ks_d",
            "p_value",
            F.col("rk_i").alias("bh_rank"),
            F.least(F.lit(1.0), F.col("_q")).alias("q_value"),
            (F.least(F.lit(1.0), F.col("_q")) <= F.lit(0.05)).alias(
                "significant_05"
            ),
        )
        .orderBy("group")
    )


def dunn_posthoc(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Dunn's post-hoc test: which PAIRS of groups differ, after
    kruskal_wallis rejects the global null — pairwise mean-rank
    contrasts on the pooled midranks with the tie-corrected variance

        z_ij = (R̄_i − R̄_j) / √( (N(N+1)/12 − T/(12(N−1)))·(1/nᵢ+1/nⱼ) )

    with T = Σ(t³−t) over tie groups (Dunn 1964). Shares
    kruskal_wallis's machinery and contract (integral, DOMAIN-bounded
    value column): one fact reduction to the (group, value) cell
    table, doubled midranks from a broadcast theta join of the
    bounded distinct-value grid, then the pairwise layer is a
    |groups|² self-join of the bounded per-group table.

    Exactness: doubled rank sums are exact BIGINTs; z is a shared
    closed form of exact integers (R̄ = S2/(2n)) ⇒ value-hash exact.

    Output: one row per unordered pair (group_a < group_b) —
    group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z —
    ordered by group_a, group_b.
    """
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # value totals + per-group joins read this
    )
    vt = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .persist_tracked()  # grid theta join + tie sum read this
    )
    grid = vt.select(F.col("v").alias("v_at"), F.col("cv").alias("c_at"))
    cumlt = (
        vt.join(F.broadcast(grid), F.col("v") < F.col("v_at"))
        .groupBy("v_at")
        .agg(F.sum("cv").cast("long").alias("cumlt"))
    )
    r2 = (
        grid.join(F.broadcast(cumlt), "v_at", "left")
        .select(
            F.col("v_at").alias("v"),
            (
                F.lit(2) * F.coalesce(F.col("cumlt"), F.lit(0))
                + F.col("c_at")
                + F.lit(1)
            )
            .cast("long")
            .alias("r2"),
        )
    )
    per_g = (
        cells.join(F.broadcast(r2), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("r2")).cast("long").alias("s2_g"),
        )
        .persist_tracked()  # both pair sides read this
    )
    ties = vt.agg(
        F.sum("cv").cast("long").alias("n_total"),
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("long")
        .alias("tie_term"),
    )
    l = per_g.select(
        F.col("g").alias("group_a"),
        F.col("n_g").alias("n_a"),
        F.col("s2_g").alias("s2_a"),
    )
    r = per_g.select(
        F.col("g").alias("group_b"),
        F.col("n_g").alias("n_b"),
        F.col("s2_g").alias("s2_b"),
    )
    pairs = l.join(
        F.broadcast(r), F.col("group_a") < F.col("group_b")
    ).crossJoin(F.broadcast(ties))
    nt = F.col("n_total").cast("double")
    mra = F.col("s2_a").cast("double") / (
        F.lit(2.0) * F.col("n_a").cast("double")
    )
    mrb = F.col("s2_b").cast("double") / (
        F.lit(2.0) * F.col("n_b").cast("double")
    )
    var = (
        nt * (nt + F.lit(1.0)) / F.lit(12.0)
        - F.col("tie_term").cast("double")
        / (F.lit(12.0) * (nt - F.lit(1.0)))
    ) * (
        F.lit(1.0) / F.col("n_a").cast("double")
        + F.lit(1.0) / F.col("n_b").cast("double")
    )
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        mra.alias("mean_rank_a"),
        mrb.alias("mean_rank_b"),
        F.try_divide(mra - mrb, F.sqrt(var)).alias("z"),
    ).orderBy("group_a", "group_b")


def cvm_two_sample(
    df: DataFrame, value_col: str, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Exact two-sample Cramér–von Mises criterion — the INTEGRAL
    companion to ks_two_sample's supremum: T integrates the squared
    ECDF gap over the pooled sample, so diffuse shape differences KS's
    single largest gap understates move T. With counts,

        T = Σ_v c_v·(cumA(v)·m − cumB(v)·n)² / ((n+m)²·n·m)

    (Anderson 1962 / scipy.stats.cramervonmises_2samp: the nm/N² ×
    Σ c_v (F_A−F_B)² form with F = cum/n expands to exactly this —
    the denominator is N²·n·m, so T is comparable against standard
    CvM critical values, e.g. ~0.461 at the 5% level.)

    over the distinct pooled values (c_v = pooled count at v).

    Shape/exactness: the _bucketed_cum2 machinery — one fact-sized
    shuffle to the distinct-value table with exact cumulatives (never
    a global-sort window); every squared term is an exact
    DECIMAL(38,0) product of BIGINTs and the cross-value sum is an
    exact decimal sum; T is ONE division ⇒ value-hash exact.
    Documented bound: c_v·(n·m)²·|V| < 10³⁸ (holds past sf10 for
    price-like columns; beyond that drop to per-term doubles).

    Output: ONE row — n_a, n_b, t_stat.
    """
    cum, n_a, n_b = _bucketed_cum2(df, value_col, a_ind, b_ind)
    gap = (
        F.col("cum_a") * F.lit(n_b) - F.col("cum_b") * F.lit(n_a)
    ).cast("decimal(19,0)")
    term = (
        (F.col("ca") + F.col("cb")).cast("decimal(19,0)") * (gap * gap)
    ).cast("decimal(38,0)")
    tot = cum.agg(F.sum(term).cast("decimal(38,0)").alias("s"))
    npm = float(n_a + n_b)
    den = npm * npm * float(n_a) * float(n_b)
    return tot.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        (F.col("s").cast("double") / F.lit(den)).alias("t_stat"),
    )


def mcnemar_test(df: DataFrame, a_ind: Column, b_ind: Column) -> DataFrame:
    """McNemar's test for PAIRED binary raters — the within-subject
    companion to cohens_kappa on the same contrast: kappa measures
    chance-corrected agreement, McNemar asks whether the two raters'
    marginal rates DIFFER, using only the discordant pairs
    (χ² = (n10 − n01)² / (n10 + n01), the plain uncorrected form —
    the continuity-corrected variant subtracts 1 from |n10 − n01|
    and is noted, not emitted).

    Shape/exactness: ONE map-side-combined aggregate over the fact —
    four exact BIGINT cell counts of the paired 2×2 table; the
    statistic is one IEEE division of exact integers, written
    identically in the oracle. Rows where either indicator is NULL
    are excluded (a pair needs both raters).

    Output: ONE row — n11, n10, n01, n00, n_discordant, chi2
    (NULL when no discordant pairs — matching DuckDB x/0.0)."""
    a = a_ind.cast("int")
    b = b_ind.cast("int")
    rows = df.select(a.alias("_a"), b.alias("_b")).filter(
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    )
    m = rows.agg(
        F.sum(((F.col("_a") == 1) & (F.col("_b") == 1)).cast("long")).alias("n11"),
        F.sum(((F.col("_a") == 1) & (F.col("_b") == 0)).cast("long")).alias("n10"),
        F.sum(((F.col("_a") == 0) & (F.col("_b") == 1)).cast("long")).alias("n01"),
        F.sum(((F.col("_a") == 0) & (F.col("_b") == 0)).cast("long")).alias("n00"),
    )
    diff = (F.col("n10") - F.col("n01")).cast("double")
    disc = (F.col("n10") + F.col("n01")).cast("long")
    return m.select(
        "n11",
        "n10",
        "n01",
        "n00",
        disc.alias("n_discordant"),
        F.try_divide(diff * diff, disc.cast("double")).alias("chi2"),
    )


def effect_sizes(
    df: DataFrame, cents_col: Column, a_ind: Column, b_ind: Column
) -> DataFrame:
    """Standardized effect sizes for the A-vs-B mean contrast — the
    numbers a readout reports NEXT TO welch_t_test's p-value (a tiny
    p on big data says nothing about magnitude): Cohen's d on the
    pooled SD, Hedges' g (d × J, J = 1 − 3/(4·df − 1) — the
    small-sample bias correction), and Glass's Δ (B's SD as the
    control scale, for unequal-variance contrasts).

    Shape/exactness: welch_t_test's single six-moment DECIMAL
    aggregate; d/g/Δ are shared closed-form IEEE expressions of the
    exact centered sums, written identically in the oracle.

    Output: ONE row — n_a, n_b, mean_diff, sd_pooled, cohens_d,
    hedges_j, hedges_g, glass_delta."""
    d38 = "decimal(38,0)"
    v = cents_col.cast("long")
    rows = df.select(
        v.alias("v"), a_ind.cast("int").alias("_a"), b_ind.cast("int").alias("_b")
    ).filter(((F.col("_a") + F.col("_b")) > 0) & F.col("v").isNotNull())
    vd = F.col("v").cast("decimal(19,0)")
    zero = F.lit(0).cast("decimal(19,0)")
    m = rows.agg(
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("_b") == 1, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("_a") == 1, vd).otherwise(zero)).cast(d38).alias("sa"),
        F.sum(F.when(F.col("_b") == 1, vd).otherwise(zero)).cast(d38).alias("sb"),
        F.sum(F.when(F.col("_a") == 1, (vd * vd).cast(d38)).otherwise(F.lit(0).cast(d38)))
        .cast(d38)
        .alias("saa"),
        F.sum(F.when(F.col("_b") == 1, (vd * vd).cast(d38)).otherwise(F.lit(0).cast(d38)))
        .cast(d38)
        .alias("sbb"),
    )
    na, nb = F.col("na").cast(d38), F.col("nb").cast(d38)
    num_a = (na * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    num_b = (nb * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    mean_a = F.try_divide(F.col("sa").cast("double"), nad)
    mean_b = F.try_divide(F.col("sb").cast("double"), nbd)
    var_a = F.try_divide(num_a, nad * (nad - F.lit(1.0)))
    var_b = F.try_divide(num_b, nbd * (nbd - F.lit(1.0)))
    sp = F.sqrt(
        F.try_divide(
            (nad - F.lit(1.0)) * var_a + (nbd - F.lit(1.0)) * var_b,
            nad + nbd - F.lit(2.0),
        )
    )
    d = F.try_divide(mean_a - mean_b, sp)
    j = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (nad + nbd - F.lit(2.0)) - F.lit(1.0)
    )
    return m.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (mean_a - mean_b).alias("mean_diff"),
        sp.alias("sd_pooled"),
        d.alias("cohens_d"),
        j.alias("hedges_j"),
        (d * j).alias("hedges_g"),
        F.try_divide(mean_a - mean_b, F.sqrt(var_b)).alias("glass_delta"),
    )


def grubbs_max_outlier(df: DataFrame, cents_col: Column) -> DataFrame:
    """Grubbs' statistic for the single most extreme value:
    G = max|x − x̄| / s. The p-value needs a t-quantile (no closed
    form), so the readout is G itself plus the outlying value — the
    screening number an anomaly dashboard thresholds (G ≳ 4–5 at
    typical n means "investigate").

    Shape: TWO fact passes by design — one three-moment DECIMAL
    aggregate (n, Σv, Σv²), then the 1-row moment frame broadcast
    back onto the scan for one max-of-struct aggregate (at 100 TB
    two column-pruned scans beat persisting the fact). The outlier
    is the lexicographic max of (|x − x̄|, x) — a total order, so
    ties break deterministically toward the larger value; |x − x̄|
    is the same IEEE subtraction in both engines, so the struct max
    hashes exactly.

    Output: ONE row — n, mean, sd, outlier_value, abs_dev, g_stat."""
    d38 = "decimal(38,0)"
    v = cents_col.cast("long")
    rows = df.select(v.alias("v")).filter(F.col("v").isNotNull())
    vd = F.col("v").cast("decimal(19,0)")
    m = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vd).cast(d38).alias("s1"),
        F.sum((vd * vd).cast(d38)).cast(d38).alias("s2"),
    )
    nn = F.col("n").cast(d38)
    nd = F.col("n").cast("double")
    mean = F.try_divide(F.col("s1").cast("double"), nd)
    var = F.try_divide(
        (nn * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"),
        nd * (nd - F.lit(1.0)),
    )
    mom = m.select("n", mean.alias("mean"), F.sqrt(var).alias("sd"))
    dev = F.abs(F.col("v").cast("double") - F.col("mean"))
    top = (
        rows.crossJoin(F.broadcast(mom))
        .agg(
            F.max(F.struct(dev.alias("d"), F.col("v").alias("v"))).alias("t"),
            F.first("n").alias("n"),
            F.first("mean").alias("mean"),
            F.first("sd").alias("sd"),
        )
    )
    return top.select(
        "n",
        "mean",
        "sd",
        F.col("t.v").alias("outlier_value"),
        F.col("t.d").alias("abs_dev"),
        F.try_divide(F.col("t.d"), F.col("sd")).alias("g_stat"),
    )


def runs_test(df: DataFrame, order_col: Column, ind: Column) -> DataFrame:
    """Wald–Wolfowitz runs test over a BINARY SEQUENCE: is the
    arrangement of 1s and 0s random, or does it cluster (fewer runs)
    / alternate (more runs) than chance? The classic check that a
    daily above/below-median indicator isn't trending or seasonal
    before treating days as exchangeable.

        R ~ N(μ, σ²),  μ = 2·n1·n0/N + 1,
        σ² = 2·n1·n0·(2·n1·n0 − N) / (N²·(N−1))

    CALLER CONTRACT: the sequence must already be DOMAIN-BOUNDED
    (a daily/monthly rollup, ≤ ~10⁵ rows) — the run count needs a
    total order, computed here with a global-sort lag window, which
    is only legitimate on bounded tables (the plan-audit allowlist
    convention for date-domain sequences).

    Exactness: run/group counts are exact BIGINTs from the lag pass;
    z is one shared closed-form IEEE expression of those integers.
    Output: ONE row — n, n_pos, n_neg, n_runs, z."""
    from pyspark.sql import Window

    seq = df.select(order_col.alias("_o"), ind.cast("int").alias("x")).filter(
        F.col("x").isNotNull()
    )
    w = Window.orderBy("_o")
    marked = seq.withColumn(
        "brk",
        F.when(
            F.lag("x").over(w).isNull() | (F.lag("x").over(w) != F.col("x")),
            1,
        ).otherwise(0),
    )
    m = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("n_pos"),
        F.sum("brk").cast("long").alias("n_runs"),
    )
    nd = F.col("n").cast("double")
    n1 = F.col("n_pos").cast("double")
    n0 = (F.col("n") - F.col("n_pos")).cast("double")
    two = F.lit(2.0) * n1 * n0
    mu = two / nd + F.lit(1.0)
    var = F.try_divide(
        two * (two - nd), nd * nd * (nd - F.lit(1.0))
    )
    return m.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        "n_runs",
        F.try_divide(F.col("n_runs").cast("double") - mu, F.sqrt(var)).alias(
            "z"
        ),
    )


def friedman_test(
    df: DataFrame, block_col: Column, treat_col: Column, value_col: Column
) -> DataFrame:
    """Friedman rank test over COMPLETE blocks — the repeated-measures
    companion to kruskal_wallis: KW ranks all observations in one
    pool (between-subjects), Friedman ranks treatments WITHIN each
    block, removing block-level shifts (month-to-month drift) from
    the treatment comparison. Blocks missing any treatment are
    dropped (the complete-block requirement). CALLER CONTRACT: one
    row per (block, treatment) cell — pre-aggregate replicated
    measurements first (the completeness filter counts cell ROWS).

    Tie-corrected statistic computed entirely in DOUBLED ranks so
    every intermediate is an exact integer (average ranks are
    multiples of ½; with r2 = 2·rank):

        χ²_F = (k−1)·Σ_j (S2_j − n·(k+1))² / (Σ r2² − n·k·(k+1)²)

    Shape: ranks come from a window partitioned BY BLOCK (k rows per
    partition — bounded), never a global sort; the rest is two
    bounded aggregates. One IEEE division at the end ⇒ value-hash
    exact. Output: ONE row — n_blocks, k_treatments, chi2_f — plus
    per-treatment rank sums in stat order are available from the
    intermediate (not emitted; keep the readout one row)."""
    from pyspark.sql import Window

    cells = (
        df.select(
            block_col.alias("blk"), treat_col.alias("trt"), value_col.alias("y")
        )
        .filter(F.col("y").isNotNull())
        .persist_tracked()  # k-count, completeness filter, and ranks read this
    )
    k_total = cells.select("trt").distinct().count()
    full = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == k_total)
        .select("blk")
    )
    kept = cells.join(F.broadcast(full), "blk")
    wb = Window.partitionBy("blk").orderBy("y")
    we = Window.partitionBy("blk", "y")
    # doubled average rank: 2·rank + (ties − 1) is always integral
    ranked = kept.select(
        "blk",
        "trt",
        (
            F.lit(2) * F.rank().over(wb)
            + F.count(F.lit(1)).over(we)
            - F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    per_trt = ranked.groupBy("trt").agg(
        F.sum("r2").cast("long").alias("s2")
    )
    tots = ranked.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("ssq2"),
        F.countDistinct("blk").cast("long").alias("n_blocks"),
    )
    stat = (
        per_trt.crossJoin(F.broadcast(tots))
        .select(
            "n_blocks",
            F.col("s2"),
            F.col("ssq2"),
        )
        .groupBy("n_blocks", "ssq2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                (
                    F.col("s2")
                    - F.col("n_blocks") * F.lit(k_total + 1)
                )
                * (
                    F.col("s2")
                    - F.col("n_blocks") * F.lit(k_total + 1)
                )
            )
            .cast("long")
            .alias("num2"),
        )
    )
    kd = F.col("k").cast("double")
    nd = F.col("n_blocks").cast("double")
    den = (
        F.col("ssq2").cast("double")
        - nd * kd * F.lit(float((k_total + 1) ** 2))
    )
    return stat.select(
        "n_blocks",
        F.col("k").alias("k_treatments"),
        F.try_divide(
            (kd - F.lit(1.0)) * F.col("num2").cast("double"), den
        ).alias("chi2_f"),
    )


def cochran_q(
    df: DataFrame, inds: list[Column], names: list[str] | None = None
) -> DataFrame:
    """Cochran's Q test over k ≥ 2 PAIRED binary raters — the k-rater
    generalization of mcnemar_test (identical to it at k = 2): do the
    raters' positive rates differ, conditioning on per-row totals?

        Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)

    with R_i the per-row positive count, C_j the per-rater totals,
    T = ΣR_i = ΣC_j — every term an exact integer, so Q is ONE IEEE
    division (the doubled-rank Friedman convention; Q is in fact
    Friedman on binary data).

    Shape: ONE map-side-combined aggregate — per-row sums are in-row
    expressions, the k rater totals are k conditional sums. Rows with
    any NULL rater are excluded. Output: ONE row — n_rows, one
    per-rater total column (``names``, default pos_0..pos_{k-1} —
    scalar columns, not an array, so the oracle hash is type-stable),
    t_total, sum_row_sq, q_stat."""
    k = len(inds)
    cols = [c.cast("int").alias(f"_r{j}") for j, c in enumerate(inds)]
    rows = df.select(*cols)
    notnull = rows
    for j in range(k):
        notnull = notnull.filter(F.col(f"_r{j}").isNotNull())
    rsum = sum(F.col(f"_r{j}") for j in range(k))
    m = notnull.select(*[F.col(f"_r{j}") for j in range(k)], rsum.alias("_rs")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        *[
            F.sum(F.col(f"_r{j}")).cast("long").alias(f"c{j}")
            for j in range(k)
        ],
        F.sum(F.col("_rs")).cast("long").alias("t_total"),
        F.sum(F.col("_rs") * F.col("_rs")).cast("long").alias("sum_row_sq"),
    )
    csq = sum(
        F.col(f"c{j}").cast("decimal(38,0)") * F.col(f"c{j}").cast("decimal(38,0)")
        for j in range(k)
    )
    t38 = F.col("t_total").cast("decimal(38,0)")
    num = (
        F.lit(k - 1).cast("decimal(38,0)")
        * (F.lit(k).cast("decimal(38,0)") * csq - t38 * t38)
    ).cast("double")
    den = (
        F.lit(k).cast("decimal(38,0)") * t38
        - F.col("sum_row_sq").cast("decimal(38,0)")
    ).cast("double")
    names = names or [f"pos_{j}" for j in range(k)]
    return m.select(
        "n_rows",
        *[F.col(f"c{j}").alias(names[j]) for j in range(k)],
        "t_total",
        "sum_row_sq",
        F.try_divide(num, den).alias("q_stat"),
    )


def mann_kendall(df: DataFrame, order_col: Column, value_col: Column) -> DataFrame:
    """Mann–Kendall trend test over a DOMAIN-BOUNDED series — the
    nonparametric "is there a monotonic trend?" companion to the
    Theil–Sen slope (Sen estimates the trend MK tests):
    S = Σ_{i<j} sign(y_j − y_i) over the order, with the tie-corrected
    normal approximation

        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18

    and the ±1 continuity correction in z.

    Contract: the series is domain-bounded (a daily/monthly rollup) —
    pair counting is a theta self-join of the series against itself
    (the kendall_tau_b convention; ≤ ~10⁵ rows ⇒ broadcast-size).
    All counts exact BIGINTs; Var and z are shared closed-form IEEE
    expressions. Output: ONE row — n, s_stat, var_s, z."""
    seq = df.select(
        order_col.alias("o"), value_col.cast("long").alias("y")
    ).filter(F.col("y").isNotNull()).persist_tracked()
    b = seq.select(F.col("o").alias("o2"), F.col("y").alias("y2"))
    pairs = seq.join(F.broadcast(b), F.col("o") < F.col("o2"))
    s = pairs.agg(
        F.sum(
            F.when(F.col("y2") > F.col("y"), 1)
            .when(F.col("y2") < F.col("y"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        seq.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum("t").cast("long").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term"),
        )
    )
    out = s.crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    var = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = F.when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(var)).when(
        F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return out.select("n", "s_stat", var.alias("var_s"), z.alias("z"))


def jonckheere_terpstra(
    df: DataFrame, group_ord: Column, value_col: Column
) -> DataFrame:
    """Jonckheere–Terpstra test for ORDERED alternatives — the
    missing piece between kruskal_wallis (any difference among k
    groups) and mann_kendall (trend in one series): with groups in a
    meaningful order (priority 1→5), JT = Σ_{i<j} U_ij pools the
    one-sided Mann–Whitney counts of every ordered group pair, so a
    MONOTONE shift across groups that KW spreads over k−1 degrees of
    freedom lands in one directed statistic.

    Contract: group_ord is an integral rank; value_col is
    DOMAIN-BOUNDED integral (quantities, line counts, ratings) — pair
    counting is a theta self-join of the (group, value) CELL table
    (|groups|·|V| rows, data-independent; the kendall_tau_b
    convention), never a fact self-join.

    Doubled arithmetic keeps ½-ties integral: JT2 = 2·JT with
    ties counting 1; mean2 = (N² − Σn_i²)/2. Var(JT) is the
    tie-corrected Hollander–Wolfe form — three terms, every factor an
    exact BIGINT sum over group sizes n_i and pooled tie sizes t_j:

      [N(N−1)(2N+5) − Σn_i(n_i−1)(2n_i+5) − Σt_j(t_j−1)(2t_j+5)]/72
      + Σn_i(n_i−1)(n_i−2)·Σt_j(t_j−1)(t_j−2) / (36·N(N−1)(N−2))
      + Σn_i(n_i−1)·Σt_j(t_j−1) / (8·N(N−1))

    z = (JT2 − mean2) / (2·√Var). Output: ONE row — n, k_groups,
    jt2, mean2, var_jt, z."""
    d38 = "decimal(38,0)"
    cells = (
        df.select(
            group_ord.cast("int").alias("g"),
            value_col.cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # theta-join sides + both marginals
    )
    b = cells.select(
        F.col("g").alias("g2"), F.col("v").alias("v2"), F.col("c").alias("c2")
    )
    pairs = cells.join(F.broadcast(b), F.col("g") < F.col("g2"))
    jt = pairs.agg(
        F.sum(
            F.when(F.col("v") < F.col("v2"), 2 * F.col("c") * F.col("c2"))
            .when(F.col("v") == F.col("v2"), F.col("c") * F.col("c2"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("jt2")
    )
    gm = (
        cells.groupBy("g")
        .agg(F.sum("c").cast("long").alias("n_i"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_groups"),
            F.sum("n_i").cast("long").alias("n"),
            F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("sum_ni2"),
            F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("long").alias("g1"),
            F.sum(
                F.col("n_i") * (F.col("n_i") - 1) * (F.col("n_i") - 2)
            )
            .cast("long")
            .alias("g2t"),
            F.sum(
                F.col("n_i") * (F.col("n_i") - 1) * (2 * F.col("n_i") + 5)
            )
            .cast("long")
            .alias("g25"),
        )
    )
    tm = (
        cells.groupBy("v")
        .agg(F.sum("c").cast("long").alias("t_j"))
        .agg(
            F.sum(F.col("t_j") * (F.col("t_j") - 1)).cast("long").alias("t1"),
            F.sum(
                F.col("t_j") * (F.col("t_j") - 1) * (F.col("t_j") - 2)
            )
            .cast("long")
            .alias("t2"),
            F.sum(
                F.col("t_j") * (F.col("t_j") - 1) * (2 * F.col("t_j") + 5)
            )
            .cast("long")
            .alias("t25"),
        )
    )
    out = jt.crossJoin(F.broadcast(gm)).crossJoin(F.broadcast(tm))
    nd = F.col("n").cast("double")
    mean2 = (
        (
            F.col("n").cast(d38) * F.col("n").cast(d38)
            - F.col("sum_ni2").cast(d38)
        )
        .cast("decimal(38,0)")
        / F.lit(2).cast("decimal(38,0)")
    ).cast("double")
    term1 = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(5.0))
        - F.col("g25").cast("double")
        - F.col("t25").cast("double")
    ) / F.lit(72.0)
    term2 = F.try_divide(
        F.col("g2t").cast("double") * F.col("t2").cast("double"),
        F.lit(36.0) * nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)),
    )
    term3 = F.try_divide(
        F.col("g1").cast("double") * F.col("t1").cast("double"),
        F.lit(8.0) * nd * (nd - F.lit(1.0)),
    )
    var = term1 + term2 + term3
    z = F.try_divide(
        F.col("jt2").cast("double") - mean2,
        F.lit(2.0) * F.sqrt(var),
    )
    return out.select(
        "n",
        "k_groups",
        "jt2",
        mean2.alias("mean2"),
        var.alias("var_jt"),
        z.alias("z"),
    )


def mood_median_test(
    df: DataFrame, group_col: Column, value_col: Column
) -> DataFrame:
    """Mood's median test across k groups — the bluntest k-sample
    location check (each group's split around the POOLED median; a
    2×k χ² on the counts), robust to anything, the triage step
    before kruskal_wallis when distributions differ wildly in shape.
    The pooled cut is the LOWER MEDIAN (smallest value whose
    inclusive cumulative count reaches ⌈N/2⌉) — integer-exact, no
    interpolation to diverge on.

    Contract: value_col is DOMAIN-BOUNDED integral (the distinct-
    value table must be window-safe — the benford/kendall
    convention). Shape: one fact reduction to (group, value) cells
    (persisted: the pooled cumulative, per-group splits, and totals
    all read it); the median comes from a window over the bounded
    distinct-value table; χ² per-cell terms (O−E)²/E are shared
    double expressions quantized DECIMAL(18,9) so the k·2-term sum
    is exact decimal.

    Output: one row per group — group, n, n_le_median, n_gt_median,
    exp_le (the expected ≤-count), plus the shared median_value and
    chi2 repeated on every row — ordered by group."""
    from pyspark.sql import Window

    cells = (
        df.select(group_col.alias("g"), value_col.cast("long").alias("v"))
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()
    )
    byv = cells.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = byv.withColumn("cum", F.sum("cv").over(wv))
    tot = cum.agg(F.max("cum").cast("long").alias("n_total"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 2 >= F.col("n_total"))
        .agg(F.min("v").alias("median_value"))
    )
    grp = (
        cells.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(
                F.when(F.col("v") <= F.col("median_value"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_le_median"),
            F.first("median_value").alias("median_value"),
        )
        .persist_tracked()  # per-group rows + the chi2 scalar read this
    )
    tots = grp.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("n_le_median").cast("long").alias("le_t"),
    )
    cell = grp.crossJoin(F.broadcast(tots)).select(
        "g",
        (
            F.col("n").cast("double")
            * F.col("le_t").cast("double")
            / F.col("nt").cast("double")
        ).alias("e_le"),
        (
            F.col("n").cast("double")
            * (F.col("nt") - F.col("le_t")).cast("double")
            / F.col("nt").cast("double")
        ).alias("e_gt"),
        F.col("n_le_median").cast("double").alias("o_le"),
        (F.col("n") - F.col("n_le_median")).cast("double").alias("o_gt"),
    )
    chi = cell.select(
        (
            (
                (F.col("o_le") - F.col("e_le"))
                * (F.col("o_le") - F.col("e_le"))
                / F.col("e_le")
            ).cast("decimal(18,9)")
            + (
                (F.col("o_gt") - F.col("e_gt"))
                * (F.col("o_gt") - F.col("e_gt"))
                / F.col("e_gt")
            ).cast("decimal(18,9)")
        ).alias("t")
    ).agg(F.sum("t").cast("double").alias("chi2"))
    return (
        grp.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(chi))
        .select(
            F.col("g").alias("group"),
            "n",
            "n_le_median",
            (F.col("n") - F.col("n_le_median")).cast("long").alias(
                "n_gt_median"
            ),
            (
                F.col("n").cast("double")
                * F.col("le_t").cast("double")
                / F.col("nt").cast("double")
            ).alias("exp_le"),
            "median_value",
            "chi2",
        )
        .orderBy("group")
    )


def bartlett_test(
    df: DataFrame, group_col: Column, cents_col: Column
) -> DataFrame:
    """Bartlett's test of variance homogeneity across k groups — the
    PARAMETRIC dispersion check next to brown_forsythe: BF is robust
    (median-centered Levene) but pays power under true normality;
    Bartlett is the textbook likelihood-ratio test the classical
    ANOVA workflow quotes first. A pipeline runs both: agreement is
    the signal, disagreement says "heavy tails — trust BF".

    Exactness (the welch/anova convention + the Theil ln rule): ONE
    map-side-combined fact pass produces per-group exact moments
    (n, Σv, Σv² through DECIMAL(38,0)); each sample variance is the
    shared IEEE expression (n·Σv² − (Σv)²)/(n(n−1)) of those exact
    integers; every ln(s²) is quantized DECIMAL(18,9) BEFORE the
    weighted sum (JVM log and C log may differ in the last ulp — the
    concentration_indices rule), the weighted terms sum as exact
    decimals ((n−1)·lnq at (38,9); (n−1)·s² at (38,6); 1/(n−1) at
    (18,12)), and χ² / the Bartlett correction C are closed-form
    doubles of those sums, written identically in the oracle.

    Groups with n < 2 or zero variance are excluded (the statistic is
    undefined there); k counts the surviving groups. Output: one row
    per surviving group — group, n_group, var_group — plus the shared
    scalars n_total, k_groups, pooled_var, c_factor, chi2, df
    repeated on every row, ordered by group."""
    d38 = "decimal(38,0)"
    rows = df.select(
        group_col.alias("g"), cents_col.cast("long").alias("v")
    ).filter(F.col("g").isNotNull() & F.col("v").isNotNull())
    vd = F.col("v").cast("decimal(19,0)")
    m = rows.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vd).cast(d38).alias("s"),
        F.sum((vd * vd).cast(d38)).cast(d38).alias("ss"),
    )
    nd = F.col("n").cast("double")
    var_g = F.try_divide(
        (F.col("n").cast(d38) * F.col("ss") - F.col("s") * F.col("s")).cast(
            "double"
        ),
        nd * (nd - F.lit(1.0)),
    )
    vg = (
        m.filter(F.col("n") >= 2)
        .select(
            "g",
            "n",
            (F.col("n") - F.lit(1)).cast("long").alias("w"),
            var_g.alias("var_g"),
        )
        .filter(F.col("var_g") > 0)
        .persist_tracked()  # the totals scalar and the output rows read this
    )
    wd = F.col("w").cast("double")
    lnq = F.log(F.col("var_g")).cast("decimal(18,9)")
    tot = vg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("w").cast("long").alias("sum_w"),
        F.sum((F.col("w").cast("decimal(19,0)") * lnq).cast("decimal(38,9)"))
        .cast("decimal(38,9)")
        .alias("sum_wln"),
        F.sum((wd * F.col("var_g")).cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("ssw"),
        F.sum((F.lit(1.0) / wd).cast("decimal(18,12)"))
        .cast("decimal(18,12)")
        .alias("harm"),
    )
    sum_wd = F.col("sum_w").cast("double")
    kd = F.col("k").cast("double")
    pooled = F.col("ssw").cast("double") / sum_wd
    lnp = F.log(pooled).cast("decimal(18,9)").cast("double")
    c_factor = F.lit(1.0) + F.try_divide(
        F.col("harm").cast("double") - F.lit(1.0) / sum_wd,
        F.lit(3.0) * (kd - F.lit(1.0)),
    )
    chi2 = F.try_divide(
        sum_wd * lnp - F.col("sum_wln").cast("double"), c_factor
    )
    return (
        vg.crossJoin(F.broadcast(tot))
        .select(
            F.col("g").alias("group"),
            F.col("n").alias("n_group"),
            F.col("var_g").alias("var_group"),
            "n_total",
            F.col("k").alias("k_groups"),
            pooled.alias("pooled_var"),
            c_factor.alias("c_factor"),
            chi2.alias("chi2"),
            (F.col("k") - F.lit(1)).cast("long").alias("df"),
        )
        .orderBy("group")
    )


def fleiss_kappa(df: DataFrame, rating_cols: "list[Column]") -> DataFrame:
    """Fleiss' kappa for n >= 2 fixed raters assigning each item one
    of a set of integral category labels — the multi-rater
    generalization the Cohen-kappa / McNemar / Cochran-Q rater family
    lacks: kappa_2 scores one PAIR, Cochran-Q tests marginal
    homogeneity, Fleiss answers "how far beyond chance do ALL the
    raters agree at once".

    Per item, n_ij = #raters assigning category j; the agreement
    numerator Σ_j n_ij² is computed WITHOUT materializing the
    category domain, as the count of ordered rater pairs that agree:
    Σ_j n_ij² = Σ_{a,b} 1[r_a = r_b] — an n² bounded comparison
    ladder that stays whole-stage codegen (no arrays, no explode on
    the hot path). P_i = (Σ_j n_ij² − n)/(n(n−1)); chance agreement
    P̄e = Σ_j p_j² from pooled category shares (ONE bounded explode →
    tally — |categories| rows); κ = (P̄ − P̄e)/(1 − P̄e).

    Exactness: Σ_i Σ_j n_ij² and the per-category totals are exact
    BIGINTs from map-side-combined aggregates; each pooled share
    square is quantized DECIMAL(18,12) before the exact sum (the
    bounded-category convention); P̄/P̄e/κ are closed-form IEEE
    doubles of those integers, written identically in the oracle.
    Rows with any NULL rating are excluded (every item must carry all
    n ratings). Output: ONE row — n_items, n_raters, sum_sq, p_bar,
    p_e, kappa, cat_checksum (Σ_j j·c_j pins the pooled margins into
    the hash)."""
    n = len(rating_cols)
    if n < 2:
        raise ValueError("fleiss_kappa needs at least 2 raters")
    rated = df.select(
        *[c.cast("long").alias(f"_r{i}") for i, c in enumerate(rating_cols)]
    )
    cond = F.lit(True)
    for i in range(n):
        cond = cond & F.col(f"_r{i}").isNotNull()
    rated = rated.filter(cond)
    ssq = None
    for a in range(n):
        for b in range(n):
            term = (
                (F.col(f"_r{a}") == F.col(f"_r{b}"))
                .cast("long")
            )
            ssq = term if ssq is None else ssq + term
    base = rated.select(
        ssq.alias("ssq"),
        *[F.col(f"_r{i}") for i in range(n)],
    ).persist_tracked()  # the moment aggregate and the tally read this
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("ssq").cast("long").alias("sum_sq"),
    )
    cat_tot = (
        base.select(
            F.explode(
                F.array(*[F.col(f"_r{i}") for i in range(n)])
            ).alias("cat")
        )
        .groupBy("cat")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pe = cat_tot.crossJoin(F.broadcast(agg.select("n_items"))).agg(
        F.sum(
            (
                (
                    F.col("c").cast("double")
                    / (F.col("n_items").cast("double") * F.lit(float(n)))
                )
                * (
                    F.col("c").cast("double")
                    / (F.col("n_items").cast("double") * F.lit(float(n)))
                )
            ).cast("decimal(18,12)")
        )
        .cast("double")
        .alias("p_e"),
        F.sum(F.col("cat") * F.col("c")).cast("long").alias("cat_checksum"),
    )
    nid = F.col("n_items").cast("double")
    p_bar = F.try_divide(
        F.col("sum_sq").cast("double") - nid * F.lit(float(n)),
        nid * F.lit(float(n)) * F.lit(float(n - 1)),
    )
    return agg.crossJoin(F.broadcast(pe)).select(
        "n_items",
        F.lit(n).cast("long").alias("n_raters"),
        "sum_sq",
        p_bar.alias("p_bar"),
        "p_e",
        F.try_divide(p_bar - F.col("p_e"), F.lit(1.0) - F.col("p_e")).alias(
            "kappa"
        ),
        "cat_checksum",
    )


def cronbach_alpha(df: DataFrame, item_cols: "list[Column]") -> DataFrame:
    """Cronbach's α internal-consistency coefficient over k ≥ 2
    integral item scores measured on every subject —
    α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) — the "do these k quality
    signals measure ONE underlying thing" readout that decides
    whether a pipeline may average its heuristics into a single
    score (the scale-construction complement to fleiss_kappa's
    categorical agreement).

    Exactness: ONE map-side-combined aggregate of exact DECIMAL
    moments — per item (Σvᵢ, Σvᵢ² through DECIMAL(38,0)) plus the
    row-total pair (ΣX, ΣX², X = Σᵢvᵢ exact per row); every sample
    variance is the shared (n·Σv² − (Σv)²)/(n(n−1)) IEEE expression
    of exact integers; item variances are quantized DECIMAL(28,6)
    before the bounded k-term sum. Rows with any NULL item are
    excluded. Output: ONE row — n_subjects, k_items, sum_item_var,
    total_var, alpha."""
    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbach_alpha needs at least 2 items")
    d38 = "decimal(38,0)"
    d19 = "decimal(19,0)"
    rated = df.select(
        *[c.cast("long").alias(f"_v{i}") for i, c in enumerate(item_cols)]
    )
    cond = F.lit(True)
    for i in range(k):
        cond = cond & F.col(f"_v{i}").isNotNull()
    rated = rated.filter(cond)
    tot_expr = None
    for i in range(k):
        tot_expr = (
            F.col(f"_v{i}")
            if tot_expr is None
            else tot_expr + F.col(f"_v{i}")
        )
    rows = rated.withColumn("_x", tot_expr)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(k):
        vd = F.col(f"_v{i}").cast(d19)
        aggs.append(F.sum(vd).cast(d38).alias(f"s{i}"))
        aggs.append(F.sum((vd * vd).cast(d38)).cast(d38).alias(f"ss{i}"))
    xd = F.col("_x").cast(d19)
    aggs.append(F.sum(xd).cast(d38).alias("sx"))
    aggs.append(F.sum((xd * xd).cast(d38)).cast(d38).alias("sxx"))
    m = rows.agg(*aggs)
    nd = F.col("n").cast("double")

    def _var(s, ss):
        return F.try_divide(
            (F.col("n").cast(d38) * F.col(ss) - F.col(s) * F.col(s)).cast(
                "double"
            ),
            nd * (nd - F.lit(1.0)),
        )

    item_var_sum = None
    for i in range(k):
        vq = _var(f"s{i}", f"ss{i}").cast("decimal(28,6)")
        item_var_sum = vq if item_var_sum is None else item_var_sum + vq
    siv = item_var_sum.cast("double")
    tv = _var("sx", "sxx")
    alpha = (
        F.lit(float(k) / (k - 1))
        * (F.lit(1.0) - F.try_divide(siv, tv))
    )
    return m.select(
        F.col("n").alias("n_subjects"),
        F.lit(k).cast("long").alias("k_items"),
        siv.alias("sum_item_var"),
        tv.alias("total_var"),
        alpha.alias("alpha"),
    )


def page_trend_test(
    df: DataFrame, block_col: Column, treat_rank: Column, value_col: Column
) -> DataFrame:
    """Page's L trend test over complete blocks — Friedman's ORDERED
    alternative: given a hypothesized treatment ordering (passed as
    the integral ``treat_rank`` 1..k), L = Σⱼ j·Rⱼ weights each
    treatment's within-block rank sum by its hypothesized position,
    detecting monotone trends Friedman's omnibus χ² dilutes (the
    repeated-measures sibling of jonckheere_terpstra).

    Same doubled-rank machinery as friedman_test (2·rank + ties − 1
    keeps midranks integral; blocks missing any treatment drop;
    caller pre-aggregates to one row per (block, treatment)). L2 =
    Σⱼ j·R2ⱼ is an exact BIGINT (L = L2/2); the no-tie moments
    E[L] = b·k(k+1)²/4 and Var[L] = b·k²(k+1)²(k−1)/144 give the
    standard z — exact integers, one IEEE division (ties only
    perturb Var, and the caller contract pre-aggregates cells, so
    cell-value ties are measure-zero for continuous aggregates;
    documented approximation shared with the oracle).

    Output: ONE row — n_blocks, k_treatments, l2_stat, l_stat,
    e_l, var_l, z."""
    from pyspark.sql import Window

    cells = (
        df.select(
            block_col.alias("blk"),
            treat_rank.cast("long").alias("j"),
            value_col.alias("y"),
        )
        .filter(F.col("y").isNotNull() & F.col("j").isNotNull())
        .persist_tracked()  # k-count, completeness filter, ranks read this
    )
    k_total = cells.select("j").distinct().count()
    full = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == k_total)
        .select("blk")
    )
    kept = cells.join(F.broadcast(full), "blk")
    wb = Window.partitionBy("blk").orderBy("y")
    we = Window.partitionBy("blk", "y")
    ranked = kept.select(
        "blk",
        "j",
        (
            F.lit(2) * F.rank().over(wb)
            + F.count(F.lit(1)).over(we)
            - F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    m = ranked.agg(
        F.countDistinct("blk").cast("long").alias("n_blocks"),
        F.sum(F.col("j") * F.col("r2")).cast("long").alias("l2"),
    )
    b = F.col("n_blocks").cast("double")
    kf = float(k_total)
    l_stat = F.col("l2").cast("double") / F.lit(2.0)
    e_l = b * F.lit(kf * (kf + 1.0) * (kf + 1.0) / 4.0)
    var_l = b * F.lit(
        kf * kf * (kf + 1.0) * (kf + 1.0) * (kf - 1.0) / 144.0
    )
    return m.select(
        "n_blocks",
        F.lit(k_total).cast("long").alias("k_treatments"),
        F.col("l2").alias("l2_stat"),
        l_stat.alias("l_stat"),
        e_l.alias("e_l"),
        var_l.alias("var_l"),
        F.try_divide(l_stat - e_l, F.sqrt(var_l)).alias("z"),
    )


def ordinal_association(
    df: DataFrame, x_col: Column, y_col: Column
) -> DataFrame:
    """Goodman–Kruskal gamma + both Somers' D directions (and τ-b
    for cross-reference) between two DOMAIN-bounded integral ordinal
    columns — the full concordance readout kendall_tau_b's single
    number summarizes: gamma ignores ties entirely (the optimistic
    bound), Somers' D_yx penalizes ties on the DEPENDENT axis only
    (the directional measure a "does X predict Y's order" question
    wants), and the spread between them IS the tie diagnosis.

    Same cell-table theta-join machinery as kendall_tau_b (|X|·|Y|
    broadcast-size cells, ONE fact scan, pair counts exact BIGINTs):
    C/D from the x₁<x₂ cell join; tie pairs decompose as
    T_y_only = Σ_y t(t−1)/2 − Σ_cell c(c−1)/2 (pairs tied on y but
    not both). Every statistic is one IEEE expression of exact
    longs. Output: ONE row — n_rows, concordant, discordant,
    ties_x_only, ties_y_only, ties_both, gamma, somers_d_yx,
    somers_d_xy, tau_b."""
    d38 = "decimal(38,0)"
    cells = (
        df.select(
            x_col.cast("long").alias("x"), y_col.cast("long").alias("y")
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # theta join sides + marginals read this
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("c").alias("c2")
    )
    pairs = cells.join(F.broadcast(b), F.col("x") < F.col("x2"))
    cd = pairs.agg(
        F.sum(
            F.when(
                F.col("y") < F.col("y2"), F.col("c") * F.col("c2")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                F.col("y") > F.col("y2"), F.col("c") * F.col("c2")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("discordant"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("tie2_x"),
            F.sum("t").cast("long").alias("n_rows"),
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").cast("long").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("long").alias("tie2_y"))
    )
    tb = cells.agg(
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("tie2_both")
    )
    j = (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tb))
    )
    cdiff = (
        F.col("concordant").cast("double") - F.col("discordant").cast("double")
    )
    csum = (
        F.col("concordant").cast("double") + F.col("discordant").cast("double")
    )
    ty_only = (F.col("tie2_y") - F.col("tie2_both")).cast("long")
    tx_only = (F.col("tie2_x") - F.col("tie2_both")).cast("long")
    n = F.col("n_rows").cast(d38)
    n0x2 = n * (n - 1)
    den_tau = F.sqrt(
        (n0x2 - F.col("tie2_x").cast(d38)).cast("double")
    ) * F.sqrt((n0x2 - F.col("tie2_y").cast(d38)).cast("double"))
    return j.select(
        "n_rows",
        "concordant",
        "discordant",
        (tx_only / F.lit(2)).cast("long").alias("ties_x_only"),
        (ty_only / F.lit(2)).cast("long").alias("ties_y_only"),
        (F.col("tie2_both") / F.lit(2)).cast("long").alias("ties_both"),
        F.try_divide(cdiff, csum).alias("gamma"),
        F.try_divide(
            cdiff, csum + ty_only.cast("double") / F.lit(2.0)
        ).alias("somers_d_yx"),
        F.try_divide(
            cdiff, csum + tx_only.cast("double") / F.lit(2.0)
        ).alias("somers_d_xy"),
        (F.lit(2.0) * cdiff / den_tau).alias("tau_b"),
    )


def poisson_rate_test(
    df: DataFrame,
    a_ind: Column,
    b_ind: Column,
    a_exposure: float,
    b_exposure: float,
) -> DataFrame:
    """Two-sample Poisson rate comparison — are events arriving
    FASTER in window A than window B, per unit exposure? The
    count-process companion to welch_t_test's mean contrast: counts
    k_a, k_b with known exposures T_a, T_b give rate difference
    z = (k_a/T_a − k_b/T_b)/√(k_a/T_a² + k_b/T_b²) (the Wald form)
    and the conditional-binomial exact check: given n = k_a + k_b,
    k_a ~ Bin(n, T_a/(T_a+T_b)) under H₀ — both emitted.

    Exposures are caller-supplied constants (day counts, user-hours)
    — injected as identical literals into engine and oracle.
    Exactness: the ONLY data reduction is one conditional count
    aggregate; every statistic is a shared IEEE expression of two
    exact BIGINTs and two literals. Output: ONE row — k_a, k_b,
    exposure_a, exposure_b, rate_a, rate_b, rate_ratio, z_wald,
    z_binomial."""
    m = df.select(
        a_ind.cast("int").alias("_a"), b_ind.cast("int").alias("_b")
    ).agg(
        F.sum("_a").cast("long").alias("ka"),
        F.sum("_b").cast("long").alias("kb"),
    )
    ta, tb = float(a_exposure), float(b_exposure)
    kad, kbd = F.col("ka").cast("double"), F.col("kb").cast("double")
    ra = kad / F.lit(ta)
    rb = kbd / F.lit(tb)
    z_wald = F.try_divide(
        ra - rb,
        F.sqrt(
            kad / F.lit(ta * ta) + kbd / F.lit(tb * tb)
        ),
    )
    p0 = ta / (ta + tb)
    n = kad + kbd
    z_bin = F.try_divide(
        kad - n * F.lit(p0),
        F.sqrt(n * F.lit(p0 * (1.0 - p0))),
    )
    return m.select(
        F.col("ka").alias("k_a"),
        F.col("kb").alias("k_b"),
        F.lit(ta).alias("exposure_a"),
        F.lit(tb).alias("exposure_b"),
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        F.try_divide(ra, rb).alias("rate_ratio"),
        z_wald.alias("z_wald"),
        z_bin.alias("z_binomial"),
    )


def yuen_trimmed_test(
    df: DataFrame,
    value_col: Column,
    a_ind: Column,
    b_ind: Column,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-mean two-sample test — the robust middle ground
    between welch_t_test (means; wrecked by outliers) and
    mannwhitney_u (ranks; discards magnitude): compare γ-trimmed
    means with winsorized variances, so the heavy tails real revenue
    / length data carry can't drive the verdict.

    Contract: value_col is DOMAIN-BOUNDED integral (the mood/kendall
    cell convention — the distinct-value table must be window-safe).
    Shape: ONE conditional fact reduction to per-value (count_a,
    count_b) cells (persisted); per-side cumulative ranks via a
    window over the bounded cell table; every trimmed/winsorized sum
    is EXACT integer arithmetic — a cell spanning ranks
    (cum−c, cum] contributes v·(min(cum, n−g) − max(cum−c, g))⁺ to
    the trimmed sum, the g clamped tail ranks contribute the exact
    order statistics v_(g+1) / v_(n−g) — no float enters until the
    final closed-form t/df, written identically in the oracle.
    g = ⌊n·trim⌋ evaluates the same IEEE product in both engines.

    Output: ONE row — n_a, n_b, g_a, g_b, trimmed_mean_a,
    trimmed_mean_b, winsor_var_a, winsor_var_b, t_stat, df."""
    from pyspark.sql import Window

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
        .persist_tracked()  # totals + both side passes read this
    )
    tot = cells.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "v",
        "ca",
        "cb",
        F.sum("ca").over(w).cast("long").alias("cuma"),
        F.sum("cb").over(w).cast("long").alias("cumb"),
    ).crossJoin(F.broadcast(tot))

    def side(tag, c, cm, n):
        g = F.floor(n.cast("double") * F.lit(float(trim))).cast("long")
        lo_rank = g  # ranks <= g clamp low
        hi_rank = n - g  # ranks > n-g clamp high
        mid = F.greatest(
            F.lit(0).cast("long"),
            F.least(cm, hi_rank) - F.greatest(cm - c, lo_rank),
        )
        vd = F.col("v").cast("decimal(19,0)")
        midd = mid.cast("decimal(19,0)")
        # order statistics v_(g+1) and v_(n-g): first v whose cum
        # reaches the rank
        v_lo = F.min(
            F.when(cm >= g + 1, F.col("v"))
        )
        v_hi = F.min(
            F.when(cm >= hi_rank, F.col("v"))
        )
        return [
            F.max(n).alias(f"n_{tag}"),
            F.max(g).alias(f"g_{tag}"),
            F.sum((vd * midd).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"ts_{tag}"),
            F.sum(((vd * vd).cast("decimal(38,0)") * midd).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"tss_{tag}"),
            v_lo.cast("long").alias(f"vlo_{tag}"),
            v_hi.cast("long").alias(f"vhi_{tag}"),
        ]

    m = cum.agg(
        *side("a", F.col("ca"), F.col("cuma"), F.col("na")),
        *side("b", F.col("cb"), F.col("cumb"), F.col("nb")),
    )

    def stats(tag):
        n = F.col(f"n_{tag}").cast("double")
        nl = F.col(f"n_{tag}")
        g = F.col(f"g_{tag}")
        gd = g.cast("double")
        h = (nl - 2 * g).cast("long")
        hd = h.cast("double")
        ts = F.col(f"ts_{tag}").cast("double")
        tss = F.col(f"tss_{tag}").cast("double")
        vlo = F.col(f"vlo_{tag}").cast("double")
        vhi = F.col(f"vhi_{tag}").cast("double")
        tm = F.try_divide(ts, hd)
        ws = ts + gd * vlo + gd * vhi
        wss = tss + gd * vlo * vlo + gd * vhi * vhi
        s2w = F.try_divide(
            n * wss - ws * ws, n * (n - F.lit(1.0))
        )
        d = F.try_divide(
            (n - F.lit(1.0)) * s2w, hd * (hd - F.lit(1.0))
        )
        return tm, s2w, d, hd

    tma, s2a, da, ha = stats("a")
    tmb, s2b, db, hb = stats("b")
    t = F.try_divide(tma - tmb, F.sqrt(da + db))
    dof = F.try_divide(
        (da + db) * (da + db),
        da * da / (ha - F.lit(1.0)) + db * db / (hb - F.lit(1.0)),
    )
    return m.select(
        F.col("n_a"),
        F.col("n_b"),
        F.col("g_a"),
        F.col("g_b"),
        tma.alias("trimmed_mean_a"),
        tmb.alias("trimmed_mean_b"),
        s2a.alias("winsor_var_a"),
        s2b.alias("winsor_var_b"),
        t.alias("t_stat"),
        dof.alias("df"),
    )
