"""Grouped inference statistics: exact-moment OLS trend lines and a
chi-squared independence test (SURVEY.md §2d [EXT] A8 — the
statistical-profile tier; the reference's only statistics are sum and
mean, `top_movies.py:140,143`).

Both operators follow the repo's exactness contract for float
oracles: every data-dependent reduction happens in DECIMAL (exact,
order-independent), and only then does a shared closed-form IEEE
double formula run on bit-identical inputs — so Spark and the DuckDB
oracle agree bit-for-bit regardless of partial-aggregation order.

Scale posture:

* ``grouped_ols`` is one hash aggregate over (group, x, y) rows —
  five mergeable moment sums per group, partial-agg map-side, no
  window, no second pass. Groups × O(1) state.
* ``chi2_contingency`` aggregates the base table ONCE into the
  persisted (row_var, col_var) cell table; row/col totals are
  partitioned windows over it and the grand total is a 1-row
  broadcast scalar (cells ≈ |row domain| × |col domain| —
  data-independent). The 100 TB fact table is scanned exactly once.
* ``quantile_rank_map`` is the global-rank transform computed by the
  bucketed two-pass (sketch bounds + exact per-bucket cumulatives) —
  never an Exchange SinglePartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def grouped_ols(
    points: DataFrame,
    group_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
    y_scale: int = 4,
) -> DataFrame:
    """Per-group least-squares line y = slope*x + intercept (+ r2).

    Expects integer ``x`` and DECIMAL(·, y_scale) ``y`` (caller
    casts). Internally y is rescaled to the integer domain Y = y·10^s
    and every moment is a SCALE-0 decimal: a scale-0 decimal→double
    cast is one correctly-rounded integer conversion in both engines,
    whereas casting a fractional-scale wide decimal goes through
    double(int128)/10^s — TWO roundings, which DuckDB and the JVM
    resolve differently at the ulp (observed on Σy²; that ulp then
    amplifies through the r² cancellation). The slope/intercept
    formulas divide the 10^s back out as a final IEEE op shared with
    the oracle; r² is scale-invariant. Extends the closed form of
    ``corr_price_quantity`` (relational_ext_queries.py) to the
    regression coefficients.
    """
    x = F.col(x_col).cast("decimal(10,0)")
    ys = (F.col(y_col) * (10**y_scale)).cast("decimal(20,0)")
    m = points.withColumn("_ys", ys).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum("_ys").cast("double").alias("sy"),
        F.sum((x * F.col("_ys")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("_ys").cast("decimal(18,0)") * F.col("_ys")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n_points").cast("double")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    unscale = F.lit(float(10**y_scale))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope_s = num / den
    intercept_s = (sy - slope_s * sx) / n
    r2 = (num * num) / (den * (n * syy - sy * sy))
    return m.select(
        *group_cols,
        "n_points",
        (slope_s / unscale).alias("slope"),
        (intercept_s / unscale).alias("intercept"),
        r2.alias("r2"),
    )


def chi2_contingency(
    rows: DataFrame,
    row_var: str,
    col_var: str,
) -> DataFrame:
    """Per-cell chi-squared decomposition of a contingency table:
    observed count, expected count under independence, and the cell's
    chi² contribution (o−e)²/e.

    Emitting per-cell contributions (rather than one pre-summed
    scalar) keeps every value a closed-form function of exact integer
    aggregates — bit-identical across engines — and is also the more
    useful output: the large-residual cells ARE the finding. The
    caller (or the oracle reader) sums ``chi2_term`` for the global
    statistic with dof = (R−1)(C−1).

    Caveat: only OBSERVED (count > 0) cells are emitted, so summing
    ``chi2_term`` understates χ² by Σ e over the empty cells of a
    sparse table (each contributes (0−e)²/e = e). For the global
    statistic over a possibly-sparse table use ``cramers_v`` below,
    whose observed-cells-only identity χ² = n·(Σ o²/(row·col) − 1)
    is exact regardless of sparsity.
    """
    # The cell table's cardinality is |row domain| × |col domain| —
    # data-independent and tiny — and BOTH the totals projection and
    # the grand-total scalar read it, so it is persisted: the 100 TB
    # base is scanned exactly once (Catalyst's ReuseExchange does not
    # unify the two aggregate branches here). Row/col totals are
    # PARTITIONED windows over the cached cells; the grand total is a
    # 1-row aggregate cross-joined back (the quality_filtered
    # broadcast-scalar pattern) — no Window-over-() anywhere (a
    # lit(1) partition spec would constant-fold to exactly that).
    cells = (
        rows.groupBy(row_var, col_var)
        .agg(F.count(F.lit(1)).alias("observed"))
        .persist_tracked()
    )
    w_row = Window.partitionBy(row_var)
    w_col = Window.partitionBy(col_var)
    grand = cells.agg(F.sum("observed").alias("grand_total"))
    totals = cells.select(
        row_var,
        col_var,
        "observed",
        F.sum("observed").over(w_row).alias("row_total"),
        F.sum("observed").over(w_col).alias("col_total"),
    ).crossJoin(F.broadcast(grand))
    o = F.col("observed").cast("double")
    # totals are cast to double BEFORE the product: at 100 TB the
    # bigint product row_total*col_total (~N²) would overflow long
    # before the double loses anything that matters here.
    e = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand_total").cast("double")
    )
    return totals.select(
        row_var,
        col_var,
        "observed",
        e.alias("expected"),
        ((o - e) * (o - e) / e).alias("chi2_term"),
    )


def quantile_rank_map(
    df: DataFrame, value_col: str, buckets: int | None = None
) -> DataFrame:
    """Global quantile normalization WITHOUT a global sort: the map
    value → percent-rank ``(rows strictly below) / (N − 1)`` — the
    rank-based feature transform (quantile normalization, copula
    features, drift-stable scaling). Joining this (distinct-value-
    sized) map back to the fact normalizes every row.

    A bare ``Window.orderBy(value)`` would plan Exchange
    SinglePartition; instead the shuffle_deterministic two-pass:

    1. distinct-value counts (one shuffle, map-side combined);
    2. approx_percentile bounds split values into `buckets` contiguous
       ranges (the sketch only PLACES bucket boundaries — every rank
       below is exact);
    3. per-bucket cumulative counts (windows partitioned by bucket) +
       driver prefix-summed bucket offsets (≤ buckets rows collected)
       give the exact global min-rank of every value in parallel.

    Output: value, n_rows (ties), pct ∈ [0, 1]."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(int(n), 4096))

    vc = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    if n > 1:
        bounds = df.agg(
            F.percentile_approx(
                value_col, F.lit([i / n for i in range(1, n)]), F.lit(10_000)
            ).alias("b")
        ).collect()[0]["b"]
    else:
        bounds = []
    bounds = sorted(set(bounds or []))
    # empty bounds (single bucket / shuffle.partitions=1): bucket 0
    # for every row, consistent with the offsets loop — the old [-inf]
    # sentinel sent rows to bucket 1, which the offsets table lacks
    # (the gini_exact r3 fix, applied here too)
    bucket = (
        F.size(F.filter(F.lit(bounds), lambda b: F.col("v") > b))
        if bounds
        else F.lit(0)
    )
    vb = vc.withColumn("_bucket", bucket)
    totals = {
        r["_bucket"]: r["t"]
        for r in vb.groupBy("_bucket").agg(F.sum("c").alias("t")).collect()
    }
    offsets, running = [], 0
    for b in range(len(bounds) + 1):
        offsets.append((b, running))
        running += totals.get(b, 0)
    grand_n = running
    off = local_frame(spark, offsets, "_bucket int, _offset long")
    w = Window.partitionBy("_bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    denom = float(max(grand_n - 1, 1))
    return (
        vb.withColumn("_cum", F.sum("c").over(w))
        .join(F.broadcast(off), "_bucket")
        .select(
            F.col("v").alias("value"),
            F.col("c").alias("n_rows"),
            (
                (F.col("_offset") + F.col("_cum") - F.col("c")).cast("double")
                / F.lit(denom)
            ).alias("pct"),
        )
    )


def grouped_theilsen(
    points: DataFrame, keys: list[str], x_col: str, y_col: str
) -> DataFrame:
    """Theil–Sen robust trend per group: slope = median of all
    pairwise slopes, intercept = median of per-point residual
    intercepts under that slope — up to ~29% outlier contamination
    leaves the estimate intact, the breakdown-point companion to
    grouped_ols exactly as MAD is to stddev.

    Input contract: y_col is an exact DECIMAL (cast to double here,
    identically in the oracle), x_col integer. Output: keys,
    n_points, n_pairs, ts_slope, ts_intercept.

    Scale: pairwise slopes are quadratic IN THE GROUP SIZE — correct
    here because the input is an already-aggregated series (months ×
    group: ~100 points → ~5k pairs per group), never the fact table;
    the medians are exact percentiles over those bounded pair sets.
    The fact-sized work happened upstream in the series aggregation."""
    # three branches read the series (both pair sides + the residual
    # pass) — uncached, the upstream fact joins would run three times
    points = points.persist_tracked()
    a = points.select(
        *keys,
        F.col(x_col).alias("x1"),
        F.col(y_col).cast("double").alias("y1"),
    )
    b = points.select(
        *keys,
        F.col(x_col).alias("x2"),
        F.col(y_col).cast("double").alias("y2"),
    )
    pairs = a.join(b, keys).filter(F.col("x1") < F.col("x2"))
    slopes = pairs.select(
        *keys,
        (
            (F.col("y2") - F.col("y1"))
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope"),
    )
    med_slope = slopes.groupBy(*keys).agg(
        F.percentile("slope", F.lit(0.5)).alias("ts_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    resid = points.join(med_slope, keys).select(
        *keys,
        "ts_slope",
        "n_pairs",
        (
            F.col(y_col).cast("double")
            - F.col("ts_slope") * F.col(x_col).cast("double")
        ).alias("b0"),
    )
    return resid.groupBy(*keys, "ts_slope", "n_pairs").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.percentile("b0", F.lit(0.5)).alias("ts_intercept"),
    ).select(*keys, "n_points", "n_pairs", "ts_slope", "ts_intercept")


def gini_exact(df: DataFrame, value_col: str) -> DataFrame:
    """Exact Gini coefficient of a value distribution WITHOUT a global
    sort — the inequality/concentration metric ("what share of revenue
    do the top customers hold") computed distributively.

    From the rank identity G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the
    ascending sort, a TIE GROUP of value v with c rows and r rows
    strictly below contributes v·(c·r + c(c+1)/2) to Σ i·x₍ᵢ₎ — so the
    whole statistic reduces over the DISTINCT-VALUE table with exact
    min-ranks, which the quantile_rank_map bucketing already computes
    scalably (sketch-placed contiguous buckets, per-bucket cumulative
    counts, driver prefix-sum of ≤buckets offsets — never an Exchange
    SinglePartition).

    Input contract: value_col is an exact DECIMAL. Output: one row —
    n_values, total (double), gini (double)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n_b = max(
        1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), 4096)
    )
    vc = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    if n_b > 1:
        bounds = df.agg(
            F.percentile_approx(
                value_col,
                F.lit([i / n_b for i in range(1, n_b)]),
                F.lit(10_000),
            ).alias("b")
        ).collect()[0]["b"]
        bounds = sorted(set(float(b) for b in (bounds or [])))
    else:
        bounds = []
    if bounds:
        vb = vc.withColumn(
            "_bucket",
            F.size(F.filter(F.lit(bounds), lambda b: F.col("v") > b)),
        )
    else:
        # single-bucket degenerate case (shuffle.partitions=1 or empty
        # input): bucket 0 so the offsets table below still covers it
        vb = vc.withColumn("_bucket", F.lit(0))
    totals = {
        r["_bucket"]: r["t"]
        for r in vb.groupBy("_bucket").agg(F.sum("c").alias("t")).collect()
    }
    offsets, running = [], 0
    for b in range(len(bounds) + 1):
        offsets.append((b, running))
        running += totals.get(b, 0)
    off = local_frame(spark, offsets, "_bucket int, _offset long")
    w = Window.partitionBy("_bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = (
        vb.withColumn("_cum", F.sum("c").over(w))
        .join(F.broadcast(off), "_bucket")
        .withColumn("_r", F.col("_offset") + F.col("_cum") - F.col("c"))
    )
    # rank-weight per tie group: c*r + c(c+1)/2 in DECIMAL end to end
    # (long products overflow at c·r > 9.2e18; a double intermediate
    # loses exactness past 2^53). c·(c+1) is always even so the /2 at
    # decimal scale is exact; the final cast keeps the weight in
    # decimal(19,0) so v * weight stays inside precision 38 (the DSIR
    # trap) — exact for n up to ~4.3e9 rows per statistic.
    cd = F.col("c").cast("decimal(19,0)")
    rd = F.col("_r").cast("decimal(19,0)")
    wsum = (cd * rd + (cd * (cd + F.lit(1))) / F.lit(2)).cast(
        "decimal(19,0)"
    )
    agg = ranked.agg(
        F.sum("c").cast("long").alias("n_values"),
        F.sum(F.col("v") * F.col("c").cast("decimal(10,0)")).alias("_s1"),
        F.sum(F.col("v") * wsum).alias("_s2"),
    )
    n = F.col("n_values").cast("double")
    return agg.select(
        "n_values",
        F.col("_s1").cast("double").alias("total"),
        (
            F.lit(2.0)
            * F.col("_s2").cast("double")
            / (n * F.col("_s1").cast("double"))
            - (n + 1) / n
        ).alias("gini"),
    )


def histogram_mergeable_rollup(
    df: DataFrame,
    group_col: str,
    day_col,
    value_col: str,
    lo: float,
    step: float,
    n_bins: int,
) -> DataFrame:
    """Mergeable fixed-bin histogram rollup — the quantile sibling of
    the HLL rollup (operators/hllsketch.py) and the streaming CMS: the
    per-(group, day) equi-width histogram is the STORED artifact (at
    most n_bins counters per cell, KBs per group regardless of data
    volume), and every coarser level merges by summing bin counts
    instead of rescanning the fact. At 100 TB the daily build is the
    only pass over events; dashboards above it touch only
    |groups|·|days|·n_bins rows. Unlike sketch quantiles, bin counts
    are EXACT integers, so merge == rescan is an identity — the
    registered query's DuckDB oracle computes the rollup directly
    from the fact, making the merge path value-hash checkable.

    Binning: bin = clamp(floor((value − lo)/step), 0, n_bins−1) in
    IEEE doubles — identical arithmetic on both engines; NULL values
    are excluded. Output: group, bin, n_events (merged count),
    n_daily_cells (how many daily artifacts merged into the row).
    """
    v = F.col(value_col)
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(step)).cast("int")),
    )
    daily = (
        df.filter(v.isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            day_col.alias("day"),
            bin_.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        daily.groupBy("grp", "bin")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_daily_cells"),
        )
        .orderBy("grp", "bin")
    )


def coverage_topfrac(
    df: DataFrame, value_col: str, pcts: list[int]
) -> DataFrame:
    """Concentration curve: for each requested top-percent p of rows
    (ranked by value descending), exactly how much of the total value
    do they hold?  The Lorenz-curve reading of gini_exact — "the top
    1% of documents carry 9% of the corpus characters" — the number a
    curation team checks before length-capping or re-mixing a corpus.

    Same no-global-sort contract as roc_curve: the fact reduces to
    the DISTINCT-VALUE table (bounded by the value DOMAIN — document
    lengths, prices in cents — not the row count); cumulative
    (rows ≥ v, value-sum ≥ v) comes from a theta self-join of that
    bounded table with map-side-combined sums, never an Exchange
    SinglePartition window.  Tie groups at the threshold value are
    pro-rated EXACTLY in integers: with k = ceil(p·N/100) target rows
    and t the k-th largest value, covered = sum≥t − (rows≥t − k)·t.

    Output (one row per requested percent, ascending): pct_docs,
    k_docs, threshold_value, covered_value, total_value,
    share = covered/total (one IEEE division of exact integers).
    Input contract: value_col is a non-negative integral column;
    sums are documented exact for N·max(value) < 2^63.
    """
    spark = df.sparkSession
    vc = (
        df.groupBy(F.col(value_col).cast("long").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("s", F.col("v") * F.col("c"))
        .persist_tracked()  # theta-join sides + totals over |V| rows
    )
    b = vc.select(
        F.col("v").alias("v2"), F.col("c").alias("c2"), F.col("s").alias("s2")
    )
    cum = (
        vc.join(F.broadcast(b), F.col("v2") >= F.col("v"))
        .groupBy("v")
        .agg(
            F.sum("c2").cast("long").alias("rows_ge"),
            F.sum("s2").cast("long").alias("sum_ge"),
        )
    )
    totals = vc.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum("s").cast("long").alias("s_total"),
    )
    fr = local_frame(spark, [(int(p),) for p in pcts], "pct_docs int")
    with_k = fr.crossJoin(F.broadcast(totals)).withColumn(
        "k_docs",
        F.floor(
            (F.col("pct_docs").cast("long") * F.col("n_total") + F.lit(99))
            / F.lit(100)
        ).cast("long"),
    )
    picked = (
        cum.join(F.broadcast(with_k), F.col("rows_ge") >= F.col("k_docs"))
        .groupBy("pct_docs", "k_docs", "n_total", "s_total")
        .agg(F.max(F.struct("v", "rows_ge", "sum_ge")).alias("_t"))
    )
    covered = F.col("_t.sum_ge") - (
        F.col("_t.rows_ge") - F.col("k_docs")
    ) * F.col("_t.v")
    return picked.select(
        "pct_docs",
        "k_docs",
        F.col("_t.v").alias("threshold_value"),
        covered.alias("covered_value"),
        "s_total",
        (covered.cast("double") / F.col("s_total").cast("double")).alias(
            "share"
        ),
    ).orderBy("pct_docs")


def weighted_quantiles(
    df: DataFrame,
    value_col,
    weight_col,
    quantiles: tuple = ((25, 100), (50, 100), (75, 100)),
    buckets: int | None = None,
) -> DataFrame:
    """Exact WEIGHTED quantiles without a global sort — "the price
    below which half the shipped QUANTITY sits", the inventory /
    revenue-mass view that unweighted percentiles misstate whenever
    weight correlates with value.

    Definition (integer-exact, no float thresholds): quantile
    q = num/den is the smallest value v whose inclusive cumulative
    weight satisfies den·cumw(v) ≥ num·W — the left-continuous
    weighted quantile, compared by integer cross-multiplication in
    both engines.

    Shape: the quantile_rank_map two-pass, cumulating WEIGHT instead
    of row count — distinct-value weight table (one map-side-combined
    shuffle), approx_percentile bounds place buckets (placement
    heuristic, every weight below exact), per-bucket windows +
    driver-prefix-summed offsets give exact global cumw in parallel;
    all requested quantiles then reduce the |V|-row cum table in one
    aggregate. Never an Exchange SinglePartition window.

    Output: one row per quantile — q_num, q_den, value, cum_weight,
    total_weight, ordered by q_num/q_den ascending.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(int(n), 4096))

    rows = df.select(
        value_col.cast("long").alias("v"), weight_col.cast("long").alias("w")
    ).filter(F.col("v").isNotNull() & F.col("w").isNotNull())
    vc = (
        rows.groupBy("v")
        .agg(F.sum("w").cast("long").alias("ws"))
        .persist_tracked()  # bounds + bucket totals + windows read this
    )
    if n > 1:
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
        r["_bucket"]: r["t"]
        for r in vb.groupBy("_bucket")
        .agg(F.sum("ws").cast("long").alias("t"))
        .collect()
    }
    offsets, running = [], 0
    for b in range(len(bounds) + 1):
        offsets.append((b, running))
        running += totals.get(b, 0)
    total_w = running
    off = local_frame(spark, offsets, "_bucket int, _offset long")
    w = Window.partitionBy("_bucket").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        vb.withColumn("_cw", F.sum("ws").over(w))
        .join(F.broadcast(off), "_bucket")
        .select(
            "v",
            (F.col("_offset") + F.col("_cw")).cast("long").alias("cumw"),
        )
    )
    picks = [
        F.min(
            F.when(
                F.col("cumw") * F.lit(int(den)) >= F.lit(int(num) * total_w),
                F.struct(F.col("v"), F.col("cumw")),
            )
        ).alias(f"_q{i}")
        for i, (num, den) in enumerate(quantiles)
    ]
    m = cum.agg(*picks)
    out = None
    for i, (num, den) in enumerate(quantiles):
        row = m.select(
            F.lit(int(num)).cast("int").alias("q_num"),
            F.lit(int(den)).cast("int").alias("q_den"),
            F.col(f"_q{i}.v").alias("value"),
            F.col(f"_q{i}.cumw").alias("cum_weight"),
            F.lit(int(total_w)).cast("long").alias("total_weight"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.col("q_num").cast("double") / F.col("q_den"))


def corr_matrix(df: DataFrame, features: "dict[str, Column]") -> DataFrame:
    """Pairwise Pearson correlation matrix over k integral measures in
    ONE fact pass — the profiling step run before feature selection or
    PCA (corr_price_quantity answers one designed pair; this screens
    all k(k−1)/2 of them at once, the numeric companion to
    feature_info_gain's categorical sweep).

    Shape: ONE map-side-combined aggregate producing n + k exact
    DECIMAL(38,0) sums + k squares + k(k−1)/2 cross-products (all
    from the same row vector — no stacked explode needed, unlike the
    categorical sweep); the matrix rows unpivot from that single
    moment row with a bounded stack. Rows with ANY NULL feature are
    excluded (complete-case contract, so every pair shares one n).

    Exactness: centered sums n·Σxy − ΣxΣy are exact DECIMAL
    differences cast to double once; corr is one shared closed form
    (√·√ denominator, both correctly rounded) ⇒ value-hash exact.
    Zero-variance features yield NULL via try_divide.

    Output: k(k−1)/2 rows — feat_a, feat_b (feat_a < feat_b
    alphabetically by construction of the caller's dict order),
    n_rows, corr — ordered by feat_a, feat_b.
    """
    d38 = "decimal(38,0)"
    names = list(features)
    rows = df.select(
        *[expr.cast("long").alias(n) for n, expr in features.items()]
    )
    cond = None
    for n in names:
        c = F.col(n).isNotNull()
        cond = c if cond is None else (cond & c)
    rows = rows.filter(cond)

    def d19(n):
        return F.col(n).cast("decimal(19,0)")

    aggs = [F.count(F.lit(1)).cast(d38).alias("n")]
    for n in names:
        aggs.append(F.sum(d19(n)).cast(d38).alias(f"s_{n}"))
        aggs.append(
            F.sum((d19(n) * d19(n)).cast(d38)).cast(d38).alias(f"ss_{n}")
        )
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum((d19(a) * d19(b)).cast(d38))
            .cast(d38)
            .alias(f"sx_{a}_{b}")
        )
    mom = rows.agg(*aggs)

    n_ = F.col("n")

    def corr(a, b):
        cxy = (n_ * F.col(f"sx_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
            "double"
        )
        cxx = (n_ * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
            "double"
        )
        cyy = (n_ * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
            "double"
        )
        return F.try_divide(cxy, F.sqrt(cxx) * F.sqrt(cyy))

    out = mom.select(
        n_.cast("long").alias("n_rows"),
        *[corr(a, b).alias(f"c_{a}_{b}") for a, b in pairs],
    )
    stacked = out.select(
        "n_rows",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("feat_a"),
                        F.lit(b).alias("feat_b"),
                        F.col(f"c_{a}_{b}").alias("corr"),
                    )
                    for a, b in pairs
                ]
            )
        ).alias("e"),
    )
    return stacked.select(
        F.col("e.feat_a").alias("feat_a"),
        F.col("e.feat_b").alias("feat_b"),
        "n_rows",
        F.col("e.corr").alias("corr"),
    ).orderBy("feat_a", "feat_b")


def group_percentiles(
    df: DataFrame,
    group_col: str,
    cents_col: Column,
    quantiles: "tuple[tuple[str, int, int], ...]" = (
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
) -> DataFrame:
    """Exact per-group percentile readout — the "p50/p90/p99 per
    segment" table every warehouse dashboard starts from, as exact
    order statistics (left-continuous selection: the ⌈q·n⌉-th
    smallest, an actual observed value, matching weighted_quantiles'
    global convention).

    Shape: ONE fact shuffle to the per-group (value, count) cell
    table (persisted); a per-GROUP window cumulates the cells (sorts
    are distributed BY GROUP — the split_conformal median pattern);
    the bounded quantile list broadcast-joins in and each (group,
    quantile) picks its ⌈num·n/den⌉-th value with exact integer
    rank arithmetic. Never a global sort.

    Exactness: ranks and picked values are exact longs ⇒ value-hash
    exact.

    Output: |groups|·|quantiles| rows — group, quantile, n_group,
    value_cents — ordered by group, quantile.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    cells = (
        df.select(
            F.col(group_col).alias("g"),
            cents_col.cast("long").alias("v"),
        )
        .filter(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist_tracked()  # group totals + cumulative read this
    )
    ng = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    w = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("_cum", F.sum("c").over(w)).join(
        F.broadcast(ng), "g"
    )
    q = local_frame(
        spark,
        list(quantiles), "quantile string, num long, den long"
    )
    k = F.floor(
        (F.col("num") * F.col("n_g") + F.col("den") - F.lit(1))
        / F.col("den")
    ).cast("long")
    return (
        cum.crossJoin(F.broadcast(q))
        .filter(F.col("_cum") >= k)
        .groupBy("g", "quantile", "n_g")
        .agg(F.min("v").cast("long").alias("value_cents"))
        .select(
            F.col("g").alias("group"),
            "quantile",
            F.col("n_g").alias("n_group"),
            "value_cents",
        )
        .orderBy("group", "quantile")
    )


def partial_correlation(
    df: DataFrame, x: Column, y: Column, z: Column
) -> DataFrame:
    """First-order partial correlation — the x↔y association with a
    confounder z HELD FIXED:

        r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))

    the screening number that says whether a raw pairwise correlation
    from corr_matrix survives conditioning (r_xy large but r_xy·z ≈ 0
    means z explains the pair).

    Shape/exactness: corr_matrix's single nine-moment DECIMAL
    aggregate (complete-case rows); each r is the shared exact-
    centered-sums closed form and the partial is one further shared
    IEEE expression ⇒ value-hash exact. Degenerate variance or
    |r| = 1 denominators yield NULL via try_divide.

    Output: ONE row — n_rows, r_xy, r_xz, r_yz, pcorr_xy_given_z."""
    d38 = "decimal(38,0)"
    rows = df.select(
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
        z.cast("long").alias("z"),
    ).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull() & F.col("z").isNotNull()
    )

    def d19(n):
        return F.col(n).cast("decimal(19,0)")

    names = ("x", "y", "z")
    aggs = [F.count(F.lit(1)).cast(d38).alias("n")]
    for n in names:
        aggs.append(F.sum(d19(n)).cast(d38).alias(f"s_{n}"))
        aggs.append(F.sum((d19(n) * d19(n)).cast(d38)).cast(d38).alias(f"ss_{n}"))
    for a, b in (("x", "y"), ("x", "z"), ("y", "z")):
        aggs.append(
            F.sum((d19(a) * d19(b)).cast(d38)).cast(d38).alias(f"sx_{a}{b}")
        )
    mom = rows.agg(*aggs)
    n_ = F.col("n")

    def corr(a, b):
        cxy = (n_ * F.col(f"sx_{a}{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
            "double"
        )
        cxx = (n_ * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
            "double"
        )
        cyy = (n_ * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
            "double"
        )
        return F.try_divide(cxy, F.sqrt(cxx) * F.sqrt(cyy))

    rxy, rxz, ryz = corr("x", "y"), corr("x", "z"), corr("y", "z")
    out = mom.select(
        n_.cast("long").alias("n_rows"),
        rxy.alias("r_xy"),
        rxz.alias("r_xz"),
        ryz.alias("r_yz"),
    )
    pc = F.try_divide(
        F.col("r_xy") - F.col("r_xz") * F.col("r_yz"),
        F.sqrt(
            (F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
            * (F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))
        ),
    )
    return out.select(
        "n_rows", "r_xy", "r_xz", "r_yz", pc.alias("pcorr_xy_given_z")
    )


def concentration_indices(
    df: DataFrame, key_col: Column, cents_col: Column
) -> DataFrame:
    """Market-concentration readout over per-key value mass: the
    Herfindahl–Hirschman index HHI = Σ s_i² and the Theil-T
    inequality index T = Σ s_i·ln(n·s_i) (s_i = key i's share) — the
    two numbers next to the registry's Gini/Lorenz pair: HHI is the
    antitrust screen (≈1/n diffuse, → 1 monopoly), Theil is the
    DECOMPOSABLE entropy measure (0 equal, ln n monopoly).

    Shape: one map-side-combined rollup to per-key totals, one
    bounded aggregate. Exactness: HHI avoids per-row floats entirely
    — Σx_i² and (Σx_i)² are exact DECIMAL(38,0), HHI is ONE division;
    each Theil term's ln(n·s_i) is the shared double expression of
    exact integers quantized DECIMAL(18,9) at the per-KEY table (the
    bigram-LM convention), s_i·(·) one further shared product
    quantized (18,12) before the exact sum. Zero-value keys drop
    (lim s·ln s = 0). Output: ONE row — n_keys, total_cents, hhi,
    theil_t."""
    per = (
        df.select(key_col.alias("k"), cents_col.cast("long").alias("v"))
        .groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(19,0)")).cast("decimal(38,0)").alias("x"))
        .filter(F.col("x") > 0)
        .persist_tracked()  # totals + the share table read this
    )
    x19 = F.col("x").cast("decimal(19,0)")
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("decimal(38,0)").alias("xs"),
        # (19,0)^2 caps at (38,0): exact for per-key totals < 10^19
        F.sum((x19 * x19).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("xsq"),
    )
    terms = per.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("x").cast("double") / F.col("xs").cast("double"))
            * F.log(
                F.col("n_keys").cast("double")
                * F.col("x").cast("double")
                / F.col("xs").cast("double")
            ).cast("decimal(18,9)").cast("double")
        )
        .cast("decimal(18,12)")
        .alias("t")
    )
    theil = terms.agg(F.sum("t").cast("double").alias("theil_t"))
    return (
        tot.crossJoin(F.broadcast(theil))
        .select(
            "n_keys",
            F.col("xs").cast("long").alias("total_cents"),
            F.try_divide(
                F.col("xsq").cast("double"),
                F.col("xs").cast("double") * F.col("xs").cast("double"),
            ).alias("hhi"),
            "theil_t",
        )
    )


def cramers_v(rows: DataFrame, row_var: str, col_var: str) -> DataFrame:
    """Cramér's V effect size for the association between two
    categorical variables — the normalized scalar on top of
    chi2_contingency's per-cell decomposition: χ² grows with N, V is
    the [0,1] strength a pipeline can threshold ("drop one of these
    two features, they encode the same thing"). Emits both the raw V
    and the Bergsma bias-corrected V (the small-sample estimate that
    does not inflate toward 1 as the table widens).

    Shape: chi2_contingency's single fact reduction to the bounded
    (row, col) cell table (persisted — margins, the χ² scalar, and
    the level counts all read it); margins via PARTITIONED windows;
    one bounded aggregate. χ² uses the observed-cells-only identity
    χ² = n·(Σ_ij o_ij²/(row_i·col_j) − 1) — EMPTY cells contribute
    zero to that sum, so the sparse cell table (groupBy never emits
    zero cells) still yields the full-table statistic, unlike a
    naive Σ(o−e)²/e over present cells. Exactness: observed/margin
    counts are exact BIGINTs; each cell's o²/(row·col) ∈ [0,1] is
    quantized DECIMAL(18,15) before the exact decimal sum; V and
    the corrected V are closed-form IEEE doubles of that sum and the
    exact level counts, written identically in the oracle.

    Output: ONE row — n_obs, r_levels, c_levels, chi2, df,
    cramers_v, cramers_v_corrected."""
    from pyspark.sql import Window

    cells = (
        rows.select(
            F.col(row_var).alias("_r"), F.col(col_var).alias("_c")
        )
        .filter(F.col("_r").isNotNull() & F.col("_c").isNotNull())
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
        .persist_tracked()
    )
    grand = cells.agg(F.sum("observed").cast("long").alias("n_obs"))
    w_row = Window.partitionBy("_r")
    w_col = Window.partitionBy("_c")
    o = F.col("observed").cast("double")
    term = (
        o
        * o
        / (
            F.col("row_total").cast("double")
            * F.col("col_total").cast("double")
        )
    )
    chi = (
        cells.select(
            "observed",
            F.sum("observed").over(w_row).cast("long").alias("row_total"),
            F.sum("observed").over(w_col).cast("long").alias("col_total"),
        )
        .select(term.cast("decimal(18,15)").alias("t"))
        .agg(F.sum("t").cast("double").alias("s"))
        .crossJoin(F.broadcast(grand))
        .select(
            (
                F.col("n_obs").cast("double")
                * (F.col("s") - F.lit(1.0))
            ).alias("chi2")
        )
    )
    levels = cells.agg(
        F.countDistinct("_r").cast("long").alias("r_levels"),
        F.countDistinct("_c").cast("long").alias("c_levels"),
    )
    nd = F.col("n_obs").cast("double")
    rd = F.col("r_levels").cast("double")
    cd = F.col("c_levels").cast("double")
    phi2 = F.col("chi2") / nd
    v = F.sqrt(
        F.try_divide(phi2, F.least(rd, cd) - F.lit(1.0))
    )
    phi2c = F.greatest(
        F.lit(0.0),
        phi2 - (rd - F.lit(1.0)) * (cd - F.lit(1.0)) / (nd - F.lit(1.0)),
    )
    rc = rd - (rd - F.lit(1.0)) * (rd - F.lit(1.0)) / (nd - F.lit(1.0))
    cc = cd - (cd - F.lit(1.0)) * (cd - F.lit(1.0)) / (nd - F.lit(1.0))
    vc = F.sqrt(
        F.try_divide(phi2c, F.least(rc, cc) - F.lit(1.0))
    )
    return (
        grand.crossJoin(F.broadcast(levels))
        .crossJoin(F.broadcast(chi))
        .select(
            "n_obs",
            "r_levels",
            "c_levels",
            "chi2",
            ((F.col("r_levels") - 1) * (F.col("c_levels") - 1))
            .cast("long")
            .alias("df"),
            v.alias("cramers_v"),
            vc.alias("cramers_v_corrected"),
        )
    )


def grouped_ridge(
    points: DataFrame,
    group_cols: "list[str]",
    x_col: str = "x",
    y_col: str = "y",
    lam: float = 0.0,
    y_scale: int = 4,
) -> DataFrame:
    """Per-group RIDGE simple regression — the L2-shrunk slope
    β = Sxy / (Sxx + n·λ_c) next to grouped_ols' unpenalized fit
    (Sxy/Sxx here are the n-scaled centered sums n·Σxy − ΣxΣy and
    n·Σxx − (Σx)², so λ enters as n·λ): the estimate a pipeline
    prefers for SHORT or noisy per-group series, where OLS slopes on
    12 points whipsaw and the shrunk slope stays sane. Emits both
    slopes plus the shrinkage factor Sxx/(Sxx + n·λ) — the "how much
    did the prior win" diagnostic (→1 = data dominated, →0 = prior
    dominated).

    Same exact-decimal moment contract as grouped_ols (integer x,
    DECIMAL(·, y_scale) y rescaled to scale-0; one map-side-combined
    aggregate; closed-form IEEE expressions of exact moments written
    identically in the oracle)."""
    x = F.col(x_col).cast("decimal(10,0)")
    ys = (F.col(y_col) * (10**y_scale)).cast("decimal(20,0)")
    m = points.withColumn("_ys", ys).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum("_ys").cast("double").alias("sy"),
        F.sum((x * F.col("_ys")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_points").cast("double")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    unscale = F.lit(float(10**y_scale))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    den_r = den + n * F.lit(float(lam))
    slope_ols_s = num / den
    slope_ridge_s = num / den_r
    intercept_s = (sy - slope_ridge_s * sx) / n
    return m.select(
        *group_cols,
        "n_points",
        (slope_ols_s / unscale).alias("slope_ols"),
        (slope_ridge_s / unscale).alias("slope_ridge"),
        (intercept_s / unscale).alias("intercept_ridge"),
        (den / den_r).alias("shrinkage"),
    )


def atkinson_index(
    df: DataFrame, key_col: Column, cents_col: Column
) -> DataFrame:
    """Atkinson inequality index (ε = 1) over per-key value mass —
    A₁ = 1 − geometric_mean/arithmetic_mean — the WELFARE-weighted
    member of the inequality family next to Gini/Lorenz (tail-
    sensitive, rank-based) and HHI/Theil (share-entropy): ε = 1
    weights transfers at the bottom of the distribution most, so A₁
    moves when the long tail starves even if Gini barely does.

    Shape: one map-side-combined rollup to per-key totals (bounded
    by |keys|), one aggregate. Exactness: the arithmetic mean is an
    exact-integer ratio; each ln(x) is q9 fixed-point (round(ln·10⁹)
    BIGINT) at the per-key table so Σln is an exact DECIMAL(38,0);
    the geometric mean exp(Σln/n) is ONE engine exp of an identical
    double, FLOOR-quantized to whole cents before the final ratio —
    the quantum (1 cent) must exceed exp's cross-libm ulp at the
    value's magnitude, which a fractional decimal scale would not. Zero/negative keys drop (ln undefined).
    Output: ONE row — n_keys, total_cents, mean_cents, log_gm,
    geo_mean, atkinson."""
    per = (
        df.select(key_col.alias("k"), cents_col.cast("long").alias("v"))
        .groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("x")
        )
        .filter(F.col("x") > 0)
    )
    scale = F.lit(1000000000.0)
    lnq = F.round(F.log(F.col("x").cast("double")) * scale).cast("long")
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("decimal(38,0)").alias("xs"),
        F.sum(lnq.cast("decimal(19,0)")).cast("decimal(38,0)").alias("s_ln"),
    )
    nd = F.col("n_keys").cast("double")
    mean = F.col("xs").cast("double") / nd
    log_gm = F.col("s_ln").cast("double") / (nd * scale)
    geo = F.floor(F.exp(log_gm)).cast("long").cast("double")
    return m.select(
        "n_keys",
        F.col("xs").cast("long").alias("total_cents"),
        mean.alias("mean_cents"),
        log_gm.alias("log_gm"),
        geo.alias("geo_mean"),
        (F.lit(1.0) - geo / mean).alias("atkinson"),
    )
