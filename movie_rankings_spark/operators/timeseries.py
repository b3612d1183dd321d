"""Time-series regularization: per-key daily spine, gap-fill,
forward-fill, linear interpolation (SURVEY.md §2 [EXT] — the reference
has no time axis at all; its nearest analogue is the per-list rank
sequence of `top_movies.py`, which is dense by construction).

A training-data pipeline meets this shape constantly: sensor/metric
streams and engagement series arrive sparse, and sequence models want
a regular grid. The scale posture:

  * the spine is built per key from that key's own [min, max] day
    range (``sequence`` + ``explode``) — rows = active span, not
    global-calendar × keys, and the explode is a Generate directly
    over the per-key aggregate (no driver-side calendar, no
    cross join against a date dimension);
  * fill + interpolation are window functions over (key, day) — ONE
    shuffle on the key, one sort; the forward-looking window reuses
    the same sort (Spark evaluates UNBOUNDED FOLLOWING frames without
    re-sorting);
  * daily values pre-aggregate BEFORE the spine join, so the window
    sorts one row per active day, never one per event (same argument
    as window_rolling_revenue_7d).

Interpolation arithmetic is written as the identical IEEE-double
expression the DuckDB oracle uses (prev + (next - prev) * frac with
an explicit double cast on the day fraction), so values hash-match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def gapfill_daily(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Regularize a sparse per-key event series onto a dense daily
    grid over each key's active span.

    Output: one row per (key, day in [min active day, max active
    day]) with

      * ``day_value``   — exact daily sum (decimal-summed, cast to
        double), NULL on gap days;
      * ``ffill_value`` — last observed value at or before the day;
      * ``interp_value`` — linear interpolation between the
        surrounding observed days (equals ``day_value`` on observed
        days; span endpoints are observed by construction, so both
        neighbors always exist).
    """
    daily = events.groupBy(
        key, F.to_date(ts_col).alias("day")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("day_value")
    )
    spine = (
        daily.groupBy(key)
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            key,
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    grid = spine.join(daily, [key, "day"], "left")

    back = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(key)
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    prev_val = F.last("day_value", ignorenulls=True).over(back)
    next_val = F.first("day_value", ignorenulls=True).over(fwd)
    prev_day = F.last(obs_day, ignorenulls=True).over(back)
    next_day = F.first(obs_day, ignorenulls=True).over(fwd)
    frac = (
        F.datediff(F.col("day"), prev_day).cast("double")
        / F.datediff(next_day, prev_day).cast("double")
    )
    interp = F.when(next_day == prev_day, prev_val).otherwise(
        prev_val + (next_val - prev_val) * frac
    )
    return grid.select(
        key,
        "day",
        "day_value",
        prev_val.alias("ffill_value"),
        interp.alias("interp_value"),
    )


def time_decayed_score(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: int = 1,
    max_halvings: int = 50,
) -> DataFrame:
    """Per-key exponentially time-decayed activity score, anchored at
    the key's OWN most recent event: score = Σ value·2^(−age_days/h).

    The recency-weighted engagement feature every ranking/retention
    model wants; unlike a sequential EWMA recurrence it needs no
    per-row state — each term depends only on (its age, the key's max
    ts), so it is a window max + one hash aggregate ON THE SAME KEY:
    Spark reuses the exchange, one shuffle total, O(1) agg state.

    Exactness contract: the whole decay runs in INTEGER arithmetic —
    the value is quantized to exact micro-units (floor(v·10⁶), floor
    of a double is tie-free), halving is an arithmetic right-shift
    (exact ÷2^n with floor semantics in both engines), and the sum is
    a bigint — so partial-agg order and each engine's double→decimal
    tie-rounding (HALF_UP vs half-even, which DOES diverge on the
    exact binary halves that 2^-n products produce) can't perturb the
    result. The ~1e-6 quantization is part of the operator's
    documented semantics, not noise. ``max_halvings`` caps the shift:
    terms past it are sub-micro anyway and a >62-bit shift would
    overflow the long.
    """
    w = Window.partitionBy(key)
    age_days = F.floor(
        (F.unix_micros(F.col("last_ts")) - F.unix_micros(F.col(ts_col)))
        / (86400000000.0 * half_life_days)
    ).cast("int")
    # shiftright's numBits arg is literal-only in the Python API; the
    # SQL form takes an expression, so the shift count becomes a
    # materialized column consumed by an expr().
    micro = F.floor(F.col(value_col) * 1000000.0).cast("long")
    term = F.expr("shiftright(micro_value, halvings)")
    return (
        events.select(key, ts_col, value_col)
        .withColumn("last_ts", F.max(ts_col).over(w))
        .withColumn("halvings", F.least(age_days, F.lit(max_halvings)))
        .withColumn("micro_value", micro)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(term).cast("double") / 1000000.0).alias("decayed_score"),
            F.max(F.unix_micros(F.col("last_ts"))).alias("last_us"),
        )
    )


def rolling_zscore_anomaly(
    events: DataFrame,
    window_rows: int = 10,
    min_history: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-user rolling anomaly flags: each event's value against the
    mean/σ of its own trailing ``window_rows`` events (current row
    excluded — the flag must not condition on the value it judges).
    The windowed complement of the corpus-global z-score detector
    (`anomaly_events_zscore`): local baselines catch regime-change
    spikes a global σ absorbs.

    One shuffle (user partition), one in-partition sort shared by all
    four window expressions. Moments use exact DECIMAL window sums
    (order-independent) with the shared double formula, so flags and
    statistics are value-hash exact. Events with fewer than
    ``min_history`` predecessors emit NULL stats and never flag."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-window_rows, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    ss = (
        F.sum(
            (F.col("value").cast("decimal(18,6)") * F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,12)")
        )
        .over(w)
        .cast("double")
    )
    nd = n.cast("double")
    mean = s / nd
    std = F.sqrt(F.greatest(ss / nd - (s / nd) * (s / nd), F.lit(0.0)))
    enough = n >= min_history
    return events.select(
        "event_id",
        "user_id",
        "value",
        F.when(enough, mean).alias("trail_mean"),
        F.when(enough, std).alias("trail_std"),
        F.when(
            enough,
            F.abs(F.col("value") - mean) > F.lit(threshold) * std,
        )
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """EXACT daily + trailing-window distinct active users (DAU/WAU)
    — the growth-analytics query engines usually approximate, exact
    here because distinct-over-a-sliding-window composes from daily
    BITMAPS: per (day, bucket) bitmaps OR-merge across the trailing
    RANGE frame (gap days handled by densifying the day×bucket grid,
    so a bucket active only mid-window still counts), and
    bitmap_count reads the union cardinality with zero error.

    Scale: events reduce once to the daily bitmap table (persisted —
    grid join + two reads). The windowed OR runs per BUCKET partition
    (never a global window); the dense grid is |days| × |buckets| —
    buckets grow with the id space (32768 ids each), so for 10⁹ users
    × years of days you'd range-partition the grid, same plan shape.
    Output: day, dau, wau — both exact, fully value-hash checked."""
    from pyspark.sql import Window

    daily = (
        events.groupBy(
            F.to_date("ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("buck"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        )
        .persist_tracked()
    )
    dense = (
        daily.select("day").distinct()
        .crossJoin(daily.select("buck").distinct())
        .join(daily, ["day", "buck"], "left")
        .withColumn("dnum", F.unix_date("day"))
    )
    w = (
        Window.partitionBy("buck")
        .orderBy("dnum")
        .rangeBetween(-(window_days - 1), 0)
    )
    rolled = dense.select(
        "day",
        F.coalesce(F.expr("bitmap_count(bm)"), F.lit(0)).alias("dau_part"),
        F.expr("bitmap_or_agg(bm)").over(w).alias("_wbm"),
    ).select(
        "day",
        "dau_part",
        F.coalesce(F.expr("bitmap_count(_wbm)"), F.lit(0)).alias("wau_part"),
    )
    return (
        rolled.groupBy("day")
        .agg(
            F.sum("dau_part").cast("long").alias("dau"),
            F.sum("wau_part").cast("long").alias("wau"),
        )
        .select(
            # string day: engine-portable value hashing (DATE surfaces
            # as datetime64 in DuckDB's pandas but date objects here)
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
        )
        .orderBy("day")
    )


def acf_daily(
    df: DataFrame,
    day_col: str,
    cents_col,
    max_lag: int = 14,
) -> DataFrame:
    """Exact lag-k autocorrelation of a daily metric series — the
    "is this series mean-reverting / weekly-periodic / trending?"
    diagnostic read before picking a forecasting or anomaly window
    (seasonality_monthly_index answers "WHAT is the weekly shape";
    ACF answers "HOW persistent is the signal across k days").

    Shape: the fact shuffles ONCE into the (day, Σcents) series —
    bounded by the DATE DOMAIN, not row count; a ≤ max_lag-row lag
    frame broadcast-crossJoins the series and equi-joins it back on
    day+k (never a global-sort window, never a second fact pass —
    the series is persisted and read by the scalar pass + pair pass).
    Days missing from the series simply contribute no pair at lags
    spanning them (documented semantics for gappy series).

    Exactness: with S = Σx, n = |days|, the standard estimator
    r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x−x̄)² is expanded so every
    difference happens in EXACT integer space (the spearman_rho
    cancellation argument — at cents scale the naive double expansion
    loses the entire signal): A_k = n²·Σx_t·x_{t+k} −
    n·S·(Σheads+Σtails) + cnt_k·S² and B = n·(n·Σx² − S²), both
    DECIMAL(38,0); acf = A_k/B is one IEEE division of those exact
    integers, mirrored verbatim in the oracle (HUGEINT there).
    Documented bound: n²·Σx·x < 10^38 — holds to ~10^5 days of
    ~10^12-cent daily volume.

    Output: max_lag rows — lag, n_pairs, acf.
    """
    spark = df.sparkSession
    daily = (
        df.groupBy(F.to_date(F.col(day_col)).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("x"))
        .persist_tracked()  # scalar pass + both join sides read this
    )
    n, s, sxx = daily.agg(
        F.count(F.lit(1)).cast("long"),
        F.sum("x").cast("long"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")),
    ).collect()[0]
    lags = local_frame(
        spark,
        [(k,) for k in range(1, max_lag + 1)], "lag int"
    )
    head = daily.select(
        F.col("d").alias("dh"), F.col("x").alias("xh")
    ).crossJoin(F.broadcast(lags))
    tail = daily.select(
        F.col("d").alias("dt"), F.col("x").alias("xt")
    )
    pairs = head.join(
        tail, F.date_add(head.dh, head.lag) == tail.dt
    )

    def d19(c) -> "F.Column":
        return c.cast("decimal(19,0)")

    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(d19(F.col("xh")) * d19(F.col("xt"))).alias("sxy"),
        F.sum("xh").cast("long").alias("sh"),
        F.sum("xt").cast("long").alias("st"),
    )
    nd = F.lit(n).cast("decimal(19,0)")
    sd = F.lit(s).cast("decimal(19,0)")
    a_k = (
        nd * nd * F.col("sxy")
        - nd * sd * (F.col("sh") + F.col("st")).cast("decimal(19,0)")
        + F.col("n_pairs").cast("decimal(19,0)") * sd * sd
    )
    b = F.lit(n).cast("decimal(19,0)") * (
        nd * F.lit(str(sxx)).cast("decimal(38,0)") - sd * sd
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        # try_divide: a constant series has zero variance (B = 0) —
        # DuckDB's x/0.0 is NULL; ANSI `/` would raise instead
        F.try_divide(a_k.cast("double"), b.cast("double")).alias("acf"),
    ).orderBy("lag")


def cusum_changepoint(
    df: DataFrame, day_col: str, cents_col
) -> DataFrame:
    """Exact CUSUM change-point detection on a daily metric series:
    the day t maximizing |Σ_{i≤t}(x_i − x̄)| — where the series most
    decisively switched regimes (level shift), the alerting
    complement to anomaly_rolling_zscore's pointwise outliers.

    Shape: one fact-sized shuffle into the (day, Σcents) series —
    bounded by the DATE DOMAIN (~thousands of rows), so the prefix
    sum runs as ONE global window over that bounded aggregate (the
    classifier_auc_eval / bounded-artifact exception to the
    no-global-window rule, declared in the audit allowlist).

    Exactness: cusum is scaled by n to stay integral — c_t =
    n·prefix_t − t_idx·S is an exact BIGINT (bound: n·S < 2^63);
    the argmax row is max(struct(|c_t|, −day)) — deterministic
    earliest-day tie-break; frac = |c_t| / (n·S) is one IEEE
    division of exact integers.

    Output: ONE row — change_day (yyyy-MM-dd string), n_days,
    total_cents, cusum_num, frac.
    """
    daily = (
        df.groupBy(F.col(day_col).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("x"))
        .persist_tracked()  # prefix pass + totals pass read this
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = daily.select(
        "d",
        F.sum("x").over(w).cast("long").alias("prefix"),
        F.count(F.lit(1)).over(w).cast("long").alias("t_idx"),
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total_cents"),
    )
    joined = pref.crossJoin(F.broadcast(stats))
    c_t = F.col("n_days") * F.col("prefix") - F.col("t_idx") * F.col(
        "total_cents"
    )
    picked = joined.select(
        F.struct(
            F.abs(c_t).alias("cusum_num"),
            (-F.datediff(F.col("d"), F.lit("1970-01-01"))).alias("_nd"),
            F.date_format("d", "yyyy-MM-dd").alias("change_day"),
            F.col("n_days"),
            F.col("total_cents"),
        ).alias("_s")
    ).agg(F.max("_s").alias("_m"))
    return picked.select(
        F.col("_m.change_day").alias("change_day"),
        F.col("_m.n_days").alias("n_days"),
        F.col("_m.total_cents").alias("total_cents"),
        F.col("_m.cusum_num").alias("cusum_num"),
        # try_divide: an all-zero series makes n·S = 0 — DuckDB's
        # x/0.0 is NULL; ANSI `/` would raise instead
        F.try_divide(
            F.col("_m.cusum_num").cast("double"),
            (F.col("_m.n_days") * F.col("_m.total_cents")).cast("double"),
        ).alias("frac"),
    )


def exp_smooth_daily(
    df: DataFrame,
    day_col: str,
    cents_col,
    alpha: float = 0.3,
    beta: float = 0.2,
    group_col: str | None = None,
) -> DataFrame:
    """EWMA + Holt linear-trend smoothing of a daily metric series —
    the forecasting layer the diagnostics feed (acf_daily sizes the
    persistence, cusum_changepoint finds regime breaks; this produces
    the smoothed level, trend, and one-step-ahead forecast a
    monitoring dashboard plots):

        ewma_t  = α·x_t + (1−α)·ewma_{t−1}          (ewma_1 = x_1)
        l_t     = α·x_t + (1−α)·(l_{t−1} + b_{t−1}) (l_1 = x_1)
        b_t     = β·(l_t − l_{t−1}) + (1−β)·b_{t−1} (b_1 = 0)
        forecast_next_t = l_t + b_t

    Shape: the fact shuffles ONCE into the (day, Σcents) series —
    bounded by the DATE DOMAIN — then the recurrence runs as ONE
    codegen'd `aggregate` (left fold) over the day-sorted struct
    array: a sequential recurrence is inherently order-dependent, and
    the fold makes that order explicit and engine-portable WITHOUT a
    global-sort window (the plan-audit SinglePartition tripwire; the
    array is |days|-bounded, the same justification as acf_daily's
    series). O(|days|²) array-append inside the fold — ~10⁶ element
    copies at 10³ days, negligible.

    Exactness: daily sums are exact BIGINTs; the recurrence is the
    IDENTICAL IEEE double sequence in both engines (same literals,
    same operation order, same left-fold order), so every smoothed
    value hashes bit-for-bit — the oracle runs it as a recursive CTE.

    ``group_col`` runs the identical recurrence PER GROUP (one array
    per group, folds run in parallel across groups — the segment-wise
    dashboard form); the grouped shuffle is |groups|·|days| rows, and
    each group's fold sees only its own date-bounded series.

    Output: |days| rows (× |groups| when grouped) — [group,] day
    (yyyy-MM-dd string, engine-portable), revenue_cents, ewma,
    holt_level, holt_trend, forecast_next.
    """
    gcols = [group_col] if group_col else []
    daily = (
        df.select(
            *([F.col(group_col).alias("grp")] if group_col else []),
            F.col(day_col).alias("day"),
            cents_col.alias("_c"),
        )
        .groupBy(*(["grp"] if group_col else []), "day")
        .agg(F.sum("_c").cast("long").alias("rev"))
    )
    if group_col:
        arr = daily.groupBy("grp").agg(
            F.sort_array(F.collect_list(F.struct("day", "rev"))).alias("a")
        )
    else:
        arr = daily.agg(
            F.sort_array(F.collect_list(F.struct("day", "rev"))).alias("a")
        )
    out_t = (
        "array<struct<day:date,rev:bigint,ewma:double,"
        "lvl:double,trend:double>>"
    )
    a, b = F.lit(float(alpha)), F.lit(float(beta))
    one_a, one_b = F.lit(1.0 - alpha), F.lit(1.0 - beta)

    def step(acc, x):
        xd = x["rev"].cast("double")
        prev = F.element_at(acc, -1)
        first = F.size(acc) == 0
        ewma = F.when(first, xd).otherwise(a * xd + one_a * prev["ewma"])
        lvl = F.when(first, xd).otherwise(
            a * xd + one_a * (prev["lvl"] + prev["trend"])
        )
        trend = F.when(first, F.lit(0.0)).otherwise(
            b * (lvl - prev["lvl"]) + one_b * prev["trend"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"),
                    x["rev"].alias("rev"),
                    ewma.alias("ewma"),
                    lvl.alias("lvl"),
                    trend.alias("trend"),
                )
            ),
        )

    folded = arr.select(
        *(["grp"] if group_col else []),
        F.aggregate("a", F.array().cast(out_t), step).alias("s"),
    )
    out = folded.select(
        *(["grp"] if group_col else []), F.explode("s").alias("r")
    ).select(
        *([F.col("grp").alias(group_col)] if group_col else []),
        F.date_format("r.day", "yyyy-MM-dd").alias("day"),
        F.col("r.rev").alias("revenue_cents"),
        F.col("r.ewma").alias("ewma"),
        F.col("r.lvl").alias("holt_level"),
        F.col("r.trend").alias("holt_trend"),
        (F.col("r.lvl") + F.col("r.trend")).alias("forecast_next"),
    )
    return out.orderBy(*gcols, "day")


def ccf_daily(
    df: DataFrame,
    day_col: str,
    x_agg,
    y_agg,
    max_lag: int = 7,
) -> DataFrame:
    """Exact lead–lag cross-correlation between two daily metrics of
    one fact: r(k) = corr(x_d, y_{d+k}) for k = −max_lag..+max_lag —
    "does metric X LEAD metric Y by k days?" (positive-k peak: X
    leads), the two-series companion to acf_daily's self-persistence
    diagnostic and the screen run before lagged-feature engineering.

    Shape: the fact shuffles ONCE into the (day, x, y) series —
    bounded by the DATE DOMAIN (persisted; scalar pass + both pair
    sides read it); a (2·max_lag+1)-row lag frame broadcast-
    crossJoins the heads and equi-joins the tails on day+k. Never a
    global-sort window, never a second fact pass. Days missing from
    the series contribute no pair at lags spanning them (the
    acf_daily gappy-series semantics).

    Exactness (the acf_daily expansion, two-series form): A_k =
    n²·Σx_h·y_t − n·(Sy·Σx_h + Sx·Σy_t) + cnt_k·Sx·Sy is an exact
    DECIMAL polynomial of exact longs; the denominator
    n·√(cxx·cyy) evaluates √ and · on exact-integer-valued doubles —
    shared closed form ⇒ value-hash exact. Constant series ⇒ NULL
    via try_divide.

    Output: 2·max_lag+1 rows — lag, n_pairs, ccf — ordered by lag.
    """
    spark = df.sparkSession
    daily = (
        df.groupBy(F.to_date(F.col(day_col)).alias("d"))
        .agg(
            x_agg.cast("long").alias("x"),
            y_agg.cast("long").alias("y"),
        )
        .persist_tracked()  # scalar pass + both pair sides read this
    )

    def d19(c):
        return c.cast("decimal(19,0)")

    n, sx, sy, sxx, syy = daily.agg(
        F.count(F.lit(1)).cast("long"),
        F.sum("x").cast("long"),
        F.sum("y").cast("long"),
        F.sum(d19(F.col("x")) * d19(F.col("x"))).cast("decimal(38,0)"),
        F.sum(d19(F.col("y")) * d19(F.col("y"))).cast("decimal(38,0)"),
    ).collect()[0]
    lags = local_frame(
        spark,
        [(k,) for k in range(-max_lag, max_lag + 1)], "lag int"
    )
    head = daily.select(
        F.col("d").alias("dh"), F.col("x").alias("xh")
    ).crossJoin(F.broadcast(lags))
    tail = daily.select(F.col("d").alias("dt"), F.col("y").alias("yt"))
    pairs = head.join(tail, F.date_add(head.dh, head.lag) == tail.dt)
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(d19(F.col("xh")) * d19(F.col("yt"))).alias("sxy"),
        F.sum("xh").cast("long").alias("sh"),
        F.sum("yt").cast("long").alias("st"),
    )
    nd = F.lit(n).cast("decimal(19,0)")
    sxd = F.lit(sx).cast("decimal(19,0)")
    syd = F.lit(sy).cast("decimal(19,0)")
    a_k = (
        nd * nd * F.col("sxy")
        - nd * (syd * F.col("sh").cast("decimal(19,0)")
                + sxd * F.col("st").cast("decimal(19,0)"))
        + F.col("n_pairs").cast("decimal(19,0)") * sxd * syd
    )
    cxx = (
        F.lit(n).cast("decimal(19,0)")
        * F.lit(str(sxx)).cast("decimal(38,0)")
        - sxd * sxd
    ).cast("double")
    cyy = (
        F.lit(n).cast("decimal(19,0)")
        * F.lit(str(syy)).cast("decimal(38,0)")
        - syd * syd
    ).cast("double")
    den = F.lit(float(n)) * F.sqrt(cxx * cyy)
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.try_divide(a_k.cast("double"), den).alias("ccf"),
    ).orderBy("lag")


def holt_winters_daily(
    df: DataFrame,
    day_col: str,
    cents_col,
    season: int = 7,
    alpha: float = 0.3,
    beta: float = 0.2,
    gamma: float = 0.4,
) -> DataFrame:
    """Additive Holt–Winters (triple exponential) smoothing of a
    daily metric with a length-``season`` cycle — the seasonal
    completion of exp_smooth_daily's level+trend model (weekly retail
    series need the seasonal term or the trend eats the weekday
    shape):

        l_t = α·(x_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(x_t − l_t) + (1−γ)·s_{t−m}
        fitted_t = l_{t−1} + b_{t−1} + s_{t−m}   (one-step-ahead)

    initialized the textbook way (Hyndman & Athanasopoulos §7.3,
    additive): l = mean(cycle 1), b = (mean(cycle 2) − mean(cycle 1))
    / m, s_i = x_i − mean(cycle 1) for the first cycle; the
    recurrence starts at t = m+1. Requires ≥ 2·season days.

    Shape: the exp_smooth_daily machinery — ONE fact shuffle to the
    date-domain-bounded daily series, recurrence as ONE codegen'd
    left fold over the day-sorted array; the fold accumulator carries
    the full output array so s_{t−m} is element_at(acc, −m). Never a
    global-sort window.

    Exactness: daily sums exact BIGINTs; identical IEEE sequence —
    same literals (α, 1−α, … exact doubles), same operation order,
    same left-fold order — replayed by a recursive CTE carrying the
    last m seasonals as a LIST column ⇒ every value hashes
    bit-for-bit.

    Output: |days| rows — day (yyyy-MM-dd string), revenue_cents,
    hw_level, hw_trend, hw_seasonal, fitted (NULL for the first
    cycle) — ordered by day.
    """
    m = season
    daily = df.select(
        F.col(day_col).alias("day"), cents_col.alias("_c")
    ).groupBy("day").agg(F.sum("_c").cast("long").alias("rev"))
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "rev"))).alias("a")
    ).select(
        "a",
        (
            F.aggregate(
                F.slice("a", 1, m),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x["rev"],
            ).cast("double")
            / F.lit(float(m))
        ).alias("w1"),
        (
            F.aggregate(
                F.slice("a", m + 1, m),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x["rev"],
            ).cast("double")
            / F.lit(float(m))
        ).alias("w2"),
    )
    # The "≥ 2·season days" contract is ENFORCED, not just documented:
    # with m ≤ |days| < 2m the second-cycle mean w2 would average a
    # partial cycle (still divided by m) and silently seed a wrong
    # trend b0; with |days| < m the fold's F.slice would get a
    # negative length and fail at runtime. Matching split_conformal's
    # small-split guard: persist the 1-row series frame (so the guard
    # scalar and the fold share one fact scan) and raise explicitly.
    arr = arr.persist_tracked()
    n_days = arr.select(F.size("a")).first()[0] or 0
    if n_days < 2 * m:
        raise ValueError(
            f"holt_winters_daily needs >= 2*season={2 * m} distinct "
            f"days to seed level/trend/seasonals, got {n_days}"
        )
    out_t = (
        "array<struct<day:date,rev:bigint,lvl:double,trend:double,"
        "seas:double,fitted:double>>"
    )
    a_, b_, g_ = (F.lit(float(v)) for v in (alpha, beta, gamma))
    one_a = F.lit(1.0 - alpha)
    one_b = F.lit(1.0 - beta)
    one_g = F.lit(1.0 - gamma)
    b0 = (F.col("w2") - F.col("w1")) / F.lit(float(m))
    seed = F.transform(
        F.slice("a", 1, m),
        lambda x: F.struct(
            x["day"].alias("day"),
            x["rev"].alias("rev"),
            F.col("w1").alias("lvl"),
            b0.alias("trend"),
            (x["rev"].cast("double") - F.col("w1")).alias("seas"),
            F.lit(None).cast("double").alias("fitted"),
        ),
    ).cast(out_t)

    def step(acc, x):
        xd = x["rev"].cast("double")
        prev = F.element_at(acc, -1)
        s_tm = F.element_at(acc, -m)["seas"]
        lvl = a_ * (xd - s_tm) + one_a * (prev["lvl"] + prev["trend"])
        trend = b_ * (lvl - prev["lvl"]) + one_b * prev["trend"]
        seas = g_ * (xd - lvl) + one_g * s_tm
        fitted = prev["lvl"] + prev["trend"] + s_tm
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"),
                    x["rev"].alias("rev"),
                    lvl.alias("lvl"),
                    trend.alias("trend"),
                    seas.alias("seas"),
                    fitted.alias("fitted"),
                )
            ),
        )

    folded = arr.select(
        F.aggregate(
            F.slice("a", m + 1, F.size("a") - m), seed, step
        ).alias("s")
    )
    return (
        folded.select(F.explode("s").alias("e"))
        .select(
            F.date_format(F.col("e.day"), "yyyy-MM-dd").alias("day"),
            F.col("e.rev").alias("revenue_cents"),
            F.col("e.lvl").alias("hw_level"),
            F.col("e.trend").alias("hw_trend"),
            F.col("e.seas").alias("hw_seasonal"),
            F.col("e.fitted").alias("fitted"),
        )
        .orderBy("day")
    )


def durbin_watson_daily(
    df: DataFrame, day_col: str, cents_col
) -> DataFrame:
    """Durbin–Watson autocorrelation statistic of the residuals from
    the daily linear trend — the diagnostic that says whether an OLS
    trend line's errors are serially correlated (DW ≈ 2 independent,
    → 0 positively autocorrelated, → 4 alternating), i.e. whether the
    trend's standard errors can be believed. Completes the trend
    family: grouped OLS fits the line, the ACF reads raw-series lags,
    DW reads the RESIDUAL lag-1 structure.

    Shape (the exp_smooth_daily convention): ONE fact shuffle to the
    date-domain-bounded daily table; OLS moments are exact DECIMAL
    sums over t = row_number (a bounded-window rank); the lag-1
    residual pass is one bounded-window lag.

    Exactness: slope/intercept are IEEE divisions of exact DECIMAL
    centered sums (grouped_ols's convention); each residual is then
    QUANTIZED to DECIMAL(28,4) so the two quadratic sums are exact
    decimal arithmetic — immune to float-sum ordering across
    partitions — and DW is ONE final double division, written
    identically in the oracle.

    Output: ONE row — n_days, slope, intercept, dw."""
    d38 = "decimal(38,0)"
    daily = (
        df.select(F.col(day_col).alias("day"), cents_col.alias("_c"))
        .groupBy("day")
        .agg(F.sum("_c").cast("long").alias("y"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    seq = daily.select(
        "day", "y", F.row_number().over(w).cast("long").alias("t")
    ).persist_tracked()
    td = F.col("t").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(td).cast(d38).alias("st"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum((td * td).cast(d38)).cast(d38).alias("stt"),
        F.sum((td * yd).cast(d38)).cast(d38).alias("sty"),
    )
    nn = F.col("n").cast(d38)
    slope = F.try_divide(
        (nn * F.col("sty") - F.col("st") * F.col("sy")).cast("double"),
        (nn * F.col("stt") - F.col("st") * F.col("st")).cast("double"),
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    mom = m.select("n", slope.alias("b"), intercept.alias("a"))
    resid = seq.crossJoin(F.broadcast(mom)).select(
        "day",
        "n",
        (
            F.col("y").cast("double")
            - (F.col("a") + F.col("b") * F.col("t").cast("double"))
        )
        .cast("decimal(28,4)")
        .alias("e"),
    )
    lagged = resid.withColumn("e_prev", F.lag("e").over(w))
    de = (F.col("e") - F.col("e_prev")).cast("decimal(28,4)")
    sums = lagged.agg(
        F.first("n").alias("n_days"),
        F.sum((de * de).cast("decimal(38,8)")).alias("num"),
        F.sum((F.col("e") * F.col("e")).cast("decimal(38,8)")).alias("den"),
    )
    out = (
        sums.crossJoin(F.broadcast(mom.select(F.col("b").alias("slope"), F.col("a").alias("intercept"))))
        .select(
            "n_days",
            "slope",
            "intercept",
            F.try_divide(
                F.col("num").cast("double"), F.col("den").cast("double")
            ).alias("dw"),
        )
    )
    return out


def binseg_changepoint(
    df: DataFrame, day_col: str, cents_col, top_k: int = 3
) -> DataFrame:
    """Binary-segmentation change-point scan on a daily metric: for
    every candidate split k (left = first k days) the between-segment
    sum-of-squares reduction gain(k) = S_k²/k + (S−S_k)²/(N−k) − S²/N
    — the first round of the classic binary-segmentation recursion,
    and the LEVEL-SHIFT ranking next to cusum_changepoint's single
    argmax: CUSUM gives the one most decisive switch, this emits the
    top-k candidate splits WITH their variance-explained gain so a
    pipeline can threshold ("is any split worth a regime flag?").

    Shape: one fact-sized shuffle into the date-domain-bounded daily
    series; prefix sums and the gain ranking are global windows over
    that bounded table (the cusum/bounded-artifact exception,
    declared in the audit allowlist). Exactness: prefix/total sums
    are exact BIGINTs; each gain is the shared closed-form IEEE
    expression of those integers, written identically in the oracle;
    ranking ties break on earlier day.

    Output: top_k rows — rank, split_day (last day of the left
    segment, yyyy-MM-dd), k_left, n_days, total_cents, mean_left,
    mean_right, gain — ordered by rank."""
    daily = (
        df.groupBy(F.col(day_col).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("x"))
        .persist_tracked()  # prefix pass + totals pass read this
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = daily.select(
        "d",
        F.sum("x").over(w).cast("long").alias("sk"),
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s_tot"),
    )
    j = pref.crossJoin(F.broadcast(stats)).filter(
        F.col("k") < F.col("n_days")
    )
    kd = F.col("k").cast("double")
    nd = F.col("n_days").cast("double")
    skd = F.col("sk").cast("double")
    sd = F.col("s_tot").cast("double")
    gain = (
        skd * skd / kd
        + (sd - skd) * (sd - skd) / (nd - kd)
        - sd * sd / nd
    )
    scored = j.select(
        "d",
        "k",
        "n_days",
        "s_tot",
        "sk",
        gain.alias("gain"),
    )
    wr = Window.orderBy(F.col("gain").desc(), F.col("d").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.col("k").alias("k_left"),
            "n_days",
            F.col("s_tot").alias("total_cents"),
            (F.col("sk").cast("double") / F.col("k").cast("double")).alias(
                "mean_left"
            ),
            (
                (F.col("s_tot") - F.col("sk")).cast("double")
                / (F.col("n_days") - F.col("k")).cast("double")
            ).alias("mean_right"),
            "gain",
        )
        .orderBy("rank")
    )


def seasonal_decompose_daily(
    df: DataFrame, day_col: str, cents_col, period: int = 7
) -> DataFrame:
    """Classical additive seasonal decomposition of a daily metric —
    trend (centered period-length moving average), seasonal (the
    zero-mean per-position average of the detrended series), residual
    — the diagnostic view underneath holt_winters_daily's forecast:
    HW smooths forward, this EXPLAINS the series ("how much of Monday
    is just Monday?"), and the residual is what anomaly detectors
    should score instead of the raw metric.

    Positions are epoch-anchored (days-since-1970 mod period) so both
    engines derive identical weekday indices with no locale/DOW-origin
    dependence. The centered MA uses a ROWS window over the OBSERVED
    daily sequence (the positional contract — TPC-H-like order dates
    are dense; with gaps, positions are sequence positions).

    Exactness: the daily sums are exact BIGINTs; the detrended value
    is kept as the exact integer numerator period·y − Σwindow (never
    a float difference), so per-position means are exact-integer
    sums over exact counts. The seasonal normalization subtracts the
    COUNT-WEIGHTED global detrended mean (Σ numerators / period·Σ
    counts — the weighted variant of the classical unweighted
    mean-of-means, identical when positions are balanced): every
    emitted value is then a single IEEE expression of exact integers
    — no float-to-decimal quantization anywhere, which matters
    because Spark rounds double→decimal HALF_UP while DuckDB rounds
    half-even (observed divergence at a .5 boundary on this very
    series). Written identically in the oracle.

    Output: one row per day — day (yyyy-MM-dd), revenue_cents, pos,
    trend, seasonal, resid (trend/resid NULL on the first/last
    ⌊period/2⌋ days where the centered window is partial) — ordered
    by day.

    ``period`` must be ODD: the centered MA spans rows [-p//2, p//2],
    which only covers exactly ``period`` rows for odd p (the classical
    even-period decomposition needs a 2×N double moving average this
    operator does not implement — an even p would silently produce an
    empty result, so it is rejected)."""
    if period < 3 or period % 2 == 0:
        raise ValueError(
            f"period must be an odd integer >= 3, got {period}: the "
            "centered rows(-p//2, p//2) window covers period rows only "
            "for odd p (even periods need a 2xN double moving average)"
        )
    half = period // 2
    daily = (
        df.groupBy(F.col(day_col).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("y"))
        .persist_tracked()  # MA window + position means read this
    )
    wma = Window.orderBy("d").rowsBetween(-half, half)
    base = daily.select(
        "d",
        "y",
        (F.datediff(F.col("d"), F.lit("1970-01-01")) % period).alias("pos"),
        F.when(
            F.count(F.lit(1)).over(wma) == period,
            F.sum("y").over(wma).cast("long"),
        ).alias("win_sum"),
    ).persist_tracked()  # position means + the output rows read this
    # exact integer numerator of the detrended value: period*y - win_sum
    det_num = (F.col("y") * period - F.col("win_sum")).cast("long")
    pos_means = (
        base.filter(F.col("win_sum").isNotNull())
        .groupBy("pos")
        .agg(
            F.sum(det_num).cast("long").alias("dnum"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .persist_tracked()  # the global normalizer and the map read this
    )
    norm = pos_means.agg(
        F.sum("dnum").cast("long").alias("d_tot"),
        F.sum("cnt").cast("long").alias("c_tot"),
    )
    seasonal = pos_means.crossJoin(F.broadcast(norm)).select(
        "pos",
        (
            F.col("dnum").cast("double")
            / (F.lit(float(period)) * F.col("cnt").cast("double"))
            - F.col("d_tot").cast("double")
            / (F.lit(float(period)) * F.col("c_tot").cast("double"))
        ).alias("seasonal"),
    )
    trend = F.col("win_sum").cast("double") / F.lit(float(period))
    detrended = det_num.cast("double") / F.lit(float(period))
    return (
        base.join(F.broadcast(seasonal), "pos")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("y").alias("revenue_cents"),
            F.col("pos").cast("int").alias("pos"),
            trend.alias("trend"),
            F.col("seasonal"),
            (detrended - F.col("seasonal")).alias("resid"),
        )
        .orderBy("day")
    )


def periodogram_daily(
    df: DataFrame, day_col: str, cents_col, n_freqs: int = 12
) -> DataFrame:
    """Discrete-Fourier periodogram of a daily metric at the first
    ``n_freqs`` harmonics — WHICH cycle dominates, where
    seasonal_decompose_daily assumes the weekly one: the spectral
    screen a pipeline runs before committing to a seasonal period
    (weekly trading cycles show at period ≈ 7, monthly billing at
    ≈ 30). For frequency k, power_k = a_k² + b_k² with
    a_k = Σ_t ỹ_t·cos(2πkt/N), b_k = Σ_t ỹ_t·sin(2πkt/N) over the
    mean-centered series.

    Shape: one fact shuffle to the date-domain-bounded daily series;
    t is the series position (ROW_NUMBER over the bounded table);
    the N·K term table joins a precomputed N-row ANGLE TABLE on
    (k·t) mod N — only N distinct cos/sin evaluations ever happen
    (not N·K), which is both faster and shrinks the surface exposed
    to cross-engine libm ulp drift. Exactness: centered values are
    exact integer numerators N·y − S (the binseg convention); each
    cos/sin is quantized DECIMAL(18,9) at the angle table (the ln
    rule); products are exact decimals summed exactly; the power is
    one shared IEEE expression of the two exact sums. The emitted
    amplitude scale is N²·cents (centered numerators are N-scaled) —
    comparable ACROSS k, which is all a dominant-cycle readout needs.

    Output: one row per k = 1..n_freqs — k, n_days, period (N/k),
    cos_sum, sin_sum, power — ordered by k."""
    daily = (
        df.groupBy(F.col(day_col).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("y"))
        .persist_tracked()  # totals + the term table read this
    )
    w = Window.orderBy("d")
    seq = daily.select(
        "d", "y", (F.row_number().over(w) - F.lit(1)).cast("long").alias("t")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("s_tot"),
    )
    base = seq.crossJoin(F.broadcast(tot)).select(
        "t",
        # (19,0) so the (19,0)x(18,9) product stays within precision
        # 38 — wider and Spark silently drops decimal scale
        (F.col("y") * F.col("n_days") - F.col("s_tot"))
        .cast("decimal(19,0)")
        .alias("cy"),
        "n_days",
    )
    # N-row angle table: idx, cos/sin of 2*pi*idx/N quantized (18,9)
    two_pi = F.lit(6.283185307179586)
    angles = (
        tot.select(
            F.explode(
                F.sequence(F.lit(0), F.col("n_days") - F.lit(1))
            ).alias("idx"),
            "n_days",
        )
        .select(
            F.col("idx").cast("long").alias("idx"),
            F.cos(
                two_pi * F.col("idx").cast("double")
                / F.col("n_days").cast("double")
            )
            .cast("decimal(18,9)")
            .alias("cosq"),
            F.sin(
                two_pi * F.col("idx").cast("double")
                / F.col("n_days").cast("double")
            )
            .cast("decimal(18,9)")
            .alias("sinq"),
        )
    )
    ks = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_freqs)))
    ).alias("k")
    terms = (
        base.select("t", "cy", "n_days", ks)
        .withColumn("idx", (F.col("k") * F.col("t")) % F.col("n_days"))
        .join(F.broadcast(angles), "idx")
    )
    sums = terms.groupBy("k").agg(
        F.first("n_days").alias("n_days"),
        F.sum((F.col("cy") * F.col("cosq")).cast("decimal(38,9)"))
        .cast("decimal(38,9)")
        .alias("ca"),
        F.sum((F.col("cy") * F.col("sinq")).cast("decimal(38,9)"))
        .cast("decimal(38,9)")
        .alias("sa"),
    )
    cad = F.col("ca").cast("double")
    sad = F.col("sa").cast("double")
    return sums.select(
        F.col("k").cast("int").alias("k"),
        "n_days",
        (F.col("n_days").cast("double") / F.col("k").cast("double")).alias(
            "period"
        ),
        cad.alias("cos_sum"),
        sad.alias("sin_sum"),
        (cad * cad + sad * sad).alias("power"),
    ).orderBy("k")


#: Euler–Mascheroni constant and Gumbel return-level logs, computed
#: once HERE (Python) and injected as identical literals into engine
#: and oracle — never evaluated by either engine's libm.
EULER_GAMMA = 0.5772156649015329
SQRT6_OVER_PI = 0.779696801233676


def gumbel_block_maxima(
    df: DataFrame,
    block_col: Column,
    cents_col,
    return_probs: "tuple[float, ...]" = (0.95, 0.99),
) -> DataFrame:
    """Gumbel (EV-I) fit to per-block maxima by the method of
    moments — the tail-risk readout over a metric's extremes: fit
    location μ and scale β to the block-maximum distribution, then
    report return levels x_p = μ − β·ln(−ln p) ("the daily peak a
    95%-of-months month stays under") — what a capacity/SLA planner
    reads, where the quantile tier only describes the bulk.

    MoM: β = s·√6/π, μ = m − γ·β (γ Euler–Mascheroni) — both
    constants and every ln(−ln p) are PYTHON literals injected
    identically into engine and oracle (never engine libm).
    Exactness: block maxima are exact longs (one map-side-combined
    max aggregate); m and s come from the welch exact-moment
    contract over the |blocks|-bounded maxima table; everything
    after is shared IEEE arithmetic of those exact pieces. Output:
    one row per return prob — prob, n_blocks, mean_max, sd_max,
    gumbel_mu, gumbel_beta, return_level — ordered by prob."""
    d38 = "decimal(38,0)"
    maxima = (
        df.groupBy(block_col.alias("blk"))
        .agg(F.max(cents_col.cast("long")).cast("long").alias("mx"))
    )
    vd = F.col("mx").cast("decimal(19,0)")
    m = maxima.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(vd).cast(d38).alias("s"),
        F.sum((vd * vd).cast(d38)).cast(d38).alias("ss"),
    ).persist_tracked()  # every return-prob branch reads this 1-row table
    nd = F.col("n_blocks").cast("double")
    mean = F.col("s").cast("double") / nd
    var = F.try_divide(
        (F.col("n_blocks").cast(d38) * F.col("ss") - F.col("s") * F.col("s"))
        .cast("double"),
        nd * (nd - F.lit(1.0)),
    )
    sd = F.sqrt(var)
    beta = sd * F.lit(SQRT6_OVER_PI)
    mu = mean - F.lit(EULER_GAMMA) * beta
    import math

    probs = sorted(float(p) for p in return_probs)
    rows = None
    for p in probs:
        lnln = math.log(-math.log(p))
        r = m.select(
            F.lit(p).alias("prob"),
            "n_blocks",
            mean.alias("mean_max"),
            sd.alias("sd_max"),
            mu.alias("gumbel_mu"),
            beta.alias("gumbel_beta"),
            (mu - beta * F.lit(lnln)).alias("return_level"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("prob")


#: ln(s) for the R/S block sizes, Python literals (never engine libm)
_LN = {
    8: 2.0794415416798357,
    16: 2.772588722239781,
    32: 3.4657359027997265,
    64: 4.1588830833596715,
}


def hurst_rs(
    df: DataFrame,
    day_col: str,
    cents_col,
    block_sizes: "tuple[int, ...]" = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis of a daily
    metric — long-range dependence: H ≈ 0.5 is a memoryless walk,
    H > 0.5 persistent trends (shocks compound), H < 0.5 mean
    reversion — the one-number memory diagnostic the ACF's per-lag
    view doesn't summarize. For each block size s the series splits
    into ⌊N/s⌋ full blocks; per block R = range of mean-adjusted
    cumulative deviations and S = population std; H is the OLS slope
    of ln(mean R/S) against ln(s).

    Exactness: with integer cents, the s-scaled deviations
    z_i = s·prefix_i − i·Σ_block are exact BIGINTs, and the s
    CANCELS in R/S = (max z − min z)/√(s·Σy² − (Σy)²) — one IEEE
    expression of exact integers per block. Per-size means quantize
    R/S to DECIMAL(18,6) (exact sum over blocks); ln(mean R/S)
    quantizes DECIMAL(18,9) (the ln rule); every ln(s) regressor is
    a PYTHON literal; the 4-point OLS slope sums its xy products as
    DECIMAL(28,12). Blocks with zero variance drop. Windows are
    PARTITIONED by (size, block) — bounded s-row partitions.

    Output: one row per block size — block_size, n_blocks, mean_rs,
    ln_size, ln_mean_rs, hurst (the shared slope, repeated) —
    ordered by block_size."""
    for s in block_sizes:
        if s not in _LN:
            raise ValueError(f"unsupported block size {s}: add ln to _LN")
    daily = (
        df.groupBy(F.col(day_col).alias("d"))
        .agg(F.sum(cents_col.cast("long")).cast("long").alias("y"))
        .persist_tracked()
    )
    w = Window.orderBy("d")
    seq = daily.select(
        "d", "y", (F.row_number().over(w) - F.lit(1)).cast("long").alias("t")
    ).persist_tracked()  # every block-size branch reads this
    n_tot = seq.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_size = None
    d38 = "decimal(38,0)"
    for s in sorted(block_sizes):
        sl = F.lit(int(s))
        blocks = (
            seq.crossJoin(F.broadcast(n_tot))
            .withColumn("b", F.floor(F.col("t") / sl).cast("long"))
            .filter(F.col("b") < F.floor(F.col("n") / sl))
            .withColumn("i", (F.col("t") % sl + F.lit(1)).cast("long"))
        )
        wb = Window.partitionBy("b").orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        yd = F.col("y").cast("decimal(19,0)")
        pref = blocks.select(
            "b",
            "i",
            F.sum("y").over(wb).cast("long").alias("prefix"),
            F.sum("y")
            .over(Window.partitionBy("b"))
            .cast("long")
            .alias("sum_b"),
            F.sum((yd * yd).cast(d38))
            .over(Window.partitionBy("b"))
            .cast(d38)
            .alias("ssq_b"),
        )
        z = pref.select(
            "b",
            "sum_b",
            "ssq_b",
            (
                F.col("prefix") * sl - F.col("i") * F.col("sum_b")
            ).cast("long").alias("z"),
        )
        per_block = z.groupBy("b").agg(
            (F.max("z") - F.min("z")).cast("long").alias("r_scaled"),
            F.first("sum_b").alias("sum_b"),
            F.first("ssq_b").alias("ssq_b"),
        )
        s_num = (
            F.lit(int(s)).cast(d38) * F.col("ssq_b")
            - F.col("sum_b").cast("decimal(19,0)")
            * F.col("sum_b").cast("decimal(19,0)")
        ).cast("double")
        rs = (
            per_block.filter(s_num > 0)
            .select(
                (
                    F.col("r_scaled").cast("double") / F.sqrt(s_num)
                )
                .cast("decimal(18,6)")
                .alias("rs_q")
            )
        )
        agg = rs.agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("rs_q").cast("decimal(28,6)").alias("rs_sum"),
        )
        mean_rs = F.col("rs_sum").cast("double") / F.col("n_blocks").cast(
            "double"
        )
        row = agg.select(
            F.lit(int(s)).cast("int").alias("block_size"),
            "n_blocks",
            mean_rs.alias("mean_rs"),
            F.lit(_LN[s]).alias("ln_size"),
            F.log(mean_rs).cast("decimal(18,9)").cast("double").alias(
                "ln_mean_rs"
            ),
        )
        per_size = row if per_size is None else per_size.unionByName(row)
    per_size = per_size.persist_tracked()  # slope scalar + output read this
    kk = float(len(block_sizes))
    sx = sum(_LN[s] for s in block_sizes)
    sxx = sum(_LN[s] * _LN[s] for s in block_sizes)
    fit = per_size.agg(
        F.sum(F.col("ln_mean_rs").cast("decimal(18,9)"))
        .cast("decimal(28,9)")
        .alias("sy"),
        F.sum(
            (F.col("ln_size") * F.col("ln_mean_rs")).cast("decimal(28,12)")
        )
        .cast("decimal(38,12)")
        .alias("sxy"),
    )
    slope = (
        F.lit(kk) * F.col("sxy").cast("double")
        - F.lit(sx) * F.col("sy").cast("double")
    ) / F.lit(kk * sxx - sx * sx)
    return (
        per_size.crossJoin(F.broadcast(fit.select(slope.alias("hurst"))))
        .select(
            "block_size",
            "n_blocks",
            "mean_rs",
            "ln_size",
            "ln_mean_rs",
            "hurst",
        )
        .orderBy("block_size")
    )


def fano_burstiness(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    min_days: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Per-key burstiness of event arrivals — the Fano factor
    (variance-to-mean ratio) of DAILY event counts over each key's
    active days: ≈1 is Poisson-like, ≫1 bursty (sessions, bots,
    campaign spikes), ≪1 metronomic (schedulers) — the arrival-
    process diagnostic the volume tier's totals hide, and a cheap
    bot/automation screen.

    Shape: two map-side-combined aggregates (events → per-key-day
    counts → per-key moments) — no window, no explode; keys below
    ``min_days`` active days drop (a 2-day Fano is noise). Top-k by
    Fano needs only a TakeOrdered, never a global sort. Exactness:
    counts exact BIGINTs; mean/variance/Fano are shared IEEE
    expressions of exact integers; ordering ties break on key.

    Output: top_k rows — key, n_days, total_events, mean_daily,
    var_daily, fano — ordered by (fano desc, key)."""
    daily = (
        events.select(
            F.col(key_col).alias("k"), F.to_date(ts_col).alias("d")
        )
        .groupBy("k", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = (
        daily.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("tot"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .filter(F.col("n_days") >= min_days)
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("tot").cast("double") / nd
    var = F.try_divide(
        (F.col("n_days") * F.col("ss") - F.col("tot") * F.col("tot"))
        .cast("double"),
        nd * (nd - F.lit(1.0)),
    )
    fano = F.try_divide(var, mean)
    return (
        m.select(
            F.col("k").alias("key"),
            "n_days",
            F.col("tot").alias("total_events"),
            mean.alias("mean_daily"),
            var.alias("var_daily"),
            fano.alias("fano"),
        )
        .orderBy(F.col("fano").desc(), F.col("key").asc())
        .limit(top_k)
    )


def interevent_cv(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    min_events: int = 10,
    top_k: int = 20,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key inter-event-time burstiness — CV² (variance over
    squared mean) of the gaps between consecutive events: ≈1 is a
    Poisson process, ≫1 bursty in TIME (sessions, retries), ≪1
    metronomic (schedulers) — the time-domain twin of
    fano_burstiness' count-domain readout; the two disagree exactly
    when bursts hide inside single days.

    Shape: ONE key-partitioned window (lag) turns events into exact
    integer MICROSECOND gaps; one map-side-combined moment aggregate
    per key; TakeOrdered top-k. Keys with < min_events events drop
    (few gaps = noise). Exactness: gaps are exact BIGINT micros
    (sums through DECIMAL(38,0) — squared micro-gaps overflow a
    long); CV² is a shared IEEE expression of exact integers, ties
    break on key.

    Output: top_k rows — key, n_gaps, mean_gap_s, cv2 — ordered by
    (cv2 desc, key). ``tiebreak_col`` (default 'event_id') must be a
    unique column of ``events``: it deterministically orders rows
    whose timestamps collide inside the lag window."""
    w = Window.partitionBy("k").orderBy("ts", "_tb")
    gaps = (
        events.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("ts"),
            F.col(tiebreak_col).alias("_tb"),
        )
        .withColumn(
            "gap",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).cast("long"),
        )
        .filter(F.col("gap").isNotNull())
    )
    gd = F.col("gap").cast("decimal(19,0)")
    m = (
        gaps.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum(gd).cast("decimal(38,0)").alias("s"),
            F.sum((gd * gd).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("ss"),
        )
        .filter(F.col("n_gaps") >= min_events - 1)
    )
    nd = F.col("n_gaps").cast("double")
    sd = F.col("s").cast("double")
    var = F.try_divide(
        (F.col("n_gaps").cast("decimal(38,0)") * F.col("ss")
         - F.col("s") * F.col("s")).cast("double"),
        nd * (nd - F.lit(1.0)),
    )
    mean = sd / nd
    cv2 = F.try_divide(var, mean * mean)
    return (
        m.select(
            F.col("k").alias("key"),
            "n_gaps",
            (mean / F.lit(1000000.0)).alias("mean_gap_s"),
            cv2.alias("cv2"),
        )
        .orderBy(F.col("cv2").desc(), F.col("key").asc())
        .limit(top_k)
    )
