"""Inference-statistics tier (round-3 session 2): per-group OLS trend
lines, chi-squared independence, and time-decayed activity scores —
the grouped statistical models a 100 TB warehouse fits in-engine
(SURVEY.md §2d A8; the reference's entire statistical surface is sum
and mean, `top_movies.py:140,143`).

Exactness contract shared with corr_price_quantity / anomaly_zscore:
every reduction is DECIMAL (order-independent), every post-reduction
formula is double arithmetic written identically in the Spark plan
and the DuckDB oracle, so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.operators.infotheory import mutual_information_cells
from movie_rankings_spark.operators.statistics import (
    chi2_contingency,
    grouped_ols,
)
from movie_rankings_spark.operators.timeseries import time_decayed_score
from movie_rankings_spark.plans.registry import REGISTRY


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    return load_table(spark, sf_dir, name, fanout=fanout)


# --- per-nation monthly revenue trend (grouped OLS) -------------------------

_REGRESSION_ORACLE = """
WITH ord_rev AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_orderkey
), monthly AS (
  SELECT n.n_name,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1 AS x,
         CAST(SUM(r.rev) AS DECIMAL(18,4)) AS y
  FROM ord_rev r
  JOIN orders o   ON o.o_orderkey  = r.l_orderkey
  JOIN customer c ON c.c_custkey   = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), scaled AS (
  SELECT n_name, x, CAST(y * 10000 AS DECIMAL(20,0)) AS ys FROM monthly
), m AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(x AS DECIMAL(10,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(ys) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(10,0)) * ys AS DECIMAL(38,0)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(ys AS DECIMAL(18,0)) * ys AS DECIMAL(38,0)))
              AS DOUBLE) AS syy
  FROM scaled GROUP BY n_name
)
SELECT n_name, n_points,
       ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
         / (CAST(n_points AS DOUBLE) * sxx - sx * sx)) / 10000.0 AS slope,
       ((sy - ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_points AS DOUBLE) * sxx - sx * sx)) * sx)
         / CAST(n_points AS DOUBLE)) / 10000.0 AS intercept,
       ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
         * (CAST(n_points AS DOUBLE) * sxy - sx * sy))
         / ((CAST(n_points AS DOUBLE) * sxx - sx * sx)
            * (CAST(n_points AS DOUBLE) * syy - sy * sy)) AS r2
FROM m
ORDER BY n_name
"""


@REGISTRY.register("regression_monthly_trend", _REGRESSION_ORACLE)
def regression_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares revenue trend (slope $/month, intercept, r²) per
    nation over its monthly revenue series — is this market growing?

    Plan: lineitem pre-aggregates revenue per order BEFORE the orders
    join (shrinks the fact-fact shuffle ~4×), customer rides AQE's
    broadcast decision, nation is forced broadcast; then two hash
    aggregates (month cells → per-nation moments) whose group counts
    collapse ~10⁶× below the fact row count. The OLS closed form runs
    on exact decimal moments (operators/statistics.py::grouped_ols) —
    no window, no second fact scan, no regr_* dependence on either
    engine's float summation order.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ord_rev = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("rev")
    )
    monthly = (
        ord_rev.join(orders, orders.o_orderkey == ord_rev.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("x"),
        )
        .agg(F.sum("rev").cast("decimal(18,4)").alias("y"))
    )
    return grouped_ols(monthly, ["n_name"], "x", "y").orderBy("n_name")


# --- chi-squared independence: documents lang × source ----------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
  FROM documents GROUP BY 1, 2
), rt AS (
  SELECT lang, CAST(SUM(observed) AS BIGINT) AS row_total
  FROM cells GROUP BY lang
), ct AS (
  SELECT source, CAST(SUM(observed) AS BIGINT) AS col_total
  FROM cells GROUP BY source
), g AS (
  SELECT CAST(SUM(observed) AS BIGINT) AS grand_total FROM cells
)
SELECT c.lang, c.source, c.observed,
       CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
         / CAST(g.grand_total AS DOUBLE) AS expected,
       (CAST(c.observed AS DOUBLE)
          - CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
            / CAST(g.grand_total AS DOUBLE))
       * (CAST(c.observed AS DOUBLE)
          - CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
            / CAST(g.grand_total AS DOUBLE))
       / (CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE)
            / CAST(g.grand_total AS DOUBLE)) AS chi2_term
FROM cells c JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN g
ORDER BY lang, source
"""


@REGISTRY.register("chi2_lang_source", _CHI2_ORACLE)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is document language independent of source? Per-cell chi²
    decomposition of the lang × source contingency table — the
    corpus-skew diagnostic run before fixing sampling rates
    (mix_corpus_token_budget consumes exactly this kind of finding).

    One scan of documents builds the cell table; row/column/grand
    totals are windows over the tiny cell table (|langs|·|sources|
    rows, a data-independent cardinality) — the 100 TB side is read
    once, everything after is kilobytes
    (operators/statistics.py::chi2_contingency).
    """
    docs = _t(spark, sf_dir, "documents")
    return chi2_contingency(docs, "lang", "source").orderBy("lang", "source")


# --- time-decayed per-user activity score -----------------------------------

_DECAY_ORACLE = """
WITH e AS (
  SELECT user_id, ts, value,
         MAX(ts) OVER (PARTITION BY user_id) AS last_ts
  FROM events
), t AS (
  SELECT user_id, epoch_us(last_ts) AS last_us,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS micro_value,
         LEAST(CAST(FLOOR((epoch_us(last_ts) - epoch_us(ts))
                          / 86400000000.0) AS INTEGER), 50) AS halvings
  FROM e
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(micro_value >> halvings) AS DOUBLE) / 1000000.0
         AS decayed_score,
       CAST(MAX(last_us) AS BIGINT) AS last_us
FROM t
GROUP BY user_id
ORDER BY user_id
"""


@REGISTRY.register("decay_user_activity", _DECAY_ORACLE)
def decay_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: per user, Σ value·2^(−age_days),
    age measured back from that user's own latest event (half-life =
    1 day). The standard decay feature for ranking/churn models.

    No sequential recurrence: each term is a closed-form function of
    (row ts, per-user max ts), so the whole operator is one window
    max + one hash aggregate on the same key — Spark reuses the
    exchange, ONE shuffle at any scale. Decay factors are exact
    powers of two via shiftleft (no libm pow variance), terms sum in
    decimal (operators/timeseries.py::time_decayed_score).
    """
    ev = _t(spark, sf_dir, "events")
    return time_decayed_score(ev).orderBy("user_id")


# --- cogrouped-pandas as-of join (API-surface twin of asof.py) --------------

_COGROUP_ASOF_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT * FROM (
    SELECT event_id, user_id, ts, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type <> 'purchase'
  ) WHERE rn = 1
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       r.event_id  AS prev_event_id,
       r.event_type AS prev_event_type,
       r.value     AS prev_value
FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts > r.ts
ORDER BY p.event_id
"""


@REGISTRY.register("cogroup_asof_purchase", _COGROUP_ASOF_ORACLE)
def cogroup_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_purchase_context's semantics through the OTHER engine
    surface: groupBy().cogroup().applyInPandas with a per-user
    pandas merge_asof (operators/cogroup.py). Same single-shuffle
    cost, same DuckDB ASOF JOIN oracle — the union+window form
    (operators/asof.py) stays the default; this pins the cogroup API
    against an exact oracle rather than the usual rows-only check.
    Timestamps cross the Arrow boundary as int64 micros."""
    from movie_rankings_spark.operators.cogroup import cogroup_asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    refs = e.filter(F.col("event_type") != "purchase").select(
        F.col("event_id"),
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )
    out = cogroup_asof_join(
        purchases,
        refs,
        key="user_id",
        ts_col="ts_us",
        payload_dtypes={
            "event_id": "Int64",
            "event_type": "object",
            "value": "float64",
        },
        schema=(
            "event_id long, user_id long, ts_us long, prev_event_id long, "
            "prev_event_type string, prev_value double"
        ),
    )
    return out.orderBy("event_id")


def _skew_block(table: str, key: str) -> str:
    return f"""
  SELECT '{table}.{key}' AS key_name,
         CAST(nk AS BIGINT) AS n_keys,
         CAST(s AS BIGINT) AS total_rows,
         CAST(mx AS BIGINT) AS max_rows,
         CAST(mn AS BIGINT) AS min_rows,
         CAST(s AS DOUBLE) / nk AS avg_rows,
         sqrt(greatest(CAST(ss AS DOUBLE) / nk
              - (CAST(s AS DOUBLE) / nk) * (CAST(s AS DOUBLE) / nk), 0.0))
           AS stddev_rows,
         CAST(mx AS DOUBLE) / (CAST(s AS DOUBLE) / nk) AS skew_factor,
         CAST(mx AS DOUBLE) / CAST(s AS DOUBLE) AS top_share
  FROM (
    SELECT COUNT(*) AS nk,
           CAST(SUM(n) AS DECIMAL(28,0)) AS s,
           CAST(SUM(CAST(n AS DECIMAL(18,0)) * n) AS DECIMAL(38,0)) AS ss,
           MAX(n) AS mx, MIN(n) AS mn
    FROM (SELECT {key}, COUNT(*) AS n FROM {table} GROUP BY 1)
  )"""


_SKEW_ORACLE = (
    _skew_block("orders", "o_custkey")
    + "\nUNION ALL\n"
    + _skew_block("lineitem", "l_suppkey")
    + "\nUNION ALL\n"
    + _skew_block("events", "user_id")
    + "\nORDER BY key_name"
)


@REGISTRY.register("skew_profile_join_keys", _SKEW_ORACLE)
def skew_profile_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew report for the three hottest join keys —
    the pre-flight check that decides salting / AQE skew-join /
    broadcast-the-hot-key (operators/profiling.py). One
    O(distinct-keys) shuffle per key; moments from exact decimal sums
    with the shared double formula."""
    from movie_rankings_spark.operators.profiling import (
        key_skew_profile,
        skew_profiles,
    )

    return skew_profiles(
        [
            key_skew_profile(_t(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey"),
            key_skew_profile(_t(spark, sf_dir, "lineitem"), "l_suppkey", "lineitem.l_suppkey"),
            key_skew_profile(_t(spark, sf_dir, "events"), "user_id", "events.user_id"),
        ]
    ).orderBy("key_name")


_BASKET_ORACLE = """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM bi),
sup AS (
  SELECT item, COUNT(*) AS n_item FROM bi GROUP BY 1
  HAVING COUNT(*) >= 20
),
freq AS (SELECT bi.basket, bi.item, sup.n_item FROM bi JOIN sup USING (item)),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, COUNT(*) AS n_both,
         MIN(a.n_item) AS n_a, MIN(b.n_item) AS n_b
  FROM freq a JOIN freq b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
rules AS (
  SELECT ia AS antecedent, ib AS consequent,
         n_a AS n_antecedent, n_b AS n_consequent, n_both FROM pairs
  UNION ALL
  SELECT ib, ia, n_b, n_a, n_both FROM pairs
)
SELECT antecedent, consequent,
       CAST(n_antecedent AS BIGINT) AS n_antecedent,
       CAST(n_consequent AS BIGINT) AS n_consequent,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(nb.n_baskets AS BIGINT) AS n_baskets,
       CAST(n_both AS DOUBLE) / CAST(n_antecedent AS DOUBLE) AS confidence,
       CAST(n_both AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
         / (CAST(n_antecedent AS DOUBLE) * CAST(n_consequent AS DOUBLE))
         AS lift
FROM rules, nb ORDER BY antecedent, consequent
"""


@REGISTRY.register("basket_association_rules", _BASKET_ORACLE)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket support/confidence/lift over order baskets
    (operators/basket.py): a-priori frequent-item prefilter bounds
    the within-basket pair join; exact integer counts → double
    ratios, fully oracle-checked."""
    from movie_rankings_spark.operators.basket import association_rules

    return association_rules(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_item_support=20,
        min_pair_support=3,
    ).orderBy("antecedent", "consequent")


_QNORM_ORACLE = """
WITH vc AS (
  SELECT o_totalprice AS v, COUNT(*) AS c FROM orders GROUP BY 1
),
t AS (
  SELECT v, c,
         SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS n
  FROM vc
)
SELECT v AS value, CAST(c AS BIGINT) AS n_rows,
       CAST(cum - c AS DOUBLE) / (n - 1) AS pct
FROM t ORDER BY value
"""


@REGISTRY.register("quantile_normalize_price", _QNORM_ORACLE)
def quantile_normalize_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percent-rank map for o_totalprice (operators/statistics
    .py::quantile_rank_map): the rank-based normalization computed by
    sketch-bounded buckets + exact per-bucket cumulative counts +
    driver offset prefix sums — never an Exchange SinglePartition
    (the DuckDB twin's global window is the semantics, not the
    plan)."""
    from movie_rankings_spark.operators.statistics import quantile_rank_map

    return quantile_rank_map(
        _t(spark, sf_dir, "orders"), "o_totalprice", buckets=32
    ).orderBy("value")


_ROLLING_Z_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, value,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,6))
                       * CAST(value AS DECIMAL(18,6))
                       AS DECIMAL(38,12))) OVER w AS DOUBLE) AS ss
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value,
       CASE WHEN n >= 5 THEN s / n END AS trail_mean,
       CASE WHEN n >= 5 THEN
         sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) END AS trail_std,
       COALESCE(CASE WHEN n >= 5 THEN
         abs(value - s / n)
           > 3.0 * sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) END,
         FALSE) AS is_anomaly
FROM t ORDER BY event_id
"""


@REGISTRY.register("anomaly_rolling_zscore", _ROLLING_Z_ORACLE)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-user z-score flags (operators/timeseries.py::
    rolling_zscore_anomaly): trailing-10-event local baseline,
    current row excluded, exact decimal window moments + shared
    double formula — one shuffle, one sort, value-hash exact."""
    from movie_rankings_spark.operators.timeseries import (
        rolling_zscore_anomaly,
    )

    return rolling_zscore_anomaly(_t(spark, sf_dir, "events")).orderBy(
        "event_id"
    )


_ACTIVE_USERS_ORACLE = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE CAST(e.ts AS DATE) = d.day) AS BIGINT) AS dau,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day)
            AS BIGINT) AS wau
FROM days d ORDER BY day
"""


@REGISTRY.register("active_users_rolling", _ACTIVE_USERS_ORACLE)
def active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / trailing-7-day WAU from daily bitmaps
    (operators/timeseries.py::rolling_active_users): per-bucket
    RANGE-frame bitmap ORs over a densified day×bucket grid — the
    rolling-distinct query answered exactly, not by sketch, and
    value-hash checked against brute-force COUNT(DISTINCT)."""
    from movie_rankings_spark.operators.timeseries import (
        rolling_active_users,
    )

    return rolling_active_users(_t(spark, sf_dir, "events"), 7)


_WINSOR_ORACLE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                     AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
         AS winsorized_mean,
       CAST(SUM(CASE WHEN l.l_extendedprice < b.lo
                       OR l.l_extendedprice > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM lineitem l JOIN b USING (l_returnflag)
GROUP BY l.l_returnflag ORDER BY l.l_returnflag
"""


@REGISTRY.register("winsorized_mean_price", _WINSOR_ORACLE)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized mean (values clipped to the group's
    [p5, p95] before averaging) — the robust-mean companion to the
    median/MAD profile: keeps every row's vote but caps outlier
    leverage. Two passes (exact percentile bounds broadcast back,
    then clip+mean with exact decimal sums), the documented
    robust-statistics shape."""
    li = _t(spark, sf_dir, "lineitem", fanout=True).select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.05)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
    )
    out_of_band = (F.col("l_extendedprice") < F.col("lo")) | (
        F.col("l_extendedprice") > F.col("hi")
    )
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(clipped.cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
            F.sum(F.when(out_of_band, 1).otherwise(0))
            .cast("long")
            .alias("n_clipped"),
        )
        .orderBy("l_returnflag")
    )


_HIST2D_ORACLE = """
SELECT CAST(least(floor(l_quantity / 10), 4) AS BIGINT) AS qty_bucket,
       CAST(least(floor(l_extendedprice / 20000), 4) AS BIGINT)
         AS price_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("histogram2d_qty_price", _HIST2D_ORACLE)
def histogram2d_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D fixed-grid histogram (quantity × price, 5×5 open-topped
    buckets) with per-cell revenue — the heatmap aggregation behind
    density/joint-distribution dashboards: one hash aggregate on the
    derived (bucket, bucket) key, shuffle ≤ 25 rows per partition
    regardless of fact size."""
    li = _t(spark, sf_dir, "lineitem")
    qb = F.least(F.floor(F.col("l_quantity") / 10), F.lit(4)).cast("long")
    pb = F.least(F.floor(F.col("l_extendedprice") / 20000), F.lit(4)).cast(
        "long"
    )
    return (
        li.groupBy(qb.alias("qty_bucket"), pb.alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("qty_bucket", "price_bucket")
    )


# --- ANALYZE-style table profile (orders) -----------------------------------

_PROFILE_ORACLE = """
WITH s AS (SELECT * FROM orders)
SELECT 'o_custkey' AS "column",
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_value
FROM s
UNION ALL
SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
FROM s
UNION ALL
SELECT 'o_orderkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
       CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
FROM s
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM s
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM s
UNION ALL
SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
       CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
FROM s
ORDER BY "column"
"""


@REGISTRY.register("profile_columns_orders", _PROFILE_ORACLE)
def profile_columns_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE statistics for every orders column in ONE scan
    (operators/profiling.py::column_profile): per column n_rows /
    n_nulls / exact NDV / portable min-max strings, the inputs a
    cost-based optimizer (and a data-quality dashboard) reads. The N
    exact count(distinct) compile to a single Expand feeding one
    aggregate — the fact is never scanned per-column; at 100 TB the
    same shape runs with approx_count_distinct (no Expand)."""
    from movie_rankings_spark.operators.profiling import column_profile

    ident = lambda c: c  # noqa: E731
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    return column_profile(
        _t(spark, sf_dir, "orders"),
        {
            "o_orderkey": ident,
            "o_custkey": ident,
            "o_orderstatus": ident,
            "o_totalprice": dec4,
            "o_orderdate": ident,
            "o_orderpriority": ident,
        },
    )


# Bounded-error oracle (r6, VERDICT r5 item 4): HLL estimates are
# engine-specific, but approx_count_distinct's published error is not
# (default rsd 0.05; 3σ ⇒ 15 %). The query joins the one-scan approx
# profile to the exact-NDV pass and asserts |approx − exact| ≤
# 0.15·exact per column; DuckDB asserts the contract as literal TRUE
# over the exact profile, so a hash match proves the bound held. The
# exact columns (counts/min/max) hash-compare as before.
_PROFILE_APPROX_ORACLE = _PROFILE_ORACLE.replace(
    'CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,',
    "TRUE AS ndv_in_bound,",
).replace("CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),", "TRUE,").replace(
    "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),", "TRUE,"
).replace(
    "CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),", "TRUE,"
).replace(
    "CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),", "TRUE,"
).replace(
    "CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),", "TRUE,"
)


@REGISTRY.register("profile_columns_orders_approx", _PROFILE_APPROX_ORACLE)
def profile_columns_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of profile_columns_orders (r4, VERDICT item 7):
    approx_count_distinct folded into the single grouping-free
    aggregate — exactly ONE scan of the fact, no Expand, no stacked
    explode. r6: the HLL estimate column is audited in-query against
    the exact NDV pass (see _PROFILE_APPROX_ORACLE) — the audit join
    is 6 rows. The one-scan approx plan shape and NDV accuracy are
    additionally pinned in tests/test_session4_ops.py. The exact-NDV
    audit branch buys its NDV via column_ndv_exact (one stacked scan),
    so the whole audited query reads the fact exactly twice — once
    approx (the production branch), once for the gate."""
    from movie_rankings_spark.operators.profiling import (
        column_ndv_exact,
        column_profile,
    )

    ident = lambda c: c  # noqa: E731
    dec4 = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    renders = {
        "o_orderkey": ident,
        "o_custkey": ident,
        "o_orderstatus": ident,
        "o_totalprice": dec4,
        "o_orderdate": ident,
        "o_orderpriority": ident,
    }
    orders = _t(spark, sf_dir, "orders")
    approx = column_profile(orders, renders, exact=False)
    exact_ndv = column_ndv_exact(orders, list(renders)).select(
        "column", F.col("n_distinct").alias("_ndv_exact")
    )
    return (
        approx.join(exact_ndv, "column")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            (
                F.abs(
                    F.col("n_distinct").cast("double")
                    - F.col("_ndv_exact").cast("double")
                )
                <= 0.15 * F.col("_ndv_exact").cast("double")
            ).alias("ndv_in_bound"),
            "min_value",
            "max_value",
        )
        .orderBy("column")
    )


# --- k-anonymity risk report (customer quasi-identifiers) -------------------

_KANON_ORACLE = """
WITH g AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS sz
  FROM customer GROUP BY 1, 2
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(sz) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_groups,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
         / CAST(SUM(sz) AS DOUBLE) AS risky_share
FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@REGISTRY.register("kanonymity_customers", _KANON_ORACLE)
def kanonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (mktsegment, nationkey) quasi-
    identifier — the privacy gate a training-data release runs before
    shipping user-derived rows: per segment, how many equivalence
    classes fall below k=5 and what share of rows they expose.

    Two hash aggregates, both with map-side combine: fact →
    quasi-identifier group sizes (shuffle bounded by |QI| domain),
    then |QI| rows → per-segment summary. No window, no sort until
    the |segments|-row tail."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("sz")
    )
    risky = F.when(F.col("sz") < 5, F.col("sz")).otherwise(F.lit(0))
    return (
        g.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("sz").alias("min_group_size"),
            F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
            .cast("long")
            .alias("n_risky_groups"),
            F.sum(risky).cast("long").alias("n_risky_rows"),
            (
                F.sum(risky).cast("double")
                / F.sum("sz").cast("double")
            ).alias("risky_share"),
        )
        .withColumn("n_groups", F.col("n_groups").cast("long"))
        .withColumn("min_group_size", F.col("min_group_size").cast("long"))
        .orderBy("c_mktsegment")
    )


# --- Theil–Sen robust trend (r3s4) ------------------------------------------

_THEILSEN_ORACLE = """
WITH ord_rev AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_orderkey
), monthly AS (
  SELECT n.n_name,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1 AS x,
         CAST(SUM(r.rev) AS DECIMAL(18,4)) AS y
  FROM ord_rev r
  JOIN orders o   ON o.o_orderkey  = r.l_orderkey
  JOIN customer c ON c.c_custkey   = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), slopes AS (
  SELECT a.n_name,
         (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
           / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.x < b.x
), med AS (
  SELECT n_name,
         quantile_cont(slope, 0.5) AS ts_slope,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes GROUP BY 1
), resid AS (
  SELECT m.n_name, d.ts_slope, d.n_pairs,
         CAST(m.y AS DOUBLE) - d.ts_slope * CAST(m.x AS DOUBLE) AS b0
  FROM monthly m JOIN med d USING (n_name)
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       n_pairs, ts_slope,
       quantile_cont(b0, 0.5) AS ts_intercept
FROM resid GROUP BY n_name, ts_slope, n_pairs
ORDER BY n_name
"""


@REGISTRY.register("regression_theilsen_trend", _THEILSEN_ORACLE)
def regression_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust revenue trend per nation (operators/
    statistics.py::grouped_theilsen) — median-of-pairwise-slopes,
    immune to the promo-month spikes that swing the OLS slope
    (regression_monthly_trend is the efficiency companion). Pairwise
    work is quadratic only in the ALREADY-AGGREGATED monthly series
    (bounded per group), never the fact."""
    from movie_rankings_spark.operators.statistics import grouped_theilsen

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ord_rev = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("rev")
    )
    monthly = (
        ord_rev.join(orders, orders.o_orderkey == ord_rev.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
            ).alias("x"),
        )
        .agg(F.sum("rev").cast("decimal(18,4)").alias("y"))
    )
    return grouped_theilsen(monthly, ["n_name"], "x", "y").orderBy("n_name")


# --- classical seasonal index (r3s4) ----------------------------------------

_SEASONAL_ORACLE = """
WITH monthly AS (
  SELECT month(o_orderdate) AS month_of_year,
         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS y
  FROM orders GROUP BY 1, 2
), base AS (
  SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS grand_mean FROM monthly
)
SELECT month_of_year,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mean_revenue,
       (CAST(SUM(y) AS DOUBLE) / COUNT(*)) / b.grand_mean AS seasonal_index
FROM monthly CROSS JOIN base b
GROUP BY month_of_year, b.grand_mean
ORDER BY month_of_year
"""


@REGISTRY.register("seasonality_monthly_index", _SEASONAL_ORACLE)
def seasonality_monthly_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal index: each calendar month's mean revenue
    over the grand monthly mean (index > 1 = seasonally strong) —
    the decomposition step before de-seasonalized trend fitting. Two
    bounded aggregates (month cells → 12-row index) + a 1-row
    broadcast; exact decimal sums make the ratios engine-identical."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").alias("month_of_year"),
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1).alias(
            "x"
        ),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("y"))
    base = monthly.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("grand_mean")
    )
    return (
        monthly.crossJoin(F.broadcast(base))
        .groupBy("month_of_year", "grand_mean")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias(
                "mean_revenue"
            ),
        )
        .select(
            "month_of_year",
            "n_months",
            "mean_revenue",
            (F.col("mean_revenue") / F.col("grand_mean")).alias(
                "seasonal_index"
            ),
        )
        .orderBy("month_of_year")
    )


# --- revenue-concentration Gini (r3s4) --------------------------------------

_GINI_ORACLE = """
WITH cust_rev AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rn
  FROM cust_rev
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(rev) AS DOUBLE) AS total,
       2.0 * CAST(SUM(rev * CAST(rn AS DECIMAL(16,0))) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))
       - (CAST(COUNT(*) AS DOUBLE) + 1) / CAST(COUNT(*) AS DOUBLE)
         AS gini
FROM ranked
"""


@REGISTRY.register("gini_customer_revenue", _GINI_ORACLE)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue
    (operators/statistics.py::gini_exact) — the concentration metric
    behind "whale" analyses, computed WITHOUT a global sort: tie
    groups over the distinct-value table with bucketed exact
    min-ranks reduce the rank identity distributively (the
    quantile-normalization machinery re-used for an economics
    statistic). The oracle's global ROW_NUMBER form is the
    small-scale verifier; tie order doesn't change Σ rn·x because
    tied values are equal."""
    from movie_rankings_spark.operators.statistics import gini_exact

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    return gini_exact(rev, "rev")


# --- mergeable histogram rollup (events.value) ------------------------------

_HIST_ROLLUP_ORACLE = """
WITH daily AS (
  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
         least(19, greatest(0, CAST(floor(value / 25.0) AS INT))) AS bin,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT grp, bin,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_daily_cells
FROM daily GROUP BY grp, bin ORDER BY grp, bin
"""


@REGISTRY.register("histogram_rollup_events", _HIST_ROLLUP_ORACLE)
def histogram_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-(event_type, day) fixed-bin histogram rolled up
    to event_type by SUMMING bin counts (operators/statistics.py::
    histogram_mergeable_rollup) — the stored-artifact pattern of the
    HLL rollup applied to value distributions: at 100 TB the daily
    histogram table is the only artifact, and every dashboard level
    above it merges counters instead of rescanning events. Bin counts
    are exact integers, so the merge path is value-hash checked
    against a direct DuckDB rollup."""
    from movie_rankings_spark.operators.statistics import (
        histogram_mergeable_rollup,
    )

    return histogram_mergeable_rollup(
        load_table(spark, sf_dir, "events"),
        "event_type",
        F.to_date("ts"),
        "value",
        lo=0.0,
        step=25.0,
        n_bins=20,
    )


# --- Poisson bootstrap CI (orders mean by priority) -------------------------

_BOOTSTRAP_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderkey AS k
  FROM orders
),
rep AS (
  SELECT grp, v, b,
    CASE WHEN b = -1 THEN 1
         WHEN u < '5e2d' THEN 0 WHEN u < 'bc5a' THEN 1 WHEN u < 'eb71' THEN 2
         WHEN u < 'fb23' THEN 3 WHEN u < 'ff10' THEN 4 WHEN u < 'ffd9' THEN 5
         WHEN u < 'fffa' THEN 6 ELSE 7 END AS w
  FROM (
    SELECT grp, v, b,
           substr(  md5(CAST(k AS VARCHAR) || ':boot:0')
                 || md5(CAST(k AS VARCHAR) || ':boot:1')
                 || md5(CAST(k AS VARCHAR) || ':boot:2')
                 || md5(CAST(k AS VARCHAR) || ':boot:3'),
               CAST(b AS INT) * 4 + 1, 4) AS u
    FROM base, LATERAL unnest(range(-1, 32)) AS t(b)
  )
),
per_rep AS (
  SELECT grp, b, SUM(CAST(w AS DECIMAL(28,0)) * v) AS ws, SUM(w) AS wn
  FROM rep GROUP BY 1, 2
),
means AS (
  SELECT grp, CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS m
  FROM per_rep WHERE b >= 0 AND wn > 0
),
ranked AS (
  SELECT grp, m,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m ASC) AS ra,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m DESC) AS rd
  FROM means
),
ci AS (
  SELECT grp, MAX(CASE WHEN ra = 2 THEN m END) AS ci_lo,
         MAX(CASE WHEN rd = 2 THEN m END) AS ci_hi,
         COUNT(*) AS n_replicas
  FROM ranked GROUP BY 1
),
overall AS (
  SELECT grp, wn AS n_rows,
         CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) / 100.0 AS mean_value
  FROM per_rep WHERE b = -1
)
SELECT o.grp AS o_orderpriority,
       CAST(o.n_rows AS BIGINT) AS n_rows,
       o.mean_value,
       c.ci_lo / 100.0 AS ci_lo,
       c.ci_hi / 100.0 AS ci_hi,
       CAST(c.n_replicas AS BIGINT) AS n_replicas
FROM overall o JOIN ci c USING (grp) ORDER BY o.grp
"""


@REGISTRY.register("bootstrap_mean_ci_orders", _BOOTSTRAP_ORACLE)
def bootstrap_mean_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority mean order value with a 32-replica Poisson
    bootstrap confidence interval (operators/bootstrap.py) — the
    one-pass uncertainty estimate for massive aggregates: each row
    explodes into (replica, Poisson(1) weight) contributions, one
    map-side-combinable groupBy reduces to |groups|*32 partials, and
    the CI is order statistics of the replica means. Deterministic
    md5 weights + integer sums + interpolation-free order-statistic
    CI make the whole report value-hash exact across engines."""
    from movie_rankings_spark.operators.bootstrap import bootstrap_mean_ci

    return bootstrap_mean_ci(
        load_table(spark, sf_dir, "orders"),
        key_col="o_orderkey",
        value_col="o_totalprice",
        group_cols=["o_orderpriority"],
        n_replicas=32,
    )


# --- mutual information: documents lang × source ----------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
  FROM documents GROUP BY 1, 2
), rt AS (
  SELECT lang, CAST(SUM(observed) AS BIGINT) AS row_total FROM cells GROUP BY 1
), ct AS (
  SELECT source, CAST(SUM(observed) AS BIGINT) AS col_total FROM cells GROUP BY 1
), g AS (
  SELECT CAST(SUM(observed) AS BIGINT) AS grand_total FROM cells
), j AS (
  SELECT c.lang, c.source, c.observed, rt.row_total, ct.col_total,
         g.grand_total,
         CAST(round(ln(
             (CAST(c.observed AS DOUBLE) * CAST(g.grand_total AS DOUBLE))
           / (CAST(rt.row_total AS DOUBLE) * CAST(ct.col_total AS DOUBLE))
         ) * 1000000000.0) AS BIGINT) AS pmi_q9
  FROM cells c JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN g
)
SELECT lang, source, observed, row_total, col_total, grand_total, pmi_q9,
       observed * pmi_q9 AS mi_contrib_q9
FROM j ORDER BY lang, source
"""


@REGISTRY.register("mi_lang_source", _MI_ORACLE)
def mi_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How MUCH does source tell you about language? Per-cell mutual-
    information decomposition of the lang × source table — the
    effect-size companion to chi2_lang_source (which only tests
    dependence). MI in nats = Σ mi_contrib_q9 / (N·1e9); a high value
    means sampling rates conditioned on source implicitly recondition
    the language mix.

    One map-side-combined shuffle reduces the corpus to |langs|·
    |sources| cells; marginals re-aggregate the cached cell table —
    the 100 TB side is scanned once. PMI logs are quantized BIGINTs
    (the corpuslaws ln·1e9 convention) so every row value-hashes
    (operators/infotheory.py::mutual_information_cells).
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        mutual_information_cells(docs, "lang", "source")
        .withColumnRenamed("a", "lang")
        .withColumnRenamed("b", "source")
        .orderBy("lang", "source")
    )


# --- month-over-month top movers per market segment -------------------------

_TOPMOVERS_ORACLE = """
WITH monthly AS (
  SELECT c.c_mktsegment AS segment,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1
           AS month_idx,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), lagged AS (
  SELECT segment, month_idx, rev_cents,
         LAG(rev_cents) OVER (PARTITION BY segment ORDER BY month_idx)
           AS prev_cents
  FROM monthly
), deltas AS (
  SELECT segment, month_idx, rev_cents, prev_cents,
         rev_cents - prev_cents AS delta_cents
  FROM lagged WHERE prev_cents IS NOT NULL
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY segment
    ORDER BY abs(delta_cents) DESC, month_idx DESC) AS rn
  FROM deltas
)
SELECT segment, CAST(month_idx AS BIGINT) AS month_idx, rev_cents,
       prev_cents, delta_cents
FROM ranked WHERE rn = 1 ORDER BY segment
"""


@REGISTRY.register("topmovers_segment_monthly", _TOPMOVERS_ORACLE)
def topmovers_segment_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest month-over-month revenue swing per market segment —
    the "what changed?" alerting query over any metric tree: compute
    the per-(segment, month) series once, diff consecutive months
    with LAG, keep each segment's biggest absolute mover
    (deterministic tie-break: later month wins).

    Scale shape: the fact table shuffles ONCE into the (segment,
    month) aggregate (map-side combined, cents in BIGINT); the lag
    window and the per-segment argmax run over |segments|·|months|
    rows — kilobytes, data-independent cardinality. The argmax is
    max(struct(|Δ|, month, …)) — no second shuffle of anything
    fact-sized.
    """
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (
                (F.year("o_orderdate") - F.lit(1992)) * F.lit(12)
                + F.month("o_orderdate")
                - F.lit(1)
            ).cast("long").alias("month_idx"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("segment").orderBy("month_idx")
    deltas = (
        monthly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .filter(F.col("prev_cents").isNotNull())
        .withColumn("delta_cents", F.col("rev_cents") - F.col("prev_cents"))
    )
    picked = deltas.groupBy("segment").agg(
        F.max(
            F.struct(
                F.abs(F.col("delta_cents")).alias("_a"),
                F.col("month_idx").alias("month_idx"),
                F.col("rev_cents").alias("rev_cents"),
                F.col("prev_cents").alias("prev_cents"),
                F.col("delta_cents").alias("delta_cents"),
            )
        ).alias("_t")
    )
    return picked.select(
        "segment",
        F.col("_t.month_idx").alias("month_idx"),
        F.col("_t.rev_cents").alias("rev_cents"),
        F.col("_t.prev_cents").alias("prev_cents"),
        F.col("_t.delta_cents").alias("delta_cents"),
    ).orderBy("segment")


# --- two-sample distribution tests + Benford audit --------------------------

_KS_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), vc AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
  FROM r GROUP BY 1
), cum AS (
  SELECT v, CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM vc
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM vc
), d AS (
  SELECT c.v, ABS(c.cum_a * t.n_b - c.cum_b * t.n_a) AS d_num,
         t.n_a, t.n_b
  FROM cum c CROSS JOIN tot t
)
SELECT n_a, n_b, CAST(d_num AS BIGINT) AS d_num,
       CAST(v AS BIGINT) AS at_value,
       CAST(d_num AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks_d
FROM d ORDER BY d_num DESC, v ASC LIMIT 1
"""


@REGISTRY.register("ks_price_priority", _KS_ORACLE)
def ks_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did urgent orders price differently from low-priority ones?
    Exact two-sample Kolmogorov-Smirnov distance between the
    o_totalprice (cents) distributions of 1-URGENT vs 5-LOW orders,
    with the price where the ECDF gap peaks — the binning-free shape
    test next to drift_train_val_js's binned JS divergence.

    The fact reduces once to the distinct-cents count table (~N
    distinct values — exactly the regime where roc_curve's theta join
    would go quadratic); exact cumulative counts come from the
    bucketed per-bucket-window + driver-offset two-pass, never a
    global-sort window. d_num is an exact BIGINT cross-product;
    ks_d is one IEEE division (operators/disttests.py::ks_two_sample).
    """
    from movie_rankings_spark.operators.disttests import ks_two_sample

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
    return ks_two_sample(
        orders.withColumn("_cents", cents),
        "_cents",
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
    )


_MWU_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), vc AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
  FROM r GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM vc
), m AS (
  SELECT CAST(SUM(ca * (2 * (cum_b - cb) + cb)) AS BIGINT) AS u_a_x2,
         CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS tie_term
  FROM cum
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM vc
)
SELECT n_a, n_b, u_a_x2,
       CAST(2 * n_a * n_b - u_a_x2 AS BIGINT) AS u_b_x2, tie_term,
       (CAST(u_a_x2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS rank_biserial,
       (CAST(u_a_x2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
         / (2.0 * sqrt(
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
             * (CAST(n_a + n_b + 1 AS DOUBLE)
                - CAST(tie_term AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE)
                     * CAST(n_a + n_b - 1 AS DOUBLE))))) AS z
FROM m CROSS JOIN tot
"""


@REGISTRY.register("mannwhitney_price_priority", _MWU_ORACLE)
def mannwhitney_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do urgent orders stochastically dominate low-priority ones on
    price? Exact Mann-Whitney U (midrank ties, doubled to stay
    integral) with rank-biserial effect size and tie-corrected z —
    the rank-based alternative to a t-test, over the same 1-URGENT
    vs 5-LOW split as ks_price_priority.

    Same single-shuffle distinct-value reduction and bucketed
    cumulative as the KS test; U and the tie term are exact BIGINTs,
    rank_biserial/z are IEEE expressions of those integers mirrored
    verbatim in the oracle
    (operators/disttests.py::mannwhitney_u).
    """
    from movie_rankings_spark.operators.disttests import mannwhitney_u

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
    return mannwhitney_u(
        orders.withColumn("_cents", cents),
        "_cents",
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
    )


def _benford_oracle() -> str:
    from movie_rankings_spark.operators.disttests import BENFORD_EXPECTED

    def _exact_double(v: float) -> str:
        # DuckDB parses decimal literals as DECIMAL (even under a
        # DOUBLE cast), rounding the 17th digit away from the IEEE
        # value Spark holds; a mantissa/2^k integer ratio divides two
        # exactly-representable doubles and reproduces v bit-for-bit
        num, den = v.as_integer_ratio()
        return f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"

    values = ", ".join(
        f"({d}, {_exact_double(e)})"
        for d, e in sorted(BENFORD_EXPECTED.items())
    )
    return f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS observed
  FROM c WHERE cents > 0 GROUP BY 1
), frame AS (
  SELECT * FROM (VALUES {values}) AS t(digit, expected)
), filled AS (
  SELECT f.digit, f.expected,
         CAST(COALESCE(o.observed, 0) AS BIGINT) AS observed
  FROM frame f LEFT JOIN obs o USING (digit)
), tot AS (
  SELECT CAST(SUM(observed) AS BIGINT) AS total FROM filled
)
SELECT digit, observed, total,
       CAST(observed AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       expected,
       CAST(observed AS DOUBLE) / CAST(total AS DOUBLE) - expected AS dev
FROM filled CROSS JOIN tot ORDER BY digit
"""


@REGISTRY.register("benford_totalprice", _benford_oracle())
def benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does o_totalprice look organically generated? First-
    significant-digit distribution vs Benford's law (cents keep the
    price's leading digit) — the fabricated-data screen run on a
    numeric column before trusting it as a feature. TPC-H prices are
    synthetic sums, so the DEVIATION ITSELF is the informative
    output here; the operator contract is the audit table.

    One map-side-combined shuffle to <= 9 cells; expected shares are
    frozen literals injected identically into both engines, so
    share/dev are IEEE expressions of exact integers — value-hash
    exact (operators/disttests.py::benford_first_digit).
    """
    from movie_rankings_spark.operators.disttests import benford_first_digit

    orders = _t(spark, sf_dir, "orders")
    return benford_first_digit(
        orders, F.round(F.col("o_totalprice") * F.lit(100))
    )


# --- Spearman rank correlation: quantity vs price ----------------------------

#: the three integer moments pass 2^64 at sf0.1, where DuckDB's
#: HUGEINT->DOUBLE cast is not correctly rounded (off by 1 ulp); the
#: cast through VARCHAR is, and matches Spark's exact decimals
_SPEARMAN_ORACLE = """
WITH pc AS (
  SELECT CAST(l_quantity AS BIGINT) AS va,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS vb,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), ta AS (
  SELECT va, CAST(SUM(c) AS BIGINT) AS ca FROM pc GROUP BY 1
), ra AS (
  SELECT va, 2 * SUM(ca) OVER (ORDER BY va) - ca + 1 AS r2a FROM ta
), tb AS (
  SELECT vb, CAST(SUM(c) AS BIGINT) AS cb FROM pc GROUP BY 1
), rb AS (
  SELECT vb, 2 * SUM(cb) OVER (ORDER BY vb) - cb + 1 AS r2b FROM tb
), j AS (
  SELECT pc.c, ra.r2a, rb.r2b
  FROM pc JOIN ra USING (va) JOIN rb USING (vb)
), m AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(c AS HUGEINT) * r2a * r2b) AS sab,
         SUM(CAST(c AS HUGEINT) * r2a * r2a) AS saa,
         SUM(CAST(c AS HUGEINT) * r2b * r2b) AS sbb
  FROM j
)
SELECT n AS n_rows,
       CAST(CAST(CAST(n AS HUGEINT) * sab
            - (CAST(n AS HUGEINT) * (n + 1)) * (CAST(n AS HUGEINT) * (n + 1))
            AS VARCHAR) AS DOUBLE)
       / (sqrt(CAST(CAST(CAST(n AS HUGEINT) * saa
            - (CAST(n AS HUGEINT) * (n + 1)) * (CAST(n AS HUGEINT) * (n + 1))
            AS VARCHAR) AS DOUBLE))
        * sqrt(CAST(CAST(CAST(n AS HUGEINT) * sbb
            - (CAST(n AS HUGEINT) * (n + 1)) * (CAST(n AS HUGEINT) * (n + 1))
            AS VARCHAR) AS DOUBLE))) AS rho
FROM m
"""


@REGISTRY.register("spearman_qty_price", _SPEARMAN_ORACLE)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quantity→price relationship monotone? Exact Spearman
    rank correlation between l_quantity and l_extendedprice (cents)
    — the outlier-robust, nonlinearity-tolerant sibling of
    corr_price_quantity's Pearson r, and the feature-screening
    number reported when a scatter plot would mislead.

    The fact reduces once to the distinct-(qty, cents) pair table;
    midranks come from the bucketed-cumulative machinery over that
    cached table; the centered moments are exact DECIMAL(38,0)
    integers so the near-cancelling differences lose no precision
    (operators/disttests.py::spearman_rho).
    """
    from movie_rankings_spark.operators.disttests import spearman_rho

    li = _t(spark, sf_dir, "lineitem", fanout=True)
    return spearman_rho(
        li,
        F.col("l_quantity"),
        F.round(F.col("l_extendedprice") * F.lit(100)),
    )


# --- lag-k autocorrelation of daily revenue ---------------------------------

_ACF_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM daily
), lags AS (
  SELECT CAST(unnest(generate_series(1, 14)) AS INT) AS lag
), pairs AS (
  SELECT l.lag, h.x AS xh, t.x AS xt
  FROM lags l
  JOIN daily h ON TRUE
  JOIN daily t ON t.d = h.d + l.lag
), agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(xh AS HUGEINT) * xt) AS sxy,
         CAST(SUM(xh) AS BIGINT) AS sh, CAST(SUM(xt) AS BIGINT) AS st
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CAST(CAST(n AS HUGEINT) * n * sxy
            - CAST(n AS HUGEINT) * s * (sh + st)
            + CAST(n_pairs AS HUGEINT) * s * s AS DOUBLE)
       / CAST(CAST(n AS HUGEINT)
              * (CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s)
              AS DOUBLE) AS acf
FROM agg CROSS JOIN scal ORDER BY lag
"""


@REGISTRY.register("acf_daily_revenue", _ACF_ORACLE)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How persistent is daily revenue across k days? Exact lag-1..14
    autocorrelation of the daily revenue series — the diagnostic
    read before sizing a forecasting or anomaly window (a weekly
    business shows the lag-7 spike; a trending one decays slowly).

    One fact shuffle into the date-domain-bounded daily series
    (persisted); a 14-row broadcast lag frame equi-joins it back on
    day+k — no global window, no second fact pass; centered moments
    are exact DECIMAL(38,0) differences mirrored in HUGEINT
    (operators/timeseries.py::acf_daily).
    """
    from movie_rankings_spark.operators.timeseries import acf_daily

    orders = _t(spark, sf_dir, "orders")
    return acf_daily(
        orders,
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)),
        max_lag=14,
    )


# --- CUSUM change-point on daily revenue ------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), pref AS (
  SELECT d, CAST(SUM(x) OVER (ORDER BY d) AS BIGINT) AS prefix,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t_idx
  FROM daily
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS total_cents
  FROM daily
), c AS (
  SELECT strftime(d, '%Y-%m-%d') AS change_day, n_days, total_cents,
         ABS(n_days * prefix - t_idx * total_cents) AS cusum_num, d
  FROM pref CROSS JOIN tot
), r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cusum_num DESC, d ASC) AS rn FROM c
)
SELECT change_day, n_days, total_cents,
       CAST(cusum_num AS BIGINT) AS cusum_num,
       CAST(cusum_num AS DOUBLE)
         / CAST(n_days * total_cents AS DOUBLE) AS frac
FROM r WHERE rn = 1
"""


@REGISTRY.register("changepoint_daily_revenue", _CUSUM_ORACLE)
def changepoint_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE did daily revenue switch regimes? Exact CUSUM change-
    point: the day maximizing |cumulative deviation from the global
    mean| — the level-shift alert that complements
    anomaly_rolling_zscore's pointwise outliers (a gradual 10% step
    never trips a z-score but peaks the CUSUM at the step day).

    One fact shuffle into the date-domain-bounded daily series
    (persisted — prefix + totals passes share it); the prefix sum is
    a global window over that bounded aggregate (declared in the
    audit allowlist); the statistic is scaled by n to stay an exact
    BIGINT (operators/timeseries.py::cusum_changepoint).
    """
    from movie_rankings_spark.operators.timeseries import cusum_changepoint

    orders = _t(spark, sf_dir, "orders")
    return cusum_changepoint(
        orders, "o_orderdate", F.round(F.col("o_totalprice") * F.lit(100))
    )


# --- A/B test readout: two-proportion z + Wilson intervals -------------------

_ABTEST_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 31, 2)
              AS BIGINT) % 2 AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM per_user
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         AS z,
       ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
          / (2.0 * CAST(n_a AS DOUBLE))
        - CAST(1.96 AS DOUBLE)
          * sqrt((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 * (1.0 - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 / CAST(n_a AS DOUBLE)
                 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                   / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))))
       / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                / CAST(n_a AS DOUBLE)) AS wilson_lo_a,
       ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
          / (2.0 * CAST(n_a AS DOUBLE))
        + CAST(1.96 AS DOUBLE)
          * sqrt((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 * (1.0 - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 / CAST(n_a AS DOUBLE)
                 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                   / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))))
       / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                / CAST(n_a AS DOUBLE)) AS wilson_hi_a,
       ((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
          / (2.0 * CAST(n_b AS DOUBLE))
        - CAST(1.96 AS DOUBLE)
          * sqrt((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 * (1.0 - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / CAST(n_b AS DOUBLE)
                 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                   / (4.0 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))))
       / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                / CAST(n_b AS DOUBLE)) AS wilson_lo_b,
       ((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
          / (2.0 * CAST(n_b AS DOUBLE))
        + CAST(1.96 AS DOUBLE)
          * sqrt((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 * (1.0 - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / CAST(n_b AS DOUBLE)
                 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                   / (4.0 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))))
       / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                / CAST(n_b AS DOUBLE)) AS wilson_hi_b
FROM m
"""


@REGISTRY.register("abtest_conversion_events", _ABTEST_ORACLE)
def abtest_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms
    (md5 low byte, the hash_split convention), outcome = "heavy
    purchaser" (≥ 14 purchase events — the scale-invariant ~50%
    split on this corpus; "any purchase" saturates to 100% and
    degenerates the pooled z); report per-arm conversion with Wilson 95%
    intervals and the pooled two-proportion z — the product-analytics
    staple that completes the inference toolkit (KS/MWU test shapes,
    chi²/MI test dependence; this tests a designed binary contrast).

    Scale shape: one fact shuffle to per-user rows, one map-side-
    combined reduction to a 1-ROW moment set (n, conversions per
    arm); every reported number is an IEEE expression of those four
    exact BIGINTs, mirrored verbatim in the oracle. Wilson (not Wald)
    so tiny arms and 0%/100% rates stay inside [0, 1].
    """
    events = _t(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 31, 2),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = events.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= F.lit(14)
        )
        .cast("int")
        .alias("conv")
    ).select(arm.alias("arm"), "conv")
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    z0 = F.lit(1.96)
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    ra, rb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    z = (ra - rb) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )

    def wilson(p, n, sign):
        half = z0 * z0 / (F.lit(2.0) * n)
        rad = z0 * F.sqrt(
            p * (F.lit(1.0) - p) / n + z0 * z0 / (F.lit(4.0) * n * n)
        )
        core = p + half + sign * rad
        return core / (F.lit(1.0) + z0 * z0 / n)

    return m.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        z.alias("z"),
        wilson(ra, na, F.lit(-1.0)).alias("wilson_lo_a"),
        wilson(ra, na, F.lit(1.0)).alias("wilson_hi_a"),
        wilson(rb, nb, F.lit(-1.0)).alias("wilson_lo_b"),
        wilson(rb, nb, F.lit(1.0)).alias("wilson_hi_b"),
    )


# --- r6 inference tier: Welch t / ANOVA / Kruskal-Wallis / Kendall ----------

_WELCH_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), m AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN a = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS sa,
         CAST(SUM(CASE WHEN b = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS sb,
         CAST(SUM(CASE WHEN a = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS saa,
         CAST(SUM(CASE WHEN b = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS sbb
  FROM r
), d AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
         CAST(na * saa - sa * sa AS DOUBLE)
           / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS var_a,
         CAST(nb * sbb - sb * sb AS DOUBLE)
           / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS var_b
  FROM m
), s AS (
  SELECT *, var_a / CAST(na AS DOUBLE) AS se2a,
         var_b / CAST(nb AS DOUBLE) AS se2b
  FROM d
)
SELECT na AS n_a, nb AS n_b, mean_a, mean_b, var_a, var_b,
       (mean_a - mean_b) / sqrt(se2a + se2b) AS t_stat,
       ((se2a + se2b) * (se2a + se2b))
         / (se2a * se2a / (CAST(na AS DOUBLE) - 1.0)
            + se2b * se2b / (CAST(nb AS DOUBLE) - 1.0)) AS df
FROM s
"""


@REGISTRY.register("welch_price_priority", _WELCH_ORACLE)
def welch_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on mean o_totalprice (cents),
    1-URGENT vs 5-LOW — the parametric companion to the
    mannwhitney_price_priority rank test on the identical contrast
    (rank dominance and mean difference can disagree; pipelines
    report both). One conditional aggregate, exact DECIMAL moments,
    shared IEEE closed form (operators/disttests.py::welch_t_test).
    """
    from movie_rankings_spark.operators.disttests import welch_t_test

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
    return welch_t_test(
        orders,
        cents,
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
    )


_ANOVA_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL
), pg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s_g,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss_g
  FROM r GROUP BY g
), gq AS (
  SELECT *, CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                 / CAST(n_g AS DOUBLE) AS DECIMAL(28,0)) AS term
  FROM pg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n_total,
         CAST(SUM(s_g) AS HUGEINT) AS s_all,
         CAST(SUM(ss_g) AS HUGEINT) AS ss_all,
         CAST(SUM(term) AS DECIMAL(38,0)) AS term_sum
  FROM gq
), fin AS (
  SELECT CAST(term_sum AS DOUBLE)
           - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
             / CAST(n_total AS DOUBLE) AS ssb,
         CAST(ss_all AS DOUBLE) - CAST(term_sum AS DOUBLE) AS ssw,
         CAST(k AS DOUBLE) AS kd, CAST(n_total AS DOUBLE) AS ntd
  FROM tot
)
SELECT g AS "group", n_g AS n_group,
       CAST(s_g AS BIGINT) AS sum_cents,
       CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS mean_cents,
       CAST(ss_g AS DOUBLE) - CAST(term AS DOUBLE) AS ss_within_g,
       ssb AS ss_between, ssw AS ss_within,
       (ssb / (kd - 1.0)) / (ssw / (ntd - kd)) AS f_stat
FROM gq CROSS JOIN fin ORDER BY "group"
"""


@REGISTRY.register("anova_price_returnflag", _ANOVA_ORACLE)
def anova_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of l_extendedprice (cents) across the three
    l_returnflag groups — the k-group generalization of the Welch
    contrast: per-group means/SS plus the global F, every number a
    closed form over exact DECIMAL moments with the cross-group
    summation quantized (order-independent)
    (operators/disttests.py::anova_oneway)."""
    from movie_rankings_spark.operators.disttests import anova_oneway

    return anova_oneway(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        F.round(F.col("l_extendedprice") * F.lit(100)).cast("long"),
    )


_KRUSKAL_ORACLE = """
WITH cells AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
), vt AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY v
), r2 AS (
  SELECT v, CAST(2 * (SUM(cv) OVER (ORDER BY v) - cv) + cv + 1
              AS BIGINT) AS r2
  FROM vt
), pg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * r2.r2) AS BIGINT) AS s2
  FROM cells JOIN r2 USING (v) GROUP BY g
), t AS (
  SELECT CAST(SUM(cv) AS BIGINT) AS nt,
         CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie
  FROM vt
), hterm AS (
  SELECT g, n_g, s2, nt, tie,
         CAST(3.0 * CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
              / (CAST(n_g AS DOUBLE) * CAST(nt AS DOUBLE)
                 * (CAST(nt AS DOUBLE) + 1.0)) AS DECIMAL(28,9)) AS ht
  FROM pg CROSS JOIN t
), hs AS (
  SELECT CAST(SUM(ht) AS DECIMAL(38,9)) AS hsum FROM hterm
)
SELECT g AS "group", n_g AS n_group, s2 AS rank_sum_x2,
       CAST(s2 AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE)) AS mean_rank,
       CAST(ht AS DOUBLE) AS h_term,
       CAST(hsum AS DOUBLE) - 3.0 * (CAST(nt AS DOUBLE) + 1.0) AS h,
       (CAST(hsum AS DOUBLE) - 3.0 * (CAST(nt AS DOUBLE) + 1.0))
         / (1.0 - CAST(tie AS DOUBLE)
                  / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                     * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE)))
         AS h_corrected
FROM hterm CROSS JOIN hs ORDER BY "group"
"""


@REGISTRY.register("kruskal_doclen_source", _KRUSKAL_ORACLE)
def kruskal_doclen_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL sources' document-length
    distributions at once — the k-group rank ANOVA closing the
    inference matrix (KS screens shape pairwise, MWU ranks two
    groups, this ranks k): does ANY source's length profile sit
    systematically higher? Domain-bounded lengths, broadcast grid
    cumulatives, exact doubled midranks
    (operators/disttests.py::kruskal_wallis)."""
    from movie_rankings_spark.operators.disttests import kruskal_wallis

    return kruskal_wallis(_t(spark, sf_dir, "documents"), "source", "n_chars")


_KENDALL_ORACLE = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), cd AS (
  SELECT CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END)
              AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END)
              AS BIGINT) AS disc
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS tie2x,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS tie2y
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)
)
SELECT n AS n_rows, conc AS concordant, disc AS discordant,
       CAST(tie2x // 2 AS BIGINT) AS ties_x_pairs,
       CAST(tie2y // 2 AS BIGINT) AS ties_y_pairs,
       2.0 * (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
         / (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tie2x AS DOUBLE))
            * sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tie2y AS DOUBLE)))
         AS tau_b
FROM cd CROSS JOIN tx CROSS JOIN ty
"""


@REGISTRY.register("kendall_qty_shipdelay", _KENDALL_ORACLE)
def kendall_qty_shipdelay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b between order-line quantity and discount
    percent — do bigger lines get deeper discounts? Both columns are
    domain-bounded (1-50 × 0-10), so concordant/discordant pairs come
    from a broadcast theta self-join of the tiny cell table, never a
    fact self-join (operators/disttests.py::kendall_tau_b)."""
    from movie_rankings_spark.operators.disttests import kendall_tau_b

    li = _t(spark, sf_dir, "lineitem")
    return kendall_tau_b(
        li,
        F.col("l_quantity"),
        F.round(F.col("l_discount") * F.lit(100)),
    )


# --- r6: exact weighted quantiles (quantity-weighted price mass) ------------

_WQUANT_ORACLE = """
WITH vc AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ws
  FROM lineitem GROUP BY 1
), c AS (
  SELECT v, CAST(SUM(ws) OVER (ORDER BY v) AS BIGINT) AS cumw FROM vc
), t AS (
  SELECT CAST(SUM(ws) AS BIGINT) AS W FROM vc
), q AS (
  SELECT * FROM (VALUES (25, 100), (50, 100), (75, 100)) AS z(qn, qd)
), hit AS (
  SELECT q.qn, q.qd, c.v, c.cumw, t.W,
         ROW_NUMBER() OVER (PARTITION BY q.qn, q.qd ORDER BY c.v) AS rn
  FROM q CROSS JOIN c CROSS JOIN t
  WHERE c.cumw * q.qd >= q.qn * t.W
)
SELECT CAST(qn AS INT) AS q_num, CAST(qd AS INT) AS q_den,
       v AS value, cumw AS cum_weight, W AS total_weight
FROM hit WHERE rn = 1
ORDER BY CAST(qn AS DOUBLE) / qd
"""


@REGISTRY.register("weighted_price_quantiles", _WQUANT_ORACLE)
def weighted_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted quartiles of l_extendedprice (cents): the
    price below which 25/50/75 % of shipped UNITS sit — the
    inventory-mass view that the unweighted percentiles_lineitem_price
    misstates wherever quantity correlates with price. Exact
    left-continuous weighted quantiles by integer cross-
    multiplication, bucketed two-pass cumulative — never a global
    sort (operators/statistics.py::weighted_quantiles)."""
    from movie_rankings_spark.operators.statistics import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li,
        F.round(F.col("l_extendedprice") * F.lit(100)),
        F.col("l_quantity"),
    )


# --- r6: EWMA + Holt exponential smoothing of daily revenue -----------------

_SMOOTH_ORACLE = """
WITH RECURSIVE d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
), i AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d
), s AS (
  SELECT rn, day, rev, CAST(rev AS DOUBLE) AS ewma,
         CAST(rev AS DOUBLE) AS lvl, CAST(0.0 AS DOUBLE) AS trend
  FROM i WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.day, i.rev,
         0.3 * CAST(i.rev AS DOUBLE) + 0.7 * s.ewma,
         0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend),
         0.2 * ((0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend))
                - s.lvl)
           + 0.8 * s.trend
  FROM i JOIN s ON i.rn = s.rn + 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, rev AS revenue_cents, ewma,
       lvl AS holt_level, trend AS holt_trend,
       lvl + trend AS forecast_next
FROM s ORDER BY 1
"""


@REGISTRY.register("smooth_daily_revenue", _SMOOTH_ORACLE)
def smooth_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA + Holt linear-trend smoothing of daily order revenue
    (alpha=0.3, beta=0.2) — the forecasting layer over the series the
    ACF/CUSUM diagnostics analyze: smoothed level, trend, and the
    one-step-ahead forecast per day. The sequential recurrence runs
    as one codegen'd left fold over the date-domain-bounded daily
    array (never a global-sort window); the oracle replays the
    IDENTICAL IEEE recurrence as a recursive CTE, so every smoothed
    value hashes bit-for-bit
    (operators/timeseries.py::exp_smooth_daily)."""
    from movie_rankings_spark.operators.timeseries import exp_smooth_daily

    orders = _t(spark, sf_dir, "orders").withColumn(
        "_day", F.col("o_orderdate").cast("date")
    )
    return exp_smooth_daily(
        orders,
        "_day",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
        alpha=0.3,
        beta=0.2,
    )


_SMOOTH_GRP_ORACLE = """
WITH RECURSIVE d AS (
  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1, 2
), i AS (
  SELECT grp, day, rev,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS rn
  FROM d
), s AS (
  SELECT grp, rn, day, rev, CAST(rev AS DOUBLE) AS ewma,
         CAST(rev AS DOUBLE) AS lvl, CAST(0.0 AS DOUBLE) AS trend
  FROM i WHERE rn = 1
  UNION ALL
  SELECT i.grp, i.rn, i.day, i.rev,
         0.3 * CAST(i.rev AS DOUBLE) + 0.7 * s.ewma,
         0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend),
         0.2 * ((0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend))
                - s.lvl)
           + 0.8 * s.trend
  FROM i JOIN s ON i.grp = s.grp AND i.rn = s.rn + 1
)
SELECT grp AS o_orderpriority, strftime(day, '%Y-%m-%d') AS day,
       rev AS revenue_cents, ewma, lvl AS holt_level,
       trend AS holt_trend, lvl + trend AS forecast_next
FROM s ORDER BY 1, 2
"""


@REGISTRY.register("smooth_priority_revenue", _SMOOTH_GRP_ORACLE)
def smooth_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority EWMA + Holt smoothing of daily revenue — the
    segment-wise dashboard form of smooth_daily_revenue: one
    identical recurrence per group, folds running in parallel across
    the 5 priority segments (each fold sees only its own
    date-bounded array). Same bit-exact recursive-CTE oracle, now
    partitioned by group."""
    from movie_rankings_spark.operators.timeseries import exp_smooth_daily

    orders = _t(spark, sf_dir, "orders").withColumn(
        "_day", F.col("o_orderdate").cast("date")
    )
    return exp_smooth_daily(
        orders,
        "_day",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
        alpha=0.3,
        beta=0.2,
        group_col="o_orderpriority",
    )


_BACKTEST_ORACLE = """
WITH RECURSIVE d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
), i AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d
), s AS (
  SELECT rn, day, rev, CAST(rev AS DOUBLE) AS lvl,
         CAST(0.0 AS DOUBLE) AS trend
  FROM i WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.day, i.rev,
         0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend),
         0.2 * ((0.3 * CAST(i.rev AS DOUBLE) + 0.7 * (s.lvl + s.trend))
                - s.lvl)
           + 0.8 * s.trend
  FROM i JOIN s ON i.rn = s.rn + 1
), f AS (
  SELECT rn, day, rev, lvl + trend AS forecast_next FROM s
), e AS (
  SELECT a.rev,
         CAST(ABS(CAST(a.rev AS DOUBLE) - b.forecast_next)
              AS DECIMAL(28,6)) AS err,
         CAST(ABS(a.rev - b.rev) AS BIGINT) AS naive_err
  FROM f a JOIN f b ON a.rn = b.rn + 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(err) AS DECIMAL(38,6)) AS sum_err,
         CAST(SUM(naive_err) AS BIGINT) AS sum_naive
  FROM e
)
SELECT n_days,
       CAST(sum_err AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae,
       CAST(sum_naive AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae_naive,
       (CAST(sum_err AS DOUBLE) / CAST(n_days AS DOUBLE))
         / (CAST(sum_naive AS DOUBLE) / CAST(n_days AS DOUBLE)) AS mase
FROM m
"""


@REGISTRY.register("forecast_backtest_daily", _BACKTEST_ORACLE)
def forecast_backtest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of the Holt forecast on daily revenue:
    MAE of yesterday's forecast vs today's actual, the naive
    (persistence) MAE, and MASE = mae/mae_naive — the scale-free
    forecast-accuracy readout (MASE < 1 beats the naive forecast).
    Errors are quantized to DECIMAL(28,6) before the cross-day sum so
    the aggregate is exact and order-independent (the psi convention);
    the LAG window runs over the date-domain-bounded daily series
    (the changepoint_daily_revenue audit exception)."""
    from pyspark.sql import Window

    from movie_rankings_spark.operators.timeseries import exp_smooth_daily

    orders = _t(spark, sf_dir, "orders").withColumn(
        "_day", F.col("o_orderdate").cast("date")
    )
    sm = exp_smooth_daily(
        orders,
        "_day",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
        alpha=0.3,
        beta=0.2,
    )
    w = Window.orderBy("day")
    lagged = sm.select(
        "day",
        "revenue_cents",
        F.lag("forecast_next").over(w).alias("_pf"),
        F.lag("revenue_cents").over(w).alias("_pr"),
    ).filter(F.col("_pf").isNotNull())
    err = F.abs(
        F.col("revenue_cents").cast("double") - F.col("_pf")
    ).cast("decimal(28,6)")
    naive = F.abs(F.col("revenue_cents") - F.col("_pr")).cast("long")
    m = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(err).cast("decimal(38,6)").alias("sum_err"),
        F.sum(naive).cast("long").alias("sum_naive"),
    )
    mae = F.col("sum_err").cast("double") / F.col("n_days").cast("double")
    mae_naive = (
        F.col("sum_naive").cast("double") / F.col("n_days").cast("double")
    )
    return m.select(
        "n_days",
        mae.alias("mae"),
        mae_naive.alias("mae_naive"),
        (mae / mae_naive).alias("mase"),
    )


# --- r6: Kaplan-Meier customer churn survival curve -------------------------

_KM_ORACLE = """
WITH RECURSIVE per AS (
  SELECT o_custkey, CAST(MIN(o_orderdate) AS DATE) AS f,
         CAST(MAX(o_orderdate) AS DATE) AS l
  FROM orders GROUP BY 1
), mx AS (
  SELECT MAX(l) AS m FROM per
), subj AS (
  SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
         CASE WHEN datediff('day', l, mx.m) > 90 THEN 1 ELSE 0 END AS e
  FROM per CROSS JOIN mx
), steps AS (
  SELECT t, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(1 - e) AS BIGINT) AS c
  FROM subj GROUP BY 1
), i AS (
  SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM steps
), tot AS (
  SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM steps
), s AS (
  SELECT 0 AS rn, CAST(NULL AS BIGINT) AS t, CAST(0 AS BIGINT) AS d,
         CAST(0 AS BIGINT) AS c, tot.n AS rem,
         CAST(1.0 AS DOUBLE) AS surv, CAST(NULL AS BIGINT) AS at_risk
  FROM tot
  UNION ALL
  SELECT i.rn, i.t, i.d, i.c, s.rem - i.d - i.c,
         CASE WHEN i.d > 0
              THEN s.surv * (CAST(s.rem - i.d AS DOUBLE)
                             / CAST(s.rem AS DOUBLE))
              ELSE s.surv END,
         s.rem
  FROM i JOIN s ON i.rn = s.rn + 1
)
SELECT t AS duration, at_risk AS n_at_risk, d AS n_events,
       c AS n_censored, surv AS survival
FROM s WHERE rn >= 1 AND d > 0 ORDER BY duration
"""


@REGISTRY.register("survival_customer_km", _KM_ORACLE)
def survival_customer_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curve over customer order histories:
    duration = days from a customer's first to last order, an event
    (churn) when the last order predates the dataset horizon by more
    than 90 days, right-censored otherwise (still active at the
    horizon) - the survival view of retention that cohort_retention
    _daily's fixed grid cannot express under censoring. The fact
    aggregates ONCE into the persisted per-customer (first, last)
    table; the horizon scalar and the risk table both read that
    |customers|-row cache (plan-lint-allowlisted cache-text shape),
    and the product-limit recurrence folds over the duration-domain-
    bounded risk array (operators/survival.py::kaplan_meier) -
    bit-exact vs the oracle's recursive-CTE replay."""
    from movie_rankings_spark.operators.survival import kaplan_meier

    per = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("f"),
            F.max(F.col("o_orderdate").cast("date")).alias("l"),
        )
        .persist_tracked()
    )
    horizon = per.agg(F.max("l").alias("m"))
    subj = per.crossJoin(F.broadcast(horizon)).select(
        F.datediff("l", "f").cast("long").alias("duration"),
        (F.datediff("m", "l") > 90).cast("int").alias("event"),
    )
    return kaplan_meier(subj)


# --- r6: approximate randomization test (urgent-vs-low mean price) ----------

_RANDTEST_ORACLE = """
WITH r AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), e AS (
  SELECT s.s AS seed, r.v,
         CASE WHEN s.s = 0 THEN r.g
              ELSE ascii(substr(
                     CASE WHEN s.s <= 32 THEN md5(r.k || ':1')
                          ELSE md5(r.k || ':2') END,
                     ((s.s - 1) % 32) + 1, 1)) % 2
         END AS g2
  FROM r CROSS JOIN (SELECT unnest(range(0, 65)) AS s) s
), agg AS (
  SELECT seed,
         CAST(SUM(CASE WHEN g2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         SUM(CASE WHEN g2 = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
         CAST(SUM(CASE WHEN g2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         SUM(CASE WHEN g2 = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb
  FROM e GROUP BY 1
), t AS (
  SELECT seed, na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS tstat
  FROM agg
), o AS (SELECT * FROM t WHERE seed = 0)
SELECT o.na AS n_a, o.nb AS n_b, o.ma AS mean_a, o.mb AS mean_b,
       o.tstat AS t_obs, CAST(64 AS BIGINT) AS n_perm,
       CAST(SUM(CASE WHEN abs(t.tstat) >= abs(o.tstat) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       (1.0 + CAST(SUM(CASE WHEN abs(t.tstat) >= abs(o.tstat)
                            THEN 1 ELSE 0 END) AS DOUBLE)) / 65.0
         AS p_value
FROM t CROSS JOIN o WHERE t.seed > 0
GROUP BY 1, 2, 3, 4, 5, 6
"""


@REGISTRY.register("randtest_price_priority", _RANDTEST_ORACLE)
def randtest_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate randomization test on mean o_totalprice (cents),
    1-URGENT vs 5-LOW — the simulation-based third leg of the
    inference tier's identical contrast (welch_price_priority's
    parametric t, mannwhitney_price_priority's rank test): 64
    hash-seeded relabelings of the same rows, p-value = share of
    relabelings at least as extreme as the observed mean gap
    (operators/disttests.py::randomization_test — one exploded fact
    scan, bounded-replicate shuffle, bit-exact replicates)."""
    from movie_rankings_spark.operators.disttests import randomization_test

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    return randomization_test(
        orders,
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
        n_perm=64,
    )


# --- r6: leave-one-out target encoding of customer segment ------------------

_TENC_ORACLE = """
WITH b AS (
  SELECT c_custkey AS key, c_mktsegment AS cat,
         CAST(round(c_acctbal * 100) AS BIGINT) AS y
  FROM customer WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
), pc AS (
  SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s_cat
  FROM b GROUP BY 1
), g AS (
  SELECT CAST(SUM(n_cat) AS BIGINT) AS n_all,
         CAST(SUM(s_cat) AS HUGEINT) AS s_all
  FROM pc
)
SELECT b.key, b.cat AS category, b.y AS target_cents,
       pc.n_cat AS n_category,
       CASE WHEN pc.n_cat > 1
            THEN CAST(pc.s_cat - b.y AS DOUBLE)
                 / CAST(pc.n_cat - 1 AS DOUBLE)
       END AS loo_mean_cents,
       (CAST(pc.s_cat - b.y AS DOUBLE)
          + 10.0 * (CAST(g.s_all AS DOUBLE) / CAST(g.n_all AS DOUBLE)))
         / (CAST(pc.n_cat - 1 AS DOUBLE) + 10.0) AS loo_smoothed_cents
FROM b JOIN pc USING (cat) CROSS JOIN g
ORDER BY b.key
"""


@REGISTRY.register("target_encode_segment_loo", _TENC_ORACLE)
def target_encode_segment_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of c_mktsegment against account
    balance (cents): every customer's segment encoded as the mean
    balance of the OTHER customers in the segment, plus the
    m=10-smoothed shrinkage toward the global mean — the leakage-safe
    categorical feature a model trains on where a naive
    category-mean would memorize each row's own label
    (operators/encoding.py::target_encode_loo — per-category exact
    DECIMAL sums broadcast back over one column-pruned re-scan)."""
    from movie_rankings_spark.operators.encoding import target_encode_loo

    c = _t(spark, sf_dir, "customer")
    return target_encode_loo(
        c,
        F.col("c_custkey"),
        F.col("c_mktsegment"),
        F.round(F.col("c_acctbal") * F.lit(100)).cast("long"),
        smoothing=10.0,
    )


# --- r6: sequential pattern mining over user-day event sequences ------------

_SEQMINE_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type AS t,
         epoch_us(ts) AS m
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
), pt AS (
  SELECT user_id, day, t, MIN(m) AS mn, MAX(m) AS mx
  FROM ev GROUP BY 1, 2, 3
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total_sequences
  FROM (SELECT DISTINCT user_id, day FROM pt)
), ac AS (
  SELECT p1.user_id, p1.day, p1.t AS a, p1.mn, p3.t AS c, p3.mx
  FROM pt p1 JOIN pt p3 ON p1.user_id = p3.user_id AND p1.day = p3.day
), tr AS (
  SELECT DISTINCT e.user_id, e.day, ac.a, e.t AS b, ac.c
  FROM ev e JOIN ac ON e.user_id = ac.user_id AND e.day = ac.day
  WHERE e.m > ac.mn AND e.m < ac.mx
), sup AS (
  SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_sequences
  FROM tr GROUP BY 1, 2, 3
)
SELECT a, b, c, n_sequences, tot.n_total_sequences,
       CAST(n_sequences AS DOUBLE) / CAST(tot.n_total_sequences AS DOUBLE)
         AS support
FROM sup CROSS JOIN tot
ORDER BY n_sequences DESC, a, b, c
"""


@REGISTRY.register("seqmine_event_triples", _SEQMINE_ORACLE)
def seqmine_event_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern discovery over user-day event sequences:
    the support of EVERY ordered event-type triple (view -> click ->
    purchase and its 124 rivals) — the funnel-DISCOVERY companion to
    the fixed funnel_* queries and the first-order transition matrix
    (which cannot see order beyond adjacent pairs). Existence per
    sequence is decided by the min/max interval test — never an
    event-triple enumeration
    (operators/seqmine.py::sequence_triple_support)."""
    from movie_rankings_spark.operators.seqmine import (
        sequence_triple_support,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    return sequence_triple_support(
        ev, ["user_id", "day"], "event_type", "ts"
    )


# --- r6: functional-dependency discovery over orders ------------------------

_FD_PAIR_SQL = """
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_violating_rows,
       CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_group,
       SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
FROM (
  SELECT CAST({lexpr} AS VARCHAR) AS lv,
         CAST(COUNT(DISTINCT CAST({rexpr} AS VARCHAR)) AS BIGINT) AS n_rhs,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders
  WHERE {lexpr} IS NOT NULL AND {rexpr} IS NOT NULL
  GROUP BY 1
)
"""

# o_orderdate is stored as a timestamp; the engine profiles it AS A
# DATE, so the oracle must group by the same day granularity (raw
# timestamps only coincide while the generator emits midnights)
_FD_EXPR = {"o_orderdate": "CAST(o_orderdate AS DATE)"}

_FD_PAIRS = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderdate", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
]

_FD_ORACLE = (
    "\nUNION ALL\n".join(
        _FD_PAIR_SQL.format(
            lhs=l,
            rhs=r,
            lexpr=_FD_EXPR.get(l, l),
            rexpr=_FD_EXPR.get(r, r),
        )
        for l, r in _FD_PAIRS
    )
    + "\nORDER BY lhs, rhs"
)


@REGISTRY.register("fd_discovery_orders", _FD_ORACLE)
def fd_discovery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise functional-dependency discovery over orders: does
    o_orderkey determine o_custkey (a key FD that must hold), does a
    customer always order at one priority (it does not), is status
    determined by date/priority — the dependency-profiling readout a
    schema-inference or data-quality engine produces, computed for
    all six candidate pairs in ONE stacked fact scan
    (operators/fdprofile.py::fd_violations; the oracle runs the
    textbook per-pair GROUP BY form)."""
    from movie_rankings_spark.operators.fdprofile import fd_violations

    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return fd_violations(o, _FD_PAIRS)


# --- r6: split-conformal prediction intervals (priority-median model) -------

_CONFORMAL_ORACLE = """
WITH b AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), s AS (
  SELECT g, y,
         CASE WHEN h <= '7' THEN 'train'
              WHEN h <= 'b' THEN 'calib'
              ELSE 'test' END AS sp
  FROM b
), ranked_tr AS (
  SELECT g, y, ROW_NUMBER() OVER (PARTITION BY g ORDER BY y) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n_train
  FROM s WHERE sp = 'train'
), med AS (
  SELECT g, CAST(n_train AS BIGINT) AS n_train, y AS pred_cents
  FROM ranked_tr WHERE rn = (n_train + 1) // 2
), ca AS (
  SELECT abs(s.y - med.pred_cents) AS sc
  FROM s JOIN med USING (g) WHERE s.sp = 'calib'
), kq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_calib,
         CAST((9 * (COUNT(*) + 1) + 9) // 10 AS BIGINT) AS conf_k
  FROM ca
), ranked_ca AS (
  SELECT sc, ROW_NUMBER() OVER (ORDER BY sc) AS rn FROM ca
), qh AS (
  SELECT kq.n_calib, kq.conf_k, ranked_ca.sc AS q_hat
  FROM ranked_ca JOIN kq ON ranked_ca.rn = kq.conf_k
)
SELECT med.g AS "group", med.n_train, med.pred_cents,
       qh.n_calib, qh.conf_k, qh.q_hat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN abs(s.y - med.pred_cents) <= qh.q_hat
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN abs(s.y - med.pred_cents) <= qh.q_hat
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS coverage
FROM s JOIN med USING (g) CROSS JOIN qh
WHERE s.sp = 'test'
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY 1
"""


@REGISTRY.register("conformal_interval_price", _CONFORMAL_ORACLE)
def conformal_interval_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around a per-priority
    median price predictor, with the held-out coverage audit: train /
    calibrate / test by hash split, q-hat = the finite-sample
    conformal quantile of calibration |error|s (alpha = 0.1), and the
    per-group share of test rows inside [pred +/- q_hat] — the
    distribution-free error bar the classifier/regression tier lacks
    (operators/conformal.py::split_conformal_group_median)."""
    from movie_rankings_spark.operators.conformal import (
        split_conformal_group_median,
    )

    o = _t(spark, sf_dir, "orders")
    return split_conformal_group_median(
        o,
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
        alpha_num=1,
        alpha_den=10,
    )


# --- r6: isotonic calibration of F-status rate over price bins --------------

_ISOTONIC_ORACLE = """
WITH cells AS (
  SELECT LEAST(19, CAST(FLOOR(o_totalprice / 25000) AS INT)) AS b,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM orders WHERE o_totalprice IS NOT NULL
  GROUP BY 1
), pre AS (
  SELECT l.b, CAST(SUM(r.n) AS BIGINT) AS cn,
         CAST(SUM(r.s) AS BIGINT) AS cs
  FROM cells l JOIN cells r ON r.b <= l.b GROUP BY 1
), pre0 AS (
  SELECT b AS jm1, cn AS nj, cs AS sj FROM pre
  UNION ALL SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
), segs AS (
  SELECT p0.jm1 + 1 AS j, p.b AS k,
         CAST(p.cs - p0.sj AS DOUBLE) / CAST(p.cn - p0.nj AS DOUBLE)
           AS avg_jk
  FROM pre p JOIN pre0 p0 ON p0.jm1 < p.b
), inner_min AS (
  SELECT c.b AS i, s.j, MIN(s.avg_jk) AS mn
  FROM cells c JOIN segs s ON s.j <= c.b AND s.k >= c.b
  GROUP BY 1, 2
), fit AS (
  SELECT i, MAX(mn) AS isotonic_y FROM inner_min GROUP BY 1
)
SELECT c.b AS bin, c.n AS n_rows, c.s AS sum_y,
       CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) AS mean_y,
       f.isotonic_y
FROM cells c JOIN fit f ON f.i = c.b ORDER BY 1
"""


@REGISTRY.register("isotonic_price_status", _ISOTONIC_ORACLE)
def isotonic_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the
    F-status rate over 20 fixed price bins: the actual monotone FIT
    the calibration-bins readout stops short of — computed via the
    Robertson-Wright minimax closed form over the bounded bin grid,
    so the classically-sequential PAVA needs no iteration and no
    driver loop (operators/isotonic.py::isotonic_fit_binned)."""
    from movie_rankings_spark.operators.isotonic import isotonic_fit_binned

    o = _t(spark, sf_dir, "orders")
    return isotonic_fit_binned(
        o.filter(F.col("o_totalprice").isNotNull()),
        F.least(
            F.lit(19),
            F.floor(F.col("o_totalprice") / F.lit(25000)).cast("int"),
        ),
        (F.col("o_orderstatus") == "F").cast("long"),
        n_bins=20,
    )


# --- r6: difference-in-differences (signup treatment, purchase revenue) -----

_DID_ORACLE = """
WITH pan AS (
  SELECT user_id,
         CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END AS post,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT CAST(user_id % 2 AS INT) AS g, pan.post AS pp, pan.y FROM pan
), m AS (
  SELECT
    SUM(CASE WHEN g=0 AND pp=0 THEN 1 ELSE 0 END)::HUGEINT AS n_c_pre,
    SUM(CASE WHEN g=0 AND pp=0 THEN y::HUGEINT ELSE 0 END) AS s_c_pre,
    SUM(CASE WHEN g=0 AND pp=0 THEN y::HUGEINT * y ELSE 0 END) AS ss_c_pre,
    SUM(CASE WHEN g=0 AND pp=1 THEN 1 ELSE 0 END)::HUGEINT AS n_c_post,
    SUM(CASE WHEN g=0 AND pp=1 THEN y::HUGEINT ELSE 0 END) AS s_c_post,
    SUM(CASE WHEN g=0 AND pp=1 THEN y::HUGEINT * y ELSE 0 END) AS ss_c_post,
    SUM(CASE WHEN g=1 AND pp=0 THEN 1 ELSE 0 END)::HUGEINT AS n_t_pre,
    SUM(CASE WHEN g=1 AND pp=0 THEN y::HUGEINT ELSE 0 END) AS s_t_pre,
    SUM(CASE WHEN g=1 AND pp=0 THEN y::HUGEINT * y ELSE 0 END) AS ss_t_pre,
    SUM(CASE WHEN g=1 AND pp=1 THEN 1 ELSE 0 END)::HUGEINT AS n_t_post,
    SUM(CASE WHEN g=1 AND pp=1 THEN y::HUGEINT ELSE 0 END) AS s_t_post,
    SUM(CASE WHEN g=1 AND pp=1 THEN y::HUGEINT * y ELSE 0 END) AS ss_t_post
  FROM p
), d AS (
  SELECT
    CAST(n_c_pre AS BIGINT) AS n_c_pre,
    CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) AS mean_c_pre,
    CAST(n_c_pre * ss_c_pre - s_c_pre * s_c_pre AS DOUBLE)
      / (CAST(n_c_pre AS DOUBLE) * (CAST(n_c_pre AS DOUBLE) - 1.0)
         * CAST(n_c_pre AS DOUBLE)) AS se2_c_pre,
    CAST(n_c_post AS BIGINT) AS n_c_post,
    CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) AS mean_c_post,
    CAST(n_c_post * ss_c_post - s_c_post * s_c_post AS DOUBLE)
      / (CAST(n_c_post AS DOUBLE) * (CAST(n_c_post AS DOUBLE) - 1.0)
         * CAST(n_c_post AS DOUBLE)) AS se2_c_post,
    CAST(n_t_pre AS BIGINT) AS n_t_pre,
    CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) AS mean_t_pre,
    CAST(n_t_pre * ss_t_pre - s_t_pre * s_t_pre AS DOUBLE)
      / (CAST(n_t_pre AS DOUBLE) * (CAST(n_t_pre AS DOUBLE) - 1.0)
         * CAST(n_t_pre AS DOUBLE)) AS se2_t_pre,
    CAST(n_t_post AS BIGINT) AS n_t_post,
    CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) AS mean_t_post,
    CAST(n_t_post * ss_t_post - s_t_post * s_t_post AS DOUBLE)
      / (CAST(n_t_post AS DOUBLE) * (CAST(n_t_post AS DOUBLE) - 1.0)
         * CAST(n_t_post AS DOUBLE)) AS se2_t_post
  FROM m
)
SELECT n_c_pre, mean_c_pre, n_c_post, mean_c_post,
       n_t_pre, mean_t_pre, n_t_post, mean_t_post,
       (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did,
       sqrt(((se2_c_pre + se2_c_post) + se2_t_pre) + se2_t_post) AS se,
       ((mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre))
         / sqrt(((se2_c_pre + se2_c_post) + se2_t_pre) + se2_t_post) AS z
FROM d
"""


@REGISTRY.register("did_parity_revenue", _DID_ORACLE)
def did_parity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the user-period purchase panel:
    outcome = per-user-period purchase cents, post = the back half of
    the event window, treatment = user-id parity — a deterministic
    A/A (placebo) assignment, the standard mechanics check run before
    pointing the estimator at a real rollout (DiD is expected ~ 0;
    a significant z here would flag a broken panel). The
    observational companion to the randomized
    abtest_conversion_events readout; panel built in ONE fact scan
    (operators/causal.py::diff_in_diff)."""
    from movie_rankings_spark.operators.causal import diff_in_diff

    ev = _t(spark, sf_dir, "events")
    pan = ev.groupBy(
        "user_id",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .cast("int")
        .alias("post"),
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * F.lit(100)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
    )
    panel = pan.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("treated"),
        "post",
        "y",
    )
    return diff_in_diff(panel)


# --- r6: CUPED variance-reduced A/A contrast on the purchase panel ---------

_CUPED_ORACLE = """
WITH pan AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y,
         CAST(user_id % 2 AS INT) AS t
  FROM events GROUP BY user_id
), m AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
         SUM(x::HUGEINT * x) AS sxx, SUM(y::HUGEINT * y) AS syy,
         SUM(x::HUGEINT * y) AS sxy,
         SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::HUGEINT AS n0,
         SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::HUGEINT AS n1,
         SUM(CASE WHEN t = 0 THEN x::HUGEINT ELSE 0 END) AS sx0,
         SUM(CASE WHEN t = 1 THEN x::HUGEINT ELSE 0 END) AS sx1,
         SUM(CASE WHEN t = 0 THEN y::HUGEINT ELSE 0 END) AS sy0,
         SUM(CASE WHEN t = 1 THEN y::HUGEINT ELSE 0 END) AS sy1
  FROM pan
), d AS (
  SELECT CAST(n0 AS BIGINT) AS n_c, CAST(n1 AS BIGINT) AS n_t,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
         CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
         CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
         CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_y_c,
         CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_y_t,
         CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_x_c,
         CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_x_t
  FROM m
)
SELECT n_c, n_t, mean_y_c, mean_y_t,
       mean_y_t - mean_y_c AS delta_raw,
       cxy / cxx AS theta,
       (mean_y_t - mean_y_c)
         - (cxy / cxx) * (mean_x_t - mean_x_c) AS delta_cuped,
       (cxy * cxy) / (cxx * cyy) AS rho2
FROM d
"""


@REGISTRY.register("cuped_purchase_uplift", _CUPED_ORACLE)
def cuped_purchase_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced contrast on the per-user purchase
    panel: X = pre-period purchase cents (first event-window half),
    Y = post-period cents, arms by user-id parity — the same A/A
    placebo as did_parity_revenue, read through the pre-period-
    covariate adjustment every experimentation platform applies
    (θ from pooled cov/var, ρ² = variance explained). Panel built in
    ONE fact scan (operators/causal.py::cuped_contrast)."""
    from movie_rankings_spark.operators.causal import cuped_contrast

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * F.lit(100)).cast("long")
    purch = F.col("event_type") == "purchase"
    pan = ev.groupBy("user_id").agg(
        F.sum(F.when(purch & (F.col("ts") < cut), cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(F.when(purch & (F.col("ts") >= cut), cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("y"),
    )
    panel = pan.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("t"),
        "x",
        "y",
    )
    return cuped_contrast(panel, "t", "x", "y")


# --- r6: Mantel-Haenszel stratified odds ratio (segment strata) -------------

_MH_ORACLE = """
WITH r AS (
  SELECT c.c_mktsegment AS s,
         CASE WHEN o.o_totalprice >= 150000 THEN 1 ELSE 0 END AS e,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS oc
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IS NOT NULL AND o.o_totalprice IS NOT NULL
), cells AS (
  SELECT s,
    CAST(SUM(CASE WHEN e = 1 AND oc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN e = 1 AND oc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN e = 0 AND oc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN e = 0 AND oc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM r GROUP BY s
), terms AS (
  SELECT a, a + b + c + d AS _n,
    COALESCE(CAST(CAST(a * d AS DOUBLE)
      / CAST(a + b + c + d AS DOUBLE) AS DECIMAL(28,6)), 0) AS t_ad,
    COALESCE(CAST(CAST(b * c AS DOUBLE)
      / CAST(a + b + c + d AS DOUBLE) AS DECIMAL(28,6)), 0) AS t_bc,
    COALESCE(CAST(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
      / CAST(a + b + c + d AS DOUBLE) AS DECIMAL(28,6)), 0) AS t_e,
    COALESCE(CAST(
      ((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
        * CAST(a + c AS DOUBLE)) * CAST(b + d AS DOUBLE)
      / ((CAST(a + b + c + d AS DOUBLE) * CAST(a + b + c + d AS DOUBLE))
         * (CAST(a + b + c + d AS DOUBLE) - 1.0)) AS DECIMAL(28,6)),
      0) AS t_v
  FROM cells
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
         CAST(SUM(_n) AS BIGINT) AS n_total,
         CAST(SUM(a) AS BIGINT) AS sum_a,
         CAST(SUM(t_ad) AS DECIMAL(38,6)) AS _sad,
         CAST(SUM(t_bc) AS DECIMAL(38,6)) AS _sbc,
         CAST(SUM(t_e) AS DECIMAL(38,6)) AS _se,
         CAST(SUM(t_v) AS DECIMAL(38,6)) AS _sv
  FROM terms
)
SELECT k_strata, n_total, sum_a,
       CAST(_se AS DOUBLE) AS sum_e,
       CAST(_sv AS DOUBLE) AS sum_v,
       CAST(_sad AS DOUBLE) / CAST(_sbc AS DOUBLE) AS or_mh,
       (CAST(sum_a AS DOUBLE) - CAST(_se AS DOUBLE))
         * (CAST(sum_a AS DOUBLE) - CAST(_se AS DOUBLE))
         / CAST(_sv AS DOUBLE) AS cmh_stat
FROM tot
"""


@REGISTRY.register("mh_segment_price_status", _MH_ORACLE)
def mh_segment_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio + CMH statistic for
    high-price exposure (o_totalprice >= 150k) vs F-status outcome,
    stratified by the customer's market segment — the
    confounder-adjusted association the crude chi2_lang_source-style
    2x2 cannot give. Broadcast-joins the customer dim for strata;
    ONE conditional fact aggregate to the 5 per-stratum 2x2 tables
    (operators/causal.py::mantel_haenszel)."""
    from movie_rankings_spark.operators.causal import mantel_haenszel

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.filter(F.col("o_totalprice").isNotNull()).join(
        F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")
    )
    return mantel_haenszel(
        j,
        F.col("c_mktsegment"),
        (F.col("o_totalprice") >= 150000).cast("int"),
        (F.col("o_orderstatus") == "F").cast("int"),
    )


# --- r6: Cochran-Armitage trend test over the isotonic price bins -----------

_CA_ORACLE = """
WITH r AS (
  SELECT LEAST(19, CAST(FLOOR(o_totalprice / 25000) AS BIGINT)) AS b,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
  FROM orders WHERE o_totalprice IS NOT NULL
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(e) AS BIGINT) AS rr,
         CAST(SUM(b) AS BIGINT) AS sn,
         CAST(SUM(b * e) AS BIGINT) AS sr,
         CAST(SUM(b * b) AS BIGINT) AS ssn
  FROM r
)
SELECT n AS n_total, rr AS n_events,
  CAST(sr AS DOUBLE)
    - (CAST(rr AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sn AS DOUBLE)
    AS t_stat,
  (CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
    * (1.0 - CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(ssn AS DOUBLE)
       - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))
    AS var_t,
  (CAST(sr AS DOUBLE)
    - (CAST(rr AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sn AS DOUBLE))
  / sqrt((CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
    * (1.0 - CAST(rr AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(ssn AS DOUBLE)
       - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)))
    AS z
FROM m
"""


@REGISTRY.register("trend_fstatus_price_ca", _CA_ORACLE)
def trend_fstatus_price_ca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test for the F-status rate across the
    SAME 20 price bins isotonic_price_status fits: the isotonic query
    estimates the monotone curve, this one scores the evidence any
    trend exists (integer bin scores, one conditional aggregate to
    five exact moments; operators/disttests.py::cochran_armitage)."""
    from movie_rankings_spark.operators.disttests import cochran_armitage

    o = _t(spark, sf_dir, "orders")
    return cochran_armitage(
        o.filter(F.col("o_totalprice").isNotNull()),
        F.least(
            F.lit(19),
            F.floor(F.col("o_totalprice") / F.lit(25000)).cast("int"),
        ),
        (F.col("o_orderstatus") == "F").cast("int"),
        n_bins=20,
    )


# --- r6: Jarque-Bera normality screen per return flag -----------------------

_JB_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
), m AS (
  SELECT g, COUNT(*)::HUGEINT AS n,
         SUM(v::HUGEINT) AS s1,
         SUM(v::HUGEINT * v) AS s2,
         SUM(v::HUGEINT * v * v) AS s3,
         SUM((v::HUGEINT * v) * (v::HUGEINT * v)) AS s4
  FROM r GROUP BY g
), c AS (
  SELECT g, n,
    CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2,
    CAST(n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS DOUBLE)
      AS m3,
    CAST(n * n * n * s4 - 4 * n * n * s3 * s1
         + 6 * n * s2 * s1 * s1
         - 3 * s1 * s1 * s1 * s1 AS DOUBLE) AS m4,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean
  FROM m
), f AS (
  SELECT g, CAST(n AS BIGINT) AS n_rows, mean,
         m3 / (m2 * sqrt(m2)) AS skewness,
         m4 / (m2 * m2) AS kurtosis,
         CAST(n AS DOUBLE) AS nd
  FROM c
)
SELECT g AS "group", n_rows, mean, skewness, kurtosis,
       nd / 6.0 * (skewness * skewness
                   + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0)
         AS jb_stat
FROM f ORDER BY "group"
"""


@REGISTRY.register("jb_quantity_returnflag", _JB_ORACLE)
def jb_quantity_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen of l_quantity per return flag —
    exact skewness/kurtosis from one conditional aggregate of raw
    DECIMAL moments (the n-scaled central-moment polynomials cancel
    the means, so no centering pass); the SHAPE diagnostic beside the
    location (ANOVA) and dispersion (Brown-Forsythe) tests
    (operators/disttests.py::jarque_bera)."""
    from movie_rankings_spark.operators.disttests import jarque_bera

    li = _t(spark, sf_dir, "lineitem", fanout=True)
    return jarque_bera(
        li.filter(F.col("l_quantity").isNotNull()),
        "l_returnflag",
        F.col("l_quantity"),
    )


# --- r6: Brown-Forsythe variance homogeneity across order priorities --------

_BF_ORACLE = """
WITH r AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), ranked AS (
  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n_g
  FROM r
), med AS (
  SELECT g, v AS med FROM ranked WHERE rn = (n_g + 1) // 2
), dev AS (
  SELECT r.g, abs(r.v - med.med) AS v FROM r JOIN med USING (g)
), pg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s_g,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss_g
  FROM dev GROUP BY g
), gq AS (
  SELECT *, CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                 / CAST(n_g AS DOUBLE) AS DECIMAL(28,0)) AS term
  FROM pg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n_total,
         CAST(SUM(s_g) AS HUGEINT) AS s_all,
         CAST(SUM(ss_g) AS HUGEINT) AS ss_all,
         CAST(SUM(term) AS DECIMAL(38,0)) AS term_sum
  FROM gq
), fin AS (
  SELECT CAST(term_sum AS DOUBLE)
           - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
             / CAST(n_total AS DOUBLE) AS ssb,
         CAST(ss_all AS DOUBLE) - CAST(term_sum AS DOUBLE) AS ssw,
         CAST(k AS DOUBLE) AS kd, CAST(n_total AS DOUBLE) AS ntd
  FROM tot
)
SELECT g AS "group", n_g AS n_group,
       CAST(s_g AS BIGINT) AS sum_cents,
       CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS mean_cents,
       CAST(ss_g AS DOUBLE) - CAST(term AS DOUBLE) AS ss_within_g,
       ssb AS ss_between, ssw AS ss_within,
       (ssb / (kd - 1.0)) / (ssw / (ntd - kd)) AS f_stat
FROM gq CROSS JOIN fin ORDER BY "group"
"""


@REGISTRY.register("brown_forsythe_price_priority", _BF_ORACLE)
def brown_forsythe_price_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test of order price cents
    across the five order priorities: one-way ANOVA on absolute
    deviations from each group's lower median — the robust guard for
    anova_price_returnflag's equal-variance assumption. Two
    column-pruned fact scans by design (median pass over the value
    cells, then the deviation aggregate;
    operators/disttests.py::brown_forsythe)."""
    from movie_rankings_spark.operators.disttests import brown_forsythe

    o = _t(spark, sf_dir, "orders")
    return brown_forsythe(
        o.filter(F.col("o_totalprice").isNotNull()),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
    )


# --- r6: Shapley-value channel attribution over user-day journeys -----------

_SHAPLEY_ORACLE = """
WITH j AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
    + 2 * MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
    + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
    + 8 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS cn FROM j WHERE cv = 1 GROUP BY 1
), subsets AS (
  SELECT CAST(r.range AS INT) AS s FROM range(0, 16) r
), vs AS (
  SELECT s, CAST(COALESCE(SUM(CASE WHEN (cells.m & subsets.s) = cells.m
                                   THEN cn END), 0) AS BIGINT) AS v
  FROM subsets LEFT JOIN cells ON (cells.m & subsets.s) = cells.m
  GROUP BY s
), tot AS (
  SELECT CAST(MAX(CASE WHEN s = 15 THEN v END)
              - MAX(CASE WHEN s = 0 THEN v END) AS BIGINT)
           AS conversions_total
  FROM vs
), ch AS (
  SELECT * FROM (VALUES (0, 'click'), (1, 'error'),
                        (2, 'signup'), (3, 'view')) AS t(c, channel)
), marg AS (
  SELECT ch.c, ch.channel,
    CAST(SUM(
      (CASE ((vs.s >> 0) & 1) + ((vs.s >> 1) & 1)
            + ((vs.s >> 2) & 1) + ((vs.s >> 3) & 1)
         WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
      * (v2.v - vs.v)) AS BIGINT) AS phi_num
  FROM ch
  JOIN vs ON (vs.s & (1 << ch.c)) = 0
  JOIN vs v2 ON v2.s = (vs.s | (1 << ch.c))
  GROUP BY 1, 2
)
SELECT channel, phi_num,
       CAST(phi_num AS DOUBLE) / 24.0 AS phi,
       conversions_total
FROM marg CROSS JOIN tot ORDER BY channel
"""


@REGISTRY.register("attribution_shapley_channels", _SHAPLEY_ORACLE)
def attribution_shapley_channels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapley-value conversion attribution across the four
    non-purchase channels over user-day journeys: v(S) = conversions
    from journeys touching only channels in S; phi_c the exact
    Shapley share (weights pre-scaled by 4! so every numerator is an
    exact long). The game-theoretic upgrade of last-touch /
    position-based attribution on the same fact; ONE journey groupBy
    then bounded 16x16 grid algebra
    (operators/attribution.py::shapley_attribution)."""
    from movie_rankings_spark.operators.attribution import (
        shapley_attribution,
    )

    ev = _t(spark, sf_dir, "events")

    def touched(t):
        return F.max(
            F.when(F.col("event_type") == t, 1).otherwise(0)
        ).cast("int")

    j = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        (
            touched("click")
            + touched("error") * 2
            + touched("signup") * 4
            + touched("view") * 8
        ).alias("m"),
        touched("purchase").alias("cv"),
    )
    return shapley_attribution(
        j,
        F.col("m"),
        F.col("cv"),
        ["click", "error", "signup", "view"],
    )


# --- r6: information-gain feature sweep over orders -------------------------

_INFOGAIN_ORACLE = """
WITH stacked AS (
  SELECT 'month' AS f, CAST(MONTH(o_orderdate) AS VARCHAR) AS fv,
         o_orderstatus AS t
  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
  UNION ALL
  SELECT 'price_bin',
         CAST(LEAST(19, CAST(FLOOR(o_totalprice / 25000) AS BIGINT))
              AS VARCHAR),
         o_orderstatus
  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
  UNION ALL
  SELECT 'priority', o_orderpriority, o_orderstatus
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  UNION ALL
  SELECT 'year', CAST(YEAR(o_orderdate) AS VARCHAR), o_orderstatus
  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL
), cells AS (
  SELECT f, fv, t, CAST(COUNT(*) AS BIGINT) AS o
  FROM stacked GROUP BY 1, 2, 3
), rt AS (
  SELECT f, fv, CAST(SUM(o) AS BIGINT) AS rn FROM cells GROUP BY 1, 2
), ct AS (
  SELECT f, t, CAST(SUM(o) AS BIGINT) AS cn FROM cells GROUP BY 1, 2
), g AS (
  SELECT f, CAST(SUM(o) AS BIGINT) AS n FROM cells GROUP BY 1
), mi AS (
  SELECT c.f, CAST(COUNT(*) AS BIGINT) AS n_cells,
    CAST(SUM(c.o * CAST(round(ln(
        (CAST(c.o AS DOUBLE) * CAST(g.n AS DOUBLE))
      / (CAST(rt.rn AS DOUBLE) * CAST(ct.cn AS DOUBLE))
    ) * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi_q9
  FROM cells c
  JOIN rt USING (f, fv) JOIN ct USING (f, t) JOIN g USING (f)
  GROUP BY 1
), hf AS (
  SELECT rt.f,
    CAST(-SUM(rt.rn * CAST(round(ln(
        CAST(rt.rn AS DOUBLE) / CAST(g.n AS DOUBLE)
    ) * 1000000000.0) AS BIGINT)) AS BIGINT) AS hf_q9
  FROM rt JOIN g USING (f) GROUP BY 1
), ht AS (
  SELECT ct.f,
    CAST(-SUM(ct.cn * CAST(round(ln(
        CAST(ct.cn AS DOUBLE) / CAST(g.n AS DOUBLE)
    ) * 1000000000.0) AS BIGINT)) AS BIGINT) AS ht_q9
  FROM ct JOIN g USING (f) GROUP BY 1
), fin AS (
  SELECT g.f AS feature, g.n AS n_rows, mi.n_cells,
    CAST(mi.mi_q9 AS DOUBLE)
      / (CAST(g.n AS DOUBLE) * 1000000000.0) AS mi_nats,
    CAST(hf.hf_q9 AS DOUBLE)
      / (CAST(g.n AS DOUBLE) * 1000000000.0) AS h_feature,
    CAST(ht.ht_q9 AS DOUBLE)
      / (CAST(g.n AS DOUBLE) * 1000000000.0) AS h_target
  FROM g JOIN mi USING (f) JOIN hf USING (f) JOIN ht USING (f)
)
SELECT feature, n_rows, n_cells, mi_nats, h_feature, h_target,
       2.0 * mi_nats / (h_feature + h_target) AS su
FROM fin ORDER BY feature
"""


@REGISTRY.register("feature_infogain_orders", _INFOGAIN_ORACLE)
def feature_infogain_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature-selection sweep: MI(o_orderstatus; f)
    + symmetric uncertainty for four candidate order features (month,
    price bin, priority, year) in ONE stacked fact scan — the
    filter-method ranking run before training any model on the table
    (which features predict the label at all). The multi-feature
    generalization of the single-pair mi_lang_source readout
    (operators/infotheory.py::feature_info_gain)."""
    from movie_rankings_spark.operators.infotheory import feature_info_gain

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull()
    )
    return feature_info_gain(
        o,
        F.col("o_orderstatus"),
        {
            "month": F.month("o_orderdate"),
            "price_bin": F.least(
                F.lit(19),
                F.floor(F.col("o_totalprice") / F.lit(25000)).cast("long"),
            ),
            "priority": F.col("o_orderpriority"),
            "year": F.year("o_orderdate"),
        },
    )


# --- r6: lead-lag cross-correlation between daily views and purchases -------

_CCF_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM daily
), lags AS (
  SELECT CAST(unnest(generate_series(-7, 7)) AS INT) AS lag
), pairs AS (
  SELECT l.lag, h.x AS xh, t.y AS yt
  FROM lags l
  JOIN daily h ON TRUE
  JOIN daily t ON t.d = h.d + l.lag
), agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(xh AS HUGEINT) * yt) AS sxy,
         CAST(SUM(xh) AS BIGINT) AS sh, CAST(SUM(yt) AS BIGINT) AS st
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
  CAST(CAST(n AS HUGEINT) * n * sxy
       - CAST(n AS HUGEINT)
         * (CAST(sy AS HUGEINT) * sh + CAST(sx AS HUGEINT) * st)
       + CAST(n_pairs AS HUGEINT) * sx * sy AS DOUBLE)
  / (CAST(n AS DOUBLE)
     * sqrt(CAST(CAST(n AS HUGEINT) * sxx
                 - CAST(sx AS HUGEINT) * sx AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * syy
                   - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
    AS ccf
FROM agg CROSS JOIN scal ORDER BY lag
"""


@REGISTRY.register("ccf_views_purchases", _CCF_ORACLE)
def ccf_views_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do daily views LEAD daily purchase revenue? Exact lead-lag
    cross-correlation (k = -7..+7) between the two metrics of the
    events fact — the two-series companion to acf_daily_revenue, run
    before engineering lagged features. One fact shuffle into the
    date-domain-bounded (day, views, purchase-cents) series
    (operators/timeseries.py::ccf_daily)."""
    from movie_rankings_spark.operators.timeseries import ccf_daily

    ev = _t(spark, sf_dir, "events")
    return ccf_daily(
        ev,
        "ts",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * F.lit(100)).cast("long"),
            ).otherwise(F.lit(0))
        ),
        max_lag=7,
    )


# --- r6: additive Holt-Winters weekly-seasonal smoothing --------------------

_HW_ORACLE = """
WITH RECURSIVE d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
), i AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d
), init AS (
  SELECT CAST(SUM(CASE WHEN rn <= 7 THEN rev END) AS DOUBLE) / 7.0
           AS w1,
         CAST(SUM(CASE WHEN rn BETWEEN 8 AND 14 THEN rev END)
              AS DOUBLE) / 7.0 AS w2
  FROM i
), seedrows AS (
  SELECT i.rn, i.day, i.rev, init.w1 AS lvl,
         (init.w2 - init.w1) / 7.0 AS trend,
         CAST(i.rev AS DOUBLE) - init.w1 AS seas,
         CAST(NULL AS DOUBLE) AS fitted
  FROM i CROSS JOIN init WHERE i.rn <= 7
), rec AS (
  SELECT 7 AS rn, CAST(NULL AS DATE) AS day,
         CAST(NULL AS BIGINT) AS rev,
         MAX(lvl) AS lvl, MAX(trend) AS trend,
         LIST(seas ORDER BY rn) AS sl,
         CAST(NULL AS DOUBLE) AS seas, CAST(NULL AS DOUBLE) AS fitted
  FROM seedrows
  UNION ALL
  SELECT i.rn, i.day, i.rev,
    0.3 * (CAST(i.rev AS DOUBLE) - r.sl[1])
      + 0.7 * (r.lvl + r.trend),
    0.2 * ((0.3 * (CAST(i.rev AS DOUBLE) - r.sl[1])
            + 0.7 * (r.lvl + r.trend)) - r.lvl)
      + 0.8 * r.trend,
    r.sl[2:7] || [
      0.4 * (CAST(i.rev AS DOUBLE)
             - (0.3 * (CAST(i.rev AS DOUBLE) - r.sl[1])
                + 0.7 * (r.lvl + r.trend)))
      + 0.6 * r.sl[1]],
    0.4 * (CAST(i.rev AS DOUBLE)
           - (0.3 * (CAST(i.rev AS DOUBLE) - r.sl[1])
              + 0.7 * (r.lvl + r.trend)))
      + 0.6 * r.sl[1],
    r.lvl + r.trend + r.sl[1]
  FROM i JOIN rec r ON i.rn = r.rn + 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, rev AS revenue_cents,
       lvl AS hw_level, trend AS hw_trend,
       seas AS hw_seasonal, fitted
FROM seedrows
UNION ALL
SELECT strftime(day, '%Y-%m-%d'), rev, lvl, trend, seas, fitted
FROM rec WHERE rn >= 8
ORDER BY 1
"""


@REGISTRY.register("holtwinters_daily_revenue", _HW_ORACLE)
def holtwinters_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive Holt-Winters smoothing of daily order revenue with a
    weekly cycle (alpha=0.3, beta=0.2, gamma=0.4, textbook first-two-
    cycle initialization) — the seasonal completion of
    smooth_daily_revenue's level+trend model. Same fold machinery,
    accumulator carries the seasonal lag; the oracle replays the
    IDENTICAL IEEE recurrence as a recursive CTE with a LIST-typed
    seasonal state (operators/timeseries.py::holt_winters_daily)."""
    from movie_rankings_spark.operators.timeseries import (
        holt_winters_daily,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "_day", F.col("o_orderdate").cast("date")
    )
    return holt_winters_daily(
        orders,
        "_day",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
    )


# --- r6: pairwise Pearson correlation matrix over lineitem measures ---------

_CORRMAT_ORACLE = """
WITH r AS (
  SELECT CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_tax * 10000) AS BIGINT) AS tax_bp
  FROM lineitem
  WHERE l_discount IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_quantity IS NOT NULL AND l_tax IS NOT NULL
), m AS (
  SELECT COUNT(*)::HUGEINT AS n,
    SUM(disc_bp::HUGEINT) AS s_d, SUM(disc_bp::HUGEINT * disc_bp) AS ss_d,
    SUM(price_cents::HUGEINT) AS s_p,
    SUM(price_cents::HUGEINT * price_cents) AS ss_p,
    SUM(qty::HUGEINT) AS s_q, SUM(qty::HUGEINT * qty) AS ss_q,
    SUM(tax_bp::HUGEINT) AS s_t, SUM(tax_bp::HUGEINT * tax_bp) AS ss_t,
    SUM(disc_bp::HUGEINT * price_cents) AS x_dp,
    SUM(disc_bp::HUGEINT * qty) AS x_dq,
    SUM(disc_bp::HUGEINT * tax_bp) AS x_dt,
    SUM(price_cents::HUGEINT * qty) AS x_pq,
    SUM(price_cents::HUGEINT * tax_bp) AS x_pt,
    SUM(qty::HUGEINT * tax_bp) AS x_qt
  FROM r
), c AS (
  SELECT CAST(n AS BIGINT) AS n_rows,
    CAST(n * x_dp - s_d * s_p AS DOUBLE)
      / (sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE))
         * sqrt(CAST(n * ss_p - s_p * s_p AS DOUBLE))) AS c_dp,
    CAST(n * x_dq - s_d * s_q AS DOUBLE)
      / (sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE))
         * sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE))) AS c_dq,
    CAST(n * x_dt - s_d * s_t AS DOUBLE)
      / (sqrt(CAST(n * ss_d - s_d * s_d AS DOUBLE))
         * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) AS c_dt,
    CAST(n * x_pq - s_p * s_q AS DOUBLE)
      / (sqrt(CAST(n * ss_p - s_p * s_p AS DOUBLE))
         * sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE))) AS c_pq,
    CAST(n * x_pt - s_p * s_t AS DOUBLE)
      / (sqrt(CAST(n * ss_p - s_p * s_p AS DOUBLE))
         * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) AS c_pt,
    CAST(n * x_qt - s_q * s_t AS DOUBLE)
      / (sqrt(CAST(n * ss_q - s_q * s_q AS DOUBLE))
         * sqrt(CAST(n * ss_t - s_t * s_t AS DOUBLE))) AS c_qt
  FROM m
)
SELECT 'disc_bp' AS feat_a, 'price_cents' AS feat_b, n_rows, c_dp AS corr
FROM c
UNION ALL SELECT 'disc_bp', 'qty', n_rows, c_dq FROM c
UNION ALL SELECT 'disc_bp', 'tax_bp', n_rows, c_dt FROM c
UNION ALL SELECT 'price_cents', 'qty', n_rows, c_pq FROM c
UNION ALL SELECT 'price_cents', 'tax_bp', n_rows, c_pt FROM c
UNION ALL SELECT 'qty', 'tax_bp', n_rows, c_qt FROM c
ORDER BY 1, 2
"""


@REGISTRY.register("corr_matrix_lineitem", _CORRMAT_ORACLE)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures (discount bp, price cents, quantity, tax bp) in ONE fact
    pass — the numeric profiling sweep beside feature_infogain's
    categorical one (corr_price_quantity screens one pair; this does
    all six) (operators/statistics.py::corr_matrix)."""
    from movie_rankings_spark.operators.statistics import corr_matrix

    li = _t(spark, sf_dir, "lineitem", fanout=True)
    return corr_matrix(
        li,
        {
            "disc_bp": F.round(F.col("l_discount") * F.lit(10000)).cast(
                "long"
            ),
            "price_cents": F.round(
                F.col("l_extendedprice") * F.lit(100)
            ).cast("long"),
            "qty": F.col("l_quantity"),
            "tax_bp": F.round(F.col("l_tax") * F.lit(10000)).cast("long"),
        },
    )


# --- r6: per-group exact percentile readout ---------------------------------

_GROUP_PCTL_ORACLE = """
WITH r AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), cells AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
), ng AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY 1
), cum AS (
  SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum
  FROM cells
), q AS (
  SELECT * FROM (VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
                        ('p90', 9, 10), ('p99', 99, 100))
    AS t(quantile, num, den)
)
SELECT c.g AS "group", q.quantile, ng.n_g AS n_group,
       CAST(MIN(c.v) AS BIGINT) AS value_cents
FROM cum c JOIN ng USING (g) CROSS JOIN q
WHERE c.cum >= CAST(FLOOR((q.num * ng.n_g + q.den - 1) / q.den)
                    AS BIGINT)
GROUP BY 1, 2, 3 ORDER BY 1, 2
"""


@REGISTRY.register("group_percentiles_priority", _GROUP_PCTL_ORACLE)
def group_percentiles_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The p25/p50/p75/p90/p99 order-price table per order priority —
    exact left-continuous order statistics per segment, the
    dashboard staple the global percentile queries don't give. One
    fact shuffle to per-group value cells, per-GROUP windows (sorts
    distributed by group, never global)
    (operators/statistics.py::group_percentiles)."""
    from movie_rankings_spark.operators.statistics import group_percentiles

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    return group_percentiles(
        o,
        "o_orderpriority",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
    )


# --- r6: Dunn post-hoc pairwise rank contrasts ------------------------------

_DUNN_ORACLE = """
WITH cells AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY 1, 2
), vt AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY v
), r2 AS (
  SELECT v, CAST(2 * (SUM(cv) OVER (ORDER BY v) - cv) + cv + 1
              AS BIGINT) AS r2
  FROM vt
), pg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * r2.r2) AS BIGINT) AS s2
  FROM cells JOIN r2 USING (v) GROUP BY g
), t AS (
  SELECT CAST(SUM(cv) AS BIGINT) AS nt,
         CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie
  FROM vt
)
SELECT a.g AS group_a, b.g AS group_b,
       a.n_g AS n_a, b.n_g AS n_b,
       CAST(a.s2 AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
         AS mean_rank_a,
       CAST(b.s2 AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE))
         AS mean_rank_b,
       (CAST(a.s2 AS DOUBLE) / (2.0 * CAST(a.n_g AS DOUBLE))
        - CAST(b.s2 AS DOUBLE) / (2.0 * CAST(b.n_g AS DOUBLE)))
       / sqrt((CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0) / 12.0
               - CAST(tie AS DOUBLE) / (12.0 * (CAST(nt AS DOUBLE) - 1.0)))
              * (1.0 / CAST(a.n_g AS DOUBLE)
                 + 1.0 / CAST(b.n_g AS DOUBLE))) AS z
FROM pg a JOIN pg b ON a.g < b.g CROSS JOIN t
ORDER BY group_a, group_b
"""


@REGISTRY.register("dunn_posthoc_doclen", _DUNN_ORACLE)
def dunn_posthoc_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH sources differ, after kruskal_doclen_source rejects the
    global null: Dunn's post-hoc pairwise mean-rank contrasts on the
    pooled document-length midranks with tie-corrected variance —
    the pairwise layer a curation decision actually needs
    (operators/disttests.py::dunn_posthoc)."""
    from movie_rankings_spark.operators.disttests import dunn_posthoc

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    )
    return dunn_posthoc(docs, "source", "n_chars")


# --- r6: TOST equivalence + MDE sensitivity readout --------------------------

_TOST_ORACLE = """
WITH pan AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y,
         CAST(user_id % 2 AS INT) AS t
  FROM events GROUP BY user_id
), m AS (
  SELECT
    SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END)::HUGEINT AS n0,
    SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END)::HUGEINT AS n1,
    SUM(CASE WHEN t = 0 THEN y::HUGEINT ELSE 0 END) AS s0,
    SUM(CASE WHEN t = 1 THEN y::HUGEINT ELSE 0 END) AS s1,
    SUM(CASE WHEN t = 0 THEN y::HUGEINT * y ELSE 0 END) AS ss0,
    SUM(CASE WHEN t = 1 THEN y::HUGEINT * y ELSE 0 END) AS ss1
  FROM pan
), d AS (
  SELECT CAST(n0 AS BIGINT) AS n_c, CAST(n1 AS BIGINT) AS n_t,
    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_c,
    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_t,
    sqrt(CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
           / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)
              * CAST(n0 AS DOUBLE))
         + CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
           / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
              * CAST(n1 AS DOUBLE))) AS se
  FROM m
)
SELECT n_c, n_t, mean_c, mean_t,
       mean_t - mean_c AS delta, se,
       ((mean_t - mean_c) + 500.0) / se AS t_low,
       ((mean_t - mean_c) - 500.0) / se AS t_high,
       (((mean_t - mean_c) + 500.0) / se > 1.645)
         AND (((mean_t - mean_c) - 500.0) / se < -1.645) AS equivalent,
       (1.96 + 0.8416) * se AS mde_abs,
       (1.96 + 0.8416) * se / mean_c AS mde_rel
FROM d
"""


@REGISTRY.register("abtest_design_readout", _TOST_ORACLE)
def abtest_design_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two numbers a NULL A/B needs: TOST equivalence within
    +/-500 revenue cents (two one-sided t's, the 'statistically flat'
    verdict a plain p > .05 cannot give) and the minimum detectable
    effect at 5%/80% — computed on the per-user purchase panel with
    parity arms, the same A/A placebo the DiD/CUPED queries read
    (operators/causal.py::ab_equivalence_mde)."""
    from movie_rankings_spark.operators.causal import ab_equivalence_mde

    ev = _t(spark, sf_dir, "events")
    pan = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * F.lit(100)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
    )
    panel = pan.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("t"), "y"
    )
    return ab_equivalence_mde(panel, "t", "y", margin=500)


# --- r6: Cramer-von Mises integral shape test --------------------------------

_CVM_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    AND o_totalprice IS NOT NULL
), vc AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
  FROM r GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
  FROM vc
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM vc
), s AS (
  SELECT SUM(CAST(c.ca + c.cb AS HUGEINT)
             * (CAST(c.cum_a * t.n_b - c.cum_b * t.n_a AS HUGEINT)
                * (c.cum_a * t.n_b - c.cum_b * t.n_a))) AS s,
         MAX(t.n_a) AS n_a, MAX(t.n_b) AS n_b
  FROM cum c CROSS JOIN tot t
)
SELECT n_a, n_b,
       CAST(s AS DOUBLE)
         / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
            * CAST(n_a AS DOUBLE)
            * CAST(n_b AS DOUBLE)) AS t_stat
FROM s
"""


@REGISTRY.register("cvm_price_priority", _CVM_ORACLE)
def cvm_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did urgent orders price differently from low-priority ones —
    ANYWHERE in the distribution? Exact two-sample Cramer-von Mises
    criterion over the same contrast as ks_price_priority: KS reads
    the single largest ECDF gap, CvM integrates the squared gap over
    the pooled sample, so diffuse shape differences register
    (operators/disttests.py::cvm_two_sample)."""
    from movie_rankings_spark.operators.disttests import cvm_two_sample

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & F.col("o_totalprice").isNotNull()
    )
    return cvm_two_sample(
        o.withColumn(
            "cents", F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
        ),
        "cents",
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
    )


# --- r7: effect sizes, McNemar, runs, Grubbs, Friedman, Durbin-Watson -------

_EFFECT_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), m AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN a = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS sa,
         CAST(SUM(CASE WHEN b = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS sb,
         CAST(SUM(CASE WHEN a = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS saa,
         CAST(SUM(CASE WHEN b = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS sbb
  FROM r
), d AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
         CAST(na * saa - sa * sa AS DOUBLE)
           / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS var_a,
         CAST(nb * sbb - sb * sb AS DOUBLE)
           / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS var_b
  FROM m
), s AS (
  SELECT *,
         sqrt(((CAST(na AS DOUBLE) - 1.0) * var_a
               + (CAST(nb AS DOUBLE) - 1.0) * var_b)
              / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)) AS sp,
         1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)
                      - 1.0) AS j
  FROM d
)
SELECT na AS n_a, nb AS n_b,
       (mean_a - mean_b) AS mean_diff,
       sp AS sd_pooled,
       (mean_a - mean_b) / sp AS cohens_d,
       j AS hedges_j,
       ((mean_a - mean_b) / sp) * j AS hedges_g,
       (mean_a - mean_b) / sqrt(var_b) AS glass_delta
FROM s
"""


@REGISTRY.register("effect_size_price_priority", _EFFECT_ORACLE)
def effect_size_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g / Glass's Delta for the urgent-vs-low price
    contrast — the magnitude readout next to welch_price_priority's
    p-value on the identical moments
    (operators/disttests.py::effect_sizes)."""
    from movie_rankings_spark.operators.disttests import effect_sizes

    o = _t(spark, sf_dir, "orders", fanout=True).filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    return effect_sizes(
        o.withColumn(
            "cents", F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
        ),
        F.col("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int"),
        (F.col("o_orderpriority") == "5-LOW").cast("int"),
    )


_RUNS_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(y) AS HUGEINT) AS sy
  FROM daily
), seq AS (
  SELECT day,
         CASE WHEN CAST(y AS HUGEINT) * t.nd > t.sy THEN 1 ELSE 0 END AS x
  FROM daily CROSS JOIN tot t
), marked AS (
  SELECT x, CASE WHEN LAG(x) OVER (ORDER BY day) IS NULL
                      OR LAG(x) OVER (ORDER BY day) <> x
                 THEN 1 ELSE 0 END AS brk
  FROM seq
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS n_pos,
         CAST(SUM(brk) AS BIGINT) AS n_runs
  FROM marked
)
SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, n_runs,
       (CAST(n_runs AS DOUBLE)
        - (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)
           / CAST(n AS DOUBLE) + 1.0))
       / sqrt((2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
              * (2.0 * CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE)
                 - CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) - 1.0))) AS z
FROM m
"""


@REGISTRY.register("runs_daily_revenue", _RUNS_ORACLE)
def runs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue above/below-mean
    sequence — is day-level revenue exchangeable, or does it cluster
    (trend/seasonality) before anyone bootstraps over days? The
    indicator is the EXACT integer comparison y*n_days > total (no
    float mean), the sequence is the date-domain-bounded daily table
    (operators/disttests.py::runs_test)."""
    from movie_rankings_spark.operators.disttests import runs_test

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    daily = daily.persist_tracked()  # the total AND the sequence read this
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    )
    seq = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("y").cast("decimal(38,0)") * F.col("nd").cast("decimal(38,0)")
            > F.col("sy")
        )
        .cast("int")
        .alias("x"),
    )
    return runs_test(seq, F.col("day"), F.col("x"))


_GRUBBS_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
  FROM daily
), mom AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd
  FROM m
), dev AS (
  SELECT d.v, abs(CAST(d.v AS DOUBLE) - mom.mean) AS ad,
         mom.n, mom.mean, mom.sd
  FROM daily d CROSS JOIN mom
), top AS (
  SELECT * FROM dev ORDER BY ad DESC, v DESC LIMIT 1
)
SELECT n, mean, sd, v AS outlier_value, ad AS abs_dev,
       ad / sd AS g_stat
FROM top
"""


@REGISTRY.register("grubbs_daily_revenue", _GRUBBS_ORACLE)
def grubbs_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' max-outlier statistic over daily revenue — which single
    day deviates most from the mean, in SD units (the screening number
    an ops dashboard thresholds before the CUSUM/changepoint tier
    digs in; operators/disttests.py::grubbs_max_outlier)."""
    from movie_rankings_spark.operators.disttests import grubbs_max_outlier

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("v")
        )
        .persist_tracked()  # the operator's two passes read this
    )
    return grubbs_max_outlier(daily, F.col("v"))


_FRIEDMAN_ORACLE = """
WITH cells AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS blk, o_orderpriority AS trt,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1, 2
), k AS (SELECT COUNT(DISTINCT trt) AS kt FROM cells),
full_blocks AS (
  SELECT blk FROM cells GROUP BY blk
  HAVING COUNT(*) = (SELECT kt FROM k)
), kept AS (
  SELECT c.* FROM cells c JOIN full_blocks USING (blk)
), ranked AS (
  SELECT blk, trt,
         CAST(2 * RANK() OVER (PARTITION BY blk ORDER BY y)
              + COUNT(*) OVER (PARTITION BY blk, y) - 1 AS BIGINT) AS r2
  FROM kept
), per_trt AS (
  SELECT trt, CAST(SUM(r2) AS BIGINT) AS s2 FROM ranked GROUP BY trt
), tots AS (
  SELECT CAST(SUM(r2 * r2) AS BIGINT) AS ssq2,
         CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks
  FROM ranked
), stat AS (
  SELECT t.n_blocks, t.ssq2,
         CAST(COUNT(*) AS BIGINT) AS kk,
         CAST(SUM((p.s2 - t.n_blocks * ((SELECT kt FROM k) + 1))
                  * (p.s2 - t.n_blocks * ((SELECT kt FROM k) + 1)))
              AS BIGINT) AS num2
  FROM per_trt p CROSS JOIN tots t
  GROUP BY t.n_blocks, t.ssq2
)
SELECT n_blocks, kk AS k_treatments,
       (CAST(kk AS DOUBLE) - 1.0) * CAST(num2 AS DOUBLE)
         / (CAST(ssq2 AS DOUBLE)
            - CAST(n_blocks AS DOUBLE) * CAST(kk AS DOUBLE)
              * CAST(((SELECT kt FROM k) + 1) * ((SELECT kt FROM k) + 1)
                     AS DOUBLE)) AS chi2_f
FROM stat
"""


@REGISTRY.register("friedman_price_month_priority", _FRIEDMAN_ORACLE)
def friedman_price_month_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman rank test: do order priorities differ in mean price
    CONSISTENTLY ACROSS MONTHS? Blocks = order months, treatments =
    the 5 priorities, cell = mean price cents; ranking within blocks
    removes month-level drift the pooled Kruskal-Wallis would absorb
    into noise (operators/disttests.py::friedman_test, tie-corrected,
    doubled-rank integer arithmetic)."""
    from movie_rankings_spark.operators.disttests import friedman_test

    cells = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
    )
    return friedman_test(cells, F.col("blk"), F.col("trt"), F.col("y"))


_DW_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), seq AS (
  SELECT day, y, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
  FROM daily
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
         CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
  FROM seq
), fit AS (
  SELECT n,
         CAST(n * sty - st * sy AS DOUBLE)
           / CAST(n * stt - st * st AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n * sty - st * sy AS DOUBLE)
             / CAST(n * stt - st * st AS DOUBLE)) * CAST(st AS DOUBLE))
           / CAST(n AS DOUBLE) AS a
  FROM m
), resid AS (
  SELECT seq.day, fit.n, fit.a, fit.b,
         CAST(CAST(seq.y AS DOUBLE)
              - (fit.a + fit.b * CAST(seq.t AS DOUBLE))
              AS DECIMAL(28,4)) AS e
  FROM seq CROSS JOIN fit
), lagged AS (
  SELECT n, a, b, e, LAG(e) OVER (ORDER BY day) AS e_prev
  FROM resid
)
SELECT MAX(n) AS n_days, MAX(b) AS slope, MAX(a) AS intercept,
       CAST(SUM(CAST(CAST(e - e_prev AS DECIMAL(28,4))
                     * CAST(e - e_prev AS DECIMAL(28,4))
                     AS DECIMAL(38,8))) AS DOUBLE)
         / CAST(SUM(CAST(e * e AS DECIMAL(38,8))) AS DOUBLE) AS dw
FROM lagged
"""


@REGISTRY.register("dw_trend_daily_revenue", _DW_ORACLE)
def dw_trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation of the daily-revenue OLS-trend
    residuals — can the trend line's standard errors be believed, or
    are the errors serially correlated? Completes the trend family
    next to regression_monthly_trend (fit) and acf_daily_revenue (raw
    lags); residuals quantized DECIMAL(28,4) so the quadratic sums are
    exact (operators/timeseries.py::durbin_watson_daily)."""
    from movie_rankings_spark.operators.timeseries import durbin_watson_daily

    return durbin_watson_daily(
        _t(spark, sf_dir, "orders", fanout=True),
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)).cast("long"),
    )


# --- r7: cross-table inclusion-dependency discovery --------------------------


def _ind_pair_sql(label: str, dep_t: str, dep_c: str, ref_t: str, ref_c: str) -> str:
    return f"""
SELECT '{label}' AS pair_label, '{dep_c}' AS dep_column,
       '{ref_c}' AS ref_column,
       CAST(d.n AS BIGINT) AS n_distinct_dep,
       CAST(x.n AS BIGINT) AS n_dangling,
       CAST(x.n AS DOUBLE) / CAST(d.n AS DOUBLE) AS dangling_share,
       x.n = 0 AS ind_holds
FROM (SELECT COUNT(*) AS n FROM
        (SELECT DISTINCT CAST({dep_c} AS VARCHAR) AS v FROM {dep_t}
         WHERE {dep_c} IS NOT NULL)) d
CROSS JOIN
     (SELECT COUNT(*) AS n FROM
        (SELECT DISTINCT CAST({dep_c} AS VARCHAR) AS v FROM {dep_t}
         WHERE {dep_c} IS NOT NULL) dd
      ANTI JOIN
        (SELECT DISTINCT CAST({ref_c} AS VARCHAR) AS v FROM {ref_t}
         WHERE {ref_c} IS NOT NULL) rr
      ON dd.v = rr.v) x
"""


_IND_PAIRS = (
    ("01_lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("02_lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("03_lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("04_orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("05_nation_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ("06_custkey_in_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("07_events_user_custkey", "events", "user_id", "customer", "c_custkey"),
)

_IND_ORACLE = (
    "\nUNION ALL\n".join(_ind_pair_sql(*p) for p in _IND_PAIRS)
    + "\nORDER BY pair_label"
)


@REGISTRY.register("inclusion_deps_tpch", _IND_ORACLE)
def inclusion_deps_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile of the warehouse: for seven
    declared candidate (dependent ⊆ referenced) column pairs across
    the TPC-H tables — the five real FK edges plus two deliberate
    non-INDs (customers without orders; event users vs customers) —
    count the distinct dangling values. The cross-table companion to
    fd_discovery_orders; each pair is two distinct-value reductions
    and one anti join, never a row-level join
    (operators/fdprofile.py::inclusion_dependencies)."""
    from movie_rankings_spark.operators.fdprofile import (
        inclusion_dependencies,
    )

    pairs = [
        (label, _t(spark, sf_dir, dep_t), dep_c, _t(spark, sf_dir, ref_t), ref_c)
        for label, dep_t, dep_c, ref_t, ref_c in _IND_PAIRS
    ]
    return inclusion_dependencies(pairs)


# --- r7: Mann-Kendall trend + Jonckheere-Terpstra ordered test ---------------

_MK_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS o,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.o < b.o
), ties AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y)
), m AS (
  SELECT s.s_stat, ties.n, ties.tie_term,
         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
          * (2.0 * CAST(n AS DOUBLE) + 5.0)
          - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
  FROM s CROSS JOIN ties
)
SELECT n, s_stat, var_s,
       CASE WHEN s_stat > 0
              THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
            WHEN s_stat < 0
              THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
            ELSE 0.0 END AS z
FROM m
"""


@REGISTRY.register("mk_trend_daily_revenue", _MK_ORACLE)
def mk_trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue — the
    significance companion to the Theil-Sen slope already in the
    registry (Sen estimates, MK tests), tie-corrected with continuity
    correction (operators/disttests.py::mann_kendall; pair counting
    on the date-domain-bounded daily table)."""
    from movie_rankings_spark.operators.disttests import mann_kendall

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    return mann_kendall(daily, F.col("day"), F.col("y"))


_JT_ORACLE = """
WITH lc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
), fact AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS g, lc.n_lines AS v
  FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
), cells AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM fact GROUP BY 1, 2
), jt AS (
  SELECT CAST(SUM(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                       WHEN a.v = b.v THEN a.c * b.c ELSE 0 END) AS BIGINT)
           AS jt2
  FROM cells a JOIN cells b ON a.g < b.g
), gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(n_i * n_i) AS BIGINT) AS sum_ni2,
         CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS g1,
         CAST(SUM(n_i * (n_i - 1) * (n_i - 2)) AS BIGINT) AS g2t,
         CAST(SUM(n_i * (n_i - 1) * (2 * n_i + 5)) AS BIGINT) AS g25
  FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS n_i FROM cells GROUP BY g)
), tm AS (
  SELECT CAST(SUM(t_j * (t_j - 1)) AS BIGINT) AS t1,
         CAST(SUM(t_j * (t_j - 1) * (t_j - 2)) AS BIGINT) AS t2,
         CAST(SUM(t_j * (t_j - 1) * (2 * t_j + 5)) AS BIGINT) AS t25
  FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS t_j FROM cells GROUP BY v)
), m AS (
  SELECT jt.jt2, gm.*, tm.*,
         CAST((CAST(n AS HUGEINT) * n - sum_ni2) / 2 AS DOUBLE) AS mean2,
         ((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
           * (2.0 * CAST(n AS DOUBLE) + 5.0)
           - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
          + CAST(g2t AS DOUBLE) * CAST(t2 AS DOUBLE)
            / (36.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
               * (CAST(n AS DOUBLE) - 2.0))
          + CAST(g1 AS DOUBLE) * CAST(t1 AS DOUBLE)
            / (8.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
           AS var_jt
  FROM jt CROSS JOIN gm CROSS JOIN tm
)
SELECT n, k_groups, jt2, mean2, var_jt,
       (CAST(jt2 AS DOUBLE) - mean2) / (2.0 * sqrt(var_jt)) AS z
FROM m
"""


@REGISTRY.register("jt_priority_linecount", _JT_ORACLE)
def jt_priority_linecount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: do orders carry
    systematically more line items as priority drops 1-URGENT →
    5-LOW? Priorities are an ORDERED factor, so the directed JT
    statistic (pooled one-sided MWU over every ordered group pair)
    catches a monotone shift Kruskal-Wallis dilutes; values = line
    counts per order (domain ≤ 7), so the pair census is a bounded
    cell-table theta join
    (operators/disttests.py::jonckheere_terpstra)."""
    from movie_rankings_spark.operators.disttests import jonckheere_terpstra

    lc = (
        _t(spark, sf_dir, "lineitem", fanout=True)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
    )
    fact = _t(spark, sf_dir, "orders").join(
        lc, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.col("n_lines").alias("v"),
    )
    return jonckheere_terpstra(fact, F.col("g"), F.col("v"))


# --- r7: partial correlation, concentration, Mood's median, Hellinger --------

_PCORR_ORACLE = """
WITH r AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(round(l_discount * 1000) AS BIGINT) AS z
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
  FROM r
), c AS (
  SELECT CAST(n AS BIGINT) AS n_rows,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r_xy,
         CAST(n * sxz - sx * sz AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS r_xz,
         CAST(n * syz - sy * sz AS DOUBLE)
           / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS r_yz
  FROM m
)
SELECT n_rows, r_xy, r_xz, r_yz,
       (r_xy - r_xz * r_yz)
         / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
         AS pcorr_xy_given_z
FROM c
"""


@REGISTRY.register("pcorr_qty_price_discount", _PCORR_ORACLE)
def pcorr_qty_price_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the quantity↔price correlation survive holding discount
    fixed? First-order partial correlation on lineitem — the
    conditioning readout next to corr_matrix_lineitem's raw pairs
    (operators/statistics.py::partial_correlation; one nine-moment
    DECIMAL aggregate)."""
    from movie_rankings_spark.operators.statistics import partial_correlation

    li = _t(spark, sf_dir, "lineitem")
    return partial_correlation(
        li,
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_extendedprice") * F.lit(100)).cast("long"),
        F.round(F.col("l_discount") * F.lit(1000)).cast("long"),
    )


_CONC_ORACLE = """
WITH per AS (
  SELECT l_suppkey AS k,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
           AS x
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) > 0
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(x) AS HUGEINT) AS xs,
         CAST(SUM(x * x) AS HUGEINT) AS xsq
  FROM per
), th AS (
  SELECT CAST(SUM(CAST(
           (CAST(p.x AS DOUBLE) / CAST(t.xs AS DOUBLE))
           * CAST(CAST(ln(CAST(t.n_keys AS DOUBLE) * CAST(p.x AS DOUBLE)
                          / CAST(t.xs AS DOUBLE)) AS DECIMAL(18,9))
                  AS DOUBLE)
           AS DECIMAL(18,12))) AS DOUBLE) AS theil_t
  FROM per p CROSS JOIN tot t
)
SELECT t.n_keys, CAST(t.xs AS BIGINT) AS total_cents,
       CAST(t.xsq AS DOUBLE)
         / (CAST(t.xs AS DOUBLE) * CAST(t.xs AS DOUBLE)) AS hhi,
       th.theil_t
FROM tot t CROSS JOIN th
"""


@REGISTRY.register("concentration_supplier_revenue", _CONC_ORACLE)
def concentration_supplier_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How concentrated is revenue across suppliers? HHI (the
    antitrust screen, exact integer numerators) + Theil-T (the
    decomposable entropy inequality index) — the pair next to the
    registry's Gini/Lorenz view
    (operators/statistics.py::concentration_indices)."""
    from movie_rankings_spark.operators.statistics import (
        concentration_indices,
    )

    return concentration_indices(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_suppkey"),
        F.round(F.col("l_extendedprice") * F.lit(100)).cast("long"),
    )


_MOOD_ORACLE = """
WITH cells AS (
  SELECT source AS g, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), byv AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY 1
), cum AS (
  SELECT v, SUM(cv) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum
  FROM byv
), tot AS (SELECT MAX(cum) AS n_total FROM cum),
med AS (
  SELECT MIN(v) AS median_value FROM cum CROSS JOIN tot
  WHERE cum * 2 >= n_total
), grp AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN v <= (SELECT median_value FROM med)
                       THEN c ELSE 0 END) AS BIGINT) AS n_le_median
  FROM cells GROUP BY 1
), tots AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt,
         CAST(SUM(n_le_median) AS BIGINT) AS le_t
  FROM grp
), chi AS (
  SELECT CAST(SUM(
    CAST((CAST(n_le_median AS DOUBLE)
          - CAST(n AS DOUBLE) * CAST(le_t AS DOUBLE) / CAST(nt AS DOUBLE))
         * (CAST(n_le_median AS DOUBLE)
            - CAST(n AS DOUBLE) * CAST(le_t AS DOUBLE) / CAST(nt AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(le_t AS DOUBLE) / CAST(nt AS DOUBLE))
         AS DECIMAL(18,9))
    + CAST((CAST(n - n_le_median AS DOUBLE)
            - CAST(n AS DOUBLE) * CAST(nt - le_t AS DOUBLE)
              / CAST(nt AS DOUBLE))
           * (CAST(n - n_le_median AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST(nt - le_t AS DOUBLE)
                / CAST(nt AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(nt - le_t AS DOUBLE)
              / CAST(nt AS DOUBLE))
           AS DECIMAL(18,9))) AS DOUBLE) AS chi2
  FROM grp CROSS JOIN tots
)
SELECT g.g AS "group", g.n, g.n_le_median,
       CAST(g.n - g.n_le_median AS BIGINT) AS n_gt_median,
       CAST(g.n AS DOUBLE) * CAST(t.le_t AS DOUBLE) / CAST(t.nt AS DOUBLE)
         AS exp_le,
       (SELECT median_value FROM med) AS median_value,
       c.chi2
FROM grp g CROSS JOIN tots t CROSS JOIN chi c
ORDER BY 1
"""


@REGISTRY.register("mood_median_doclen_source", _MOOD_ORACLE)
def mood_median_doclen_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of document length across sources — the
    robust location triage on the same contrast kruskal_doclen_source
    ranks: each source's split around the pooled lower median, 2×k
    χ² with per-cell DECIMAL(18,9) terms
    (operators/disttests.py::mood_median_test)."""
    from movie_rankings_spark.operators.disttests import mood_median_test

    return mood_median_test(
        _t(spark, sf_dir, "documents"), F.col("source"), F.col("n_chars")
    )


_HELLINGER_ORACLE = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_values
  FROM cells
), bc AS (
  SELECT CAST(SUM(CAST(sqrt(
           (CAST(c.ca AS DOUBLE) / CAST(t.n_a AS DOUBLE))
           * (CAST(c.cb AS DOUBLE) / CAST(t.n_b AS DOUBLE)))
           AS DECIMAL(18,9))) AS DOUBLE) AS bc_coeff
  FROM cells c CROSS JOIN tot t
)
SELECT t.n_a, t.n_b, t.n_values, bc.bc_coeff,
       sqrt(greatest(1.0 - bc.bc_coeff, 0.0)) AS hellinger
FROM tot t CROSS JOIN bc
"""


@REGISTRY.register("hellinger_qty_returnflag", _HELLINGER_ORACLE)
def hellinger_qty_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance / Bhattacharyya overlap between returned
    (R) and kept (N) lineitems' quantity distributions — the bounded
    true-metric drift lens next to the JS and PSI views; quantity's
    domain makes the cell table broadcast-size
    (operators/drift.py::hellinger_drift)."""
    from movie_rankings_spark.operators.drift import hellinger_drift

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    return hellinger_drift(
        li,
        F.col("l_quantity"),
        (F.col("l_returnflag") == "R").cast("int"),
        (F.col("l_returnflag") == "N").cast("int"),
    )


# --- r7: CEP regex pattern matching over per-user event sequences ------------

_CEP_ORACLE = """
WITH sym AS (
  SELECT user_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              ELSE 'x' END AS sym,
         ts, event_id
  FROM events
), seqs AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         string_agg(sym, '' ORDER BY ts, event_id) AS symbols
  FROM sym GROUP BY 1
), m AS (
  SELECT user_id, n_events, symbols,
         regexp_extract_all(symbols, 'v+c+p') AS ms
  FROM seqs
)
SELECT user_id, n_events, symbols,
       CAST(len(ms) AS BIGINT) AS n_matches,
       CAST(COALESCE(list_sum(list_transform(ms, x -> length(x))), 0)
            AS BIGINT) AS matched_chars
FROM m ORDER BY user_id
"""


@REGISTRY.register("cep_view_click_purchase", _CEP_ORACLE)
def cep_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style pattern query: per user, count the
    non-overlapping `v+c+p` journeys (any run of views, then clicks,
    closed by a purchase) in the time-ordered event-type string —
    the regex-shaped sequence query the fixed funnel can't express
    (operators/cep.py::cep_pattern_matches)."""
    from movie_rankings_spark.operators.cep import cep_pattern_matches

    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("x")
    )
    return cep_pattern_matches(
        _t(spark, sf_dir, "events"), "user_id", sym, "v+c+p"
    )


# --- r7: Bartlett variance-homogeneity test ----------------------------------

_BARTLETT_ORACLE = """
WITH g AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
), m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
  FROM g GROUP BY 1 HAVING COUNT(*) >= 2
), vg AS (
  SELECT g, n, CAST(n - 1 AS BIGINT) AS w,
         CAST(n * ss - s * s AS DOUBLE)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_g
  FROM m
), pos AS (SELECT * FROM vg WHERE var_g > 0),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(w) AS BIGINT) AS sum_w,
         SUM(CAST(CAST(w AS DECIMAL(19,0))
                  * CAST(ln(var_g) AS DECIMAL(18,9)) AS DECIMAL(38,9)))
           AS sum_wln,
         SUM(CAST(CAST(w AS DOUBLE) * var_g AS DECIMAL(38,6))) AS ssw,
         SUM(CAST(1.0 / CAST(w AS DOUBLE) AS DECIMAL(18,12))) AS harm
  FROM pos
), sc AS (
  SELECT k, n_total, sum_w,
         CAST(ssw AS DOUBLE) / CAST(sum_w AS DOUBLE) AS pooled_var,
         1.0 + (CAST(harm AS DOUBLE) - 1.0 / CAST(sum_w AS DOUBLE))
               / (3.0 * (CAST(k AS DOUBLE) - 1.0)) AS c_factor,
         CAST(sum_wln AS DOUBLE) AS sum_wln_d
  FROM tot
)
SELECT p.g AS "group", p.n AS n_group, p.var_g AS var_group,
       sc.n_total, sc.k AS k_groups, sc.pooled_var, sc.c_factor,
       (CAST(sc.sum_w AS DOUBLE)
          * CAST(CAST(ln(sc.pooled_var) AS DECIMAL(18,9)) AS DOUBLE)
        - sc.sum_wln_d) / sc.c_factor AS chi2,
       CAST(sc.k - 1 AS BIGINT) AS df
FROM pos p CROSS JOIN sc
ORDER BY 1
"""


@REGISTRY.register("bartlett_doclen_source", _BARTLETT_ORACLE)
def bartlett_doclen_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test of document length across
    sources — the parametric dispersion check next to the same
    contrast's location tests (kruskal_doclen_source,
    mood_median_doclen_source) and the robust BF variant
    (brown_forsythe_price_priority): one exact-moment fact pass,
    per-group ln(s²) quantized DECIMAL(18,9)
    (operators/disttests.py::bartlett_test)."""
    from movie_rankings_spark.operators.disttests import bartlett_test

    return bartlett_test(
        _t(spark, sf_dir, "documents"), F.col("source"), F.col("n_chars")
    )


# --- r7: Cramér's V association strength --------------------------------------

_CRAMERSV_ORACLE = """
WITH j AS (
  SELECT o.o_orderpriority AS r, c.c_mktsegment AS c2
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderpriority IS NOT NULL AND c.c_mktsegment IS NOT NULL
), cells AS (
  SELECT r, c2, CAST(COUNT(*) AS BIGINT) AS observed FROM j GROUP BY 1, 2
), tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_obs FROM cells),
marg AS (
  SELECT observed,
         CAST(SUM(observed) OVER (PARTITION BY r) AS BIGINT) AS row_total,
         CAST(SUM(observed) OVER (PARTITION BY c2) AS BIGINT) AS col_total
  FROM cells
), chi AS (
  SELECT CAST(t.n_obs AS DOUBLE)
         * (CAST(SUM(CAST(
              CAST(observed AS DOUBLE) * CAST(observed AS DOUBLE)
              / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE))
            AS DECIMAL(18,15))) AS DOUBLE) - 1.0) AS chi2
  FROM marg CROSS JOIN tot t GROUP BY t.n_obs
), lv AS (
  SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS r_levels,
         CAST(COUNT(DISTINCT c2) AS BIGINT) AS c_levels
  FROM cells
)
SELECT t.n_obs, lv.r_levels, lv.c_levels, chi.chi2,
       CAST((lv.r_levels - 1) * (lv.c_levels - 1) AS BIGINT) AS df,
       sqrt((chi.chi2 / CAST(t.n_obs AS DOUBLE))
            / (least(CAST(lv.r_levels AS DOUBLE),
                     CAST(lv.c_levels AS DOUBLE)) - 1.0)) AS cramers_v,
       sqrt(greatest(0.0,
              chi.chi2 / CAST(t.n_obs AS DOUBLE)
              - (CAST(lv.r_levels AS DOUBLE) - 1.0)
                * (CAST(lv.c_levels AS DOUBLE) - 1.0)
                / (CAST(t.n_obs AS DOUBLE) - 1.0))
            / (least(CAST(lv.r_levels AS DOUBLE)
                       - (CAST(lv.r_levels AS DOUBLE) - 1.0)
                         * (CAST(lv.r_levels AS DOUBLE) - 1.0)
                         / (CAST(t.n_obs AS DOUBLE) - 1.0),
                     CAST(lv.c_levels AS DOUBLE)
                       - (CAST(lv.c_levels AS DOUBLE) - 1.0)
                         * (CAST(lv.c_levels AS DOUBLE) - 1.0)
                         / (CAST(t.n_obs AS DOUBLE) - 1.0)) - 1.0))
         AS cramers_v_corrected
FROM tot t CROSS JOIN lv CROSS JOIN chi
"""


@REGISTRY.register("cramersv_priority_segment", _CRAMERSV_ORACLE)
def cramersv_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (raw + Bergsma bias-corrected) between order
    priority and the ordering customer's market segment — the [0,1]
    association strength on top of the chi² machinery: the feature-
    redundancy screen a pipeline thresholds before one-hot-encoding
    both columns. Star join then ONE bounded 5×5 cell table
    (operators/statistics.py::cramers_v)."""
    from movie_rankings_spark.operators.statistics import cramers_v

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return cramers_v(joined, "o_orderpriority", "c_mktsegment")


# --- r7: binary-segmentation change-point scan --------------------------------

_BINSEG_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), pref AS (
  SELECT d,
         CAST(SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS sk,
         CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS k
  FROM daily
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS s_tot
  FROM daily
), sc AS (
  SELECT p.d, p.k, t.n_days, t.s_tot, p.sk,
         CAST(p.sk AS DOUBLE) * CAST(p.sk AS DOUBLE) / CAST(p.k AS DOUBLE)
         + (CAST(t.s_tot AS DOUBLE) - CAST(p.sk AS DOUBLE))
           * (CAST(t.s_tot AS DOUBLE) - CAST(p.sk AS DOUBLE))
           / (CAST(t.n_days AS DOUBLE) - CAST(p.k AS DOUBLE))
         - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE)
           / CAST(t.n_days AS DOUBLE) AS gain
  FROM pref p CROSS JOIN tot t
  WHERE p.k < t.n_days
), rk AS (
  SELECT *, CAST(row_number() OVER (ORDER BY gain DESC, d ASC) AS INTEGER)
            AS rank
  FROM sc
)
SELECT rank, strftime(d, '%Y-%m-%d') AS split_day, k AS k_left, n_days,
       s_tot AS total_cents,
       CAST(sk AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left,
       CAST(s_tot - sk AS DOUBLE) / CAST(n_days - k AS DOUBLE) AS mean_right,
       gain
FROM rk WHERE rank <= 3
ORDER BY rank
"""


@REGISTRY.register("binseg_changepoint_revenue", _BINSEG_ORACLE)
def binseg_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 candidate level-shift splits of daily revenue by
    between-segment SSE gain — the first binary-segmentation round,
    next to cusum_changepoint_revenue's single argmax: the gain
    magnitude is what a regime-flag threshold reads
    (operators/timeseries.py::binseg_changepoint)."""
    from movie_rankings_spark.operators.timeseries import binseg_changepoint

    return binseg_changepoint(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)),
        top_k=3,
    )


# --- r7: classical seasonal decomposition -------------------------------------

_SEASDEC_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), base AS (
  SELECT d, y,
         CAST(date_diff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS pos,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(y) OVER w AS BIGINT) END AS win_sum
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), pm AS (
  SELECT pos,
         CAST(SUM(y * 7 - win_sum) AS BIGINT) AS dnum,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base WHERE win_sum IS NOT NULL GROUP BY 1
), norm AS (
  SELECT CAST(SUM(dnum) AS BIGINT) AS d_tot,
         CAST(SUM(cnt) AS BIGINT) AS c_tot
  FROM pm
), seas AS (
  SELECT pos,
         CAST(dnum AS DOUBLE) / (7.0 * CAST(cnt AS DOUBLE))
         - CAST(n.d_tot AS DOUBLE) / (7.0 * CAST(n.c_tot AS DOUBLE))
           AS seasonal
  FROM pm CROSS JOIN norm n
)
SELECT strftime(b.d, '%Y-%m-%d') AS day, b.y AS revenue_cents,
       CAST(b.pos AS INTEGER) AS pos,
       CAST(b.win_sum AS DOUBLE) / 7.0 AS trend,
       s.seasonal,
       CAST(b.y * 7 - b.win_sum AS DOUBLE) / 7.0 - s.seasonal AS resid
FROM base b JOIN seas s USING (pos)
ORDER BY day
"""


@REGISTRY.register("seasonal_decompose_revenue", _SEASDEC_ORACLE)
def seasonal_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily revenue into
    trend / weekly seasonal / residual — the explanatory view under
    holt_winters_daily's forecast; residuals are what the anomaly
    tier should score. Exact-integer detrended numerators, epoch-
    anchored weekday positions
    (operators/timeseries.py::seasonal_decompose_daily)."""
    from movie_rankings_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    return seasonal_decompose_daily(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)),
        period=7,
    )


# --- r7: item-item cosine collaborative filtering ------------------------------

_ITEMSIM_ORACLE = """
WITH cb AS (
  SELECT DISTINCT o.o_custkey AS basket, l.l_partkey AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), sup AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM cb GROUP BY 1
  HAVING COUNT(*) >= 20
), freq AS (
  SELECT cb.basket, cb.item, sup.n_item FROM cb JOIN sup USING (item)
), sized AS (
  SELECT basket, item, n_item,
         COUNT(*) OVER (PARTITION BY basket) AS bsz
  FROM freq
), kept AS (SELECT basket, item, n_item FROM sized WHERE bsz <= 100),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n_both,
         MIN(a.n_item) AS n_a, MIN(b.n_item) AS n_b
  FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), dirs AS (
  SELECT ia AS item, ib AS neighbor, n_a AS n_item, n_b AS n_neighbor,
         n_both
  FROM pairs
  UNION ALL
  SELECT ib, ia, n_b, n_a, n_both FROM pairs
), scored AS (
  SELECT *, CAST(n_both AS DOUBLE)
            / sqrt(CAST(n_item AS DOUBLE) * CAST(n_neighbor AS DOUBLE))
            AS cosine
  FROM dirs
), rk AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY item
             ORDER BY cosine DESC, n_both DESC, neighbor ASC) AS INTEGER)
            AS rank
  FROM scored
)
SELECT item, rank, neighbor, CAST(n_item AS BIGINT) AS n_item,
       CAST(n_neighbor AS BIGINT) AS n_neighbor, n_both, cosine
FROM rk WHERE rank <= 5
ORDER BY item, rank
"""


@REGISTRY.register("itemsim_cosine_topk", _ITEMSIM_ORACLE)
def itemsim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most similar parts per part by binary cosine over
    CUSTOMER purchase sets — "customers who bought X also bought Y",
    the neighborhood-model recommender next to
    basket_association_rules' order-level lift: cosine normalizes by
    item popularity, so the neighborhood isn't just the bestsellers.
    A-priori prefilter + the max_basket power-user guard bound the
    pair join (operators/basket.py::item_cosine_topk)."""
    from movie_rankings_spark.operators.basket import item_cosine_topk

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cb = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    return item_cosine_topk(
        cb,
        "cust",
        "part",
        k=5,
        min_item_support=20,
        min_pair_support=3,
        max_basket=100,
    )


# --- r7: ridge-shrunk per-group trend ------------------------------------------

_RIDGE_ORACLE = """
WITH ord_rev AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_orderkey
), monthly AS (
  SELECT n.n_name,
         (year(o.o_orderdate) - 1992) * 12 + month(o.o_orderdate) - 1 AS x,
         CAST(SUM(r.rev) AS DECIMAL(18,4)) AS y
  FROM ord_rev r
  JOIN orders o   ON o.o_orderkey  = r.l_orderkey
  JOIN customer c ON c.c_custkey   = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), scaled AS (
  SELECT n_name, x, CAST(y * 10000 AS DECIMAL(20,0)) AS ys FROM monthly
), m AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(x AS DECIMAL(10,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(ys) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(10,0)) * ys AS DECIMAL(38,0)))
              AS DOUBLE) AS sxy
  FROM scaled GROUP BY n_name
), f AS (
  SELECT n_name, n_points,
         CAST(n_points AS DOUBLE) * sxy - sx * sy AS num,
         CAST(n_points AS DOUBLE) * sxx - sx * sx AS den,
         CAST(n_points AS DOUBLE) * sxx - sx * sx
           + CAST(n_points AS DOUBLE) * 5000.0 AS den_r,
         sx, sy
  FROM m
)
SELECT n_name, n_points,
       (num / den) / 10000.0 AS slope_ols,
       (num / den_r) / 10000.0 AS slope_ridge,
       ((sy - (num / den_r) * sx) / CAST(n_points AS DOUBLE)) / 10000.0
         AS intercept_ridge,
       den / den_r AS shrinkage
FROM f
ORDER BY n_name
"""


@REGISTRY.register("ridge_monthly_trend", _RIDGE_ORACLE)
def ridge_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-shrunk revenue trend per nation over the SAME monthly cells
    regression_monthly_trend fits: on ~7 years of monthly points the
    OLS slope whipsaws with one hot quarter; the ridge slope
    (λ_c = 5000 month² in the n-scaled centered form) pulls it toward
    zero by the emitted shrinkage factor — the stable per-group trend
    a dashboard or allocation model should consume
    (operators/statistics.py::grouped_ridge)."""
    from movie_rankings_spark.operators.statistics import grouped_ridge

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ord_rev = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("rev")
    )
    monthly = (
        ord_rev.join(orders, orders.o_orderkey == ord_rev.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("x"),
        )
        .agg(F.sum("rev").cast("decimal(18,4)").alias("y"))
    )
    return grouped_ridge(
        monthly, ["n_name"], "x", "y", lam=5000.0
    ).orderBy("n_name")


# --- r7: Nelson-Aalen cumulative hazard + log-rank test -----------------------

_NA_ORACLE = """
WITH per AS (
  SELECT o_custkey, CAST(MIN(o_orderdate) AS DATE) AS f,
         CAST(MAX(o_orderdate) AS DATE) AS l
  FROM orders GROUP BY 1
), mx AS (
  SELECT MAX(l) AS m FROM per
), subj AS (
  SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
         CASE WHEN datediff('day', l, mx.m) > 90 THEN 1 ELSE 0 END AS e
  FROM per CROSS JOIN mx
), steps AS (
  SELECT t, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(1 - e) AS BIGINT) AS c
  FROM subj GROUP BY 1
), risk AS (
  SELECT t, d, c,
         CAST(SUM(d + c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
  FROM steps
), q AS (
  SELECT t, d, c, n_at_risk,
         CAST(FLOOR(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
              * 1099511627776.0) AS BIGINT) AS iq,
         CAST(FLOOR(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE)
              * CAST(n_at_risk AS DOUBLE)) * 1099511627776.0) AS BIGINT)
           AS vq
  FROM risk
), cum AS (
  SELECT t, d, c, n_at_risk, iq,
         CAST(SUM(iq) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS hq,
         CAST(SUM(vq) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS vq2
  FROM q
)
SELECT t AS duration, n_at_risk, d AS n_events, c AS n_censored,
       CAST(iq AS DOUBLE) / 1099511627776.0 AS hazard_inc,
       CAST(hq AS DOUBLE) / 1099511627776.0 AS cum_hazard,
       CAST(vq2 AS DOUBLE) / 1099511627776.0 AS cum_hazard_var
FROM cum WHERE d > 0 ORDER BY duration
"""


@REGISTRY.register("survival_nelson_aalen", _NA_ORACLE)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative churn hazard over the SAME customer
    (duration, event) table survival_customer_km estimates: the
    additive hazard increments d/n a churn model consumes per
    period, with the Aalen variance — suffix-sum at-risk counts, no
    recursion (operators/survival.py::nelson_aalen)."""
    from movie_rankings_spark.operators.survival import nelson_aalen

    per = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("f"),
            F.max(F.col("o_orderdate").cast("date")).alias("l"),
        )
        .persist_tracked()
    )
    horizon = per.agg(F.max("l").alias("m"))
    subj = per.crossJoin(F.broadcast(horizon)).select(
        F.datediff("l", "f").cast("long").alias("duration"),
        (F.datediff("m", "l") > 90).cast("int").alias("event"),
    )
    return nelson_aalen(subj)


_LOGRANK_ORACLE = """
WITH per AS (
  SELECT o.o_custkey, CAST(MIN(o.o_orderdate) AS DATE) AS f,
         CAST(MAX(o.o_orderdate) AS DATE) AS l,
         MIN(c.c_mktsegment) AS seg
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), mx AS (
  SELECT MAX(l) AS m FROM per
), subj AS (
  SELECT CAST(datediff('day', f, l) AS BIGINT) AS t,
         CASE WHEN datediff('day', l, mx.m) > 90 THEN 1 ELSE 0 END AS e,
         CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END AS g
  FROM per CROSS JOIN mx
), cells AS (
  SELECT t, g, CAST(SUM(e) AS BIGINT) AS d,
         CAST(SUM(1 - e) AS BIGINT) AS c
  FROM subj GROUP BY 1, 2
), dense AS (
  SELECT ts.t, gs.g,
         CAST(COALESCE(cl.d, 0) AS BIGINT) AS d,
         CAST(COALESCE(cl.c, 0) AS BIGINT) AS c
  FROM (SELECT DISTINCT t FROM cells) ts
  CROSS JOIN (SELECT DISTINCT g FROM cells) gs
  LEFT JOIN cells cl ON cl.t = ts.t AND cl.g = gs.g
), risk AS (
  SELECT t, g, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY g ORDER BY t DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_r
  FROM dense
), pooled AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS d_tot,
         CAST(SUM(n_r) AS BIGINT) AS n_tot,
         CAST(SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN g = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
  FROM risk GROUP BY 1
), ev AS (SELECT * FROM pooled WHERE d_tot > 0),
terms AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d_tot) AS BIGINT) AS o_tot,
         CAST(SUM(CAST(CAST(d_tot AS DOUBLE) * CAST(n1 AS DOUBLE)
                       / CAST(n_tot AS DOUBLE) AS DECIMAL(18,9)))
              AS DECIMAL(38,9)) AS e1,
         CAST(SUM(CAST(CASE WHEN n_tot > 1 THEN
                 CAST(d_tot AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) / CAST(n_tot AS DOUBLE))
                 * ((CAST(n_tot AS DOUBLE) - CAST(n1 AS DOUBLE))
                    / CAST(n_tot AS DOUBLE))
                 * ((CAST(n_tot AS DOUBLE) - CAST(d_tot AS DOUBLE))
                    / (CAST(n_tot AS DOUBLE) - 1.0))
                 ELSE 0.0 END AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS v
  FROM ev
), sizes AS (
  SELECT CAST(SUM(CASE WHEN g = 1 THEN d + c ELSE 0 END) AS BIGINT) AS n_1,
         CAST(SUM(CASE WHEN g = 0 THEN d + c ELSE 0 END) AS BIGINT) AS n_2
  FROM cells
)
SELECT s.n_1, s.n_2, t.o1 AS observed_1,
       CAST(t.o_tot - t.o1 AS BIGINT) AS observed_2,
       CAST(t.e1 AS DOUBLE) AS expected_1,
       CAST(t.v AS DOUBLE) AS variance,
       (CAST(t.o1 AS DOUBLE) - CAST(t.e1 AS DOUBLE))
         * (CAST(t.o1 AS DOUBLE) - CAST(t.e1 AS DOUBLE))
         / CAST(t.v AS DOUBLE) AS chi2
FROM sizes s CROSS JOIN terms t
"""


@REGISTRY.register("survival_logrank_segment", _LOGRANK_ORACLE)
def survival_logrank_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: does BUILDING-segment customer churn follow a
    different survival curve than the rest? The inference companion
    to the KM/Nelson-Aalen estimators — per pooled event time the
    hypergeometric O-E accumulation over group-partitioned suffix
    at-risk counts (operators/survival.py::logrank_test)."""
    from movie_rankings_spark.operators.survival import logrank_test

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("f"),
            F.max(F.col("o_orderdate").cast("date")).alias("l"),
            F.min("c_mktsegment").alias("seg"),
        )
        .persist_tracked()
    )
    horizon = per.agg(F.max("l").alias("m"))
    subj = per.crossJoin(F.broadcast(horizon)).select(
        F.datediff("l", "f").cast("long").alias("duration"),
        (F.datediff("m", "l") > 90).cast("int").alias("event"),
        (F.col("seg") == "BUILDING").cast("int").alias("g"),
    )
    return logrank_test(subj, "duration", "event", F.col("g"))


# --- r7: DFT periodogram of daily revenue -------------------------------------

_PERIODOGRAM_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), seq AS (
  SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t
  FROM daily
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(y) AS BIGINT) AS s_tot
  FROM daily
), base AS (
  SELECT t, CAST(y * tt.n_days - tt.s_tot AS DECIMAL(19,0)) AS cy,
         tt.n_days
  FROM seq CROSS JOIN tot tt
), angles AS (
  SELECT CAST(i.i AS BIGINT) AS idx,
         CAST(cos(6.283185307179586 * CAST(i.i AS DOUBLE)
                  / CAST(tt.n_days AS DOUBLE)) AS DECIMAL(18,9)) AS cosq,
         CAST(sin(6.283185307179586 * CAST(i.i AS DOUBLE)
                  / CAST(tt.n_days AS DOUBLE)) AS DECIMAL(18,9)) AS sinq
  FROM tot tt, LATERAL unnest(range(0, tt.n_days)) AS i(i)
), terms AS (
  SELECT ks.k, b.cy, b.n_days, a.cosq, a.sinq
  FROM base b
  CROSS JOIN (SELECT unnest(range(1, 13)) AS k) ks
  JOIN angles a ON a.idx = (ks.k * b.t) % b.n_days
), sums AS (
  SELECT k, MIN(n_days) AS n_days,
         CAST(SUM(CAST(cy * cosq AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS ca,
         CAST(SUM(CAST(cy * sinq AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS sa
  FROM terms GROUP BY 1
)
-- VARCHAR-mediated double casts: the int128-backed DECIMAL(38,9)
-- sums exceed 2^53 scaled; DuckDB's direct cast double-rounds
-- (see _COV_ORACLE note)
SELECT CAST(k AS INTEGER) AS k, n_days,
       CAST(n_days AS DOUBLE) / CAST(k AS DOUBLE) AS period,
       CAST(CAST(ca AS VARCHAR) AS DOUBLE) AS cos_sum,
       CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sin_sum,
       CAST(CAST(ca AS VARCHAR) AS DOUBLE) * CAST(CAST(ca AS VARCHAR) AS DOUBLE)
       + CAST(CAST(sa AS VARCHAR) AS DOUBLE) * CAST(CAST(sa AS VARCHAR) AS DOUBLE)
         AS power
FROM sums ORDER BY k
"""


@REGISTRY.register("periodogram_daily_revenue", _PERIODOGRAM_ORACLE)
def periodogram_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT periodogram of daily revenue at harmonics k = 1..12 —
    WHICH cycle dominates, before seasonal_decompose_revenue assumes
    the weekly one. N-row quantized angle table joined on (k·t) mod N
    — N cos evaluations total, exact-decimal term sums
    (operators/timeseries.py::periodogram_daily)."""
    from movie_rankings_spark.operators.timeseries import periodogram_daily

    return periodogram_daily(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)),
        n_freqs=12,
    )


# --- r7: degree assortativity of the co-purchase graph ------------------------

_ASSORT_ORACLE = """
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
  GROUP BY 1
), stubs AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), j AS (
  SELECT du.d AS du, dv.d AS dv
  FROM stubs s
  JOIN deg du ON du.node = s.u
  JOIN deg dv ON dv.node = s.v
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_stubs,
         CAST(SUM(CAST(du AS HUGEINT)) AS HUGEINT) AS sum_d,
         CAST(SUM(CAST(du AS HUGEINT) * du) AS HUGEINT) AS sum_dsq,
         CAST(SUM(CAST(du AS HUGEINT) * dv) AS HUGEINT) AS sum_prod
  FROM j
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       CAST(m.n_stubs / 2 AS BIGINT) AS n_edges,
       m.n_stubs,
       CAST(m.sum_d AS BIGINT) AS sum_d,
       CAST(m.sum_dsq AS BIGINT) AS sum_dsq,
       CAST(m.sum_prod AS BIGINT) AS sum_prod,
       (CAST(m.n_stubs AS DOUBLE) * CAST(m.sum_prod AS DOUBLE)
        - CAST(m.sum_d AS DOUBLE) * CAST(m.sum_d AS DOUBLE))
       / (CAST(m.n_stubs AS DOUBLE) * CAST(m.sum_dsq AS DOUBLE)
          - CAST(m.sum_d AS DOUBLE) * CAST(m.sum_d AS DOUBLE))
         AS assortativity
FROM m CROSS JOIN nn
"""


@REGISTRY.register("assortativity_copurchase", _ASSORT_ORACLE)
def assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — do popular
    parts co-sell with other popular parts (r > 0) or anchor long-
    tail baskets (r < 0)? The one-number mixing summary next to the
    clustering tier, same exact-moment discipline
    (operators/triangles.py::degree_assortativity)."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import copurchase_edges
    from movie_rankings_spark.operators.triangles import (
        degree_assortativity,
        undirected_edges,
    )

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return degree_assortativity(undirected_edges(edges))


# --- r7: Cronbach's alpha over the quality-signal scale -----------------------

_CRONBACH_ORACLE = """
WITH r AS (
  SELECT CAST(n_chars AS BIGINT) AS v0,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS v1,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v2
  FROM documents
), w AS (SELECT v0, v1, v2, v0 + v1 + v2 AS x FROM r), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v0 AS HUGEINT)) AS HUGEINT) AS s0,
         CAST(SUM(CAST(v0 AS HUGEINT) * v0) AS HUGEINT) AS ss0,
         CAST(SUM(CAST(v1 AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(v1 AS HUGEINT) * v1) AS HUGEINT) AS ss1,
         CAST(SUM(CAST(v2 AS HUGEINT)) AS HUGEINT) AS s2,
         CAST(SUM(CAST(v2 AS HUGEINT) * v2) AS HUGEINT) AS ss2,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM w
), v AS (
  SELECT n,
         CAST(CAST(n * ss0 - s0 * s0 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
              AS DECIMAL(28,6)) AS var0,
         CAST(CAST(n * ss1 - s1 * s1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
              AS DECIMAL(28,6)) AS var1,
         CAST(CAST(n * ss2 - s2 * s2 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
              AS DECIMAL(28,6)) AS var2,
         CAST(n * sxx - sx * sx AS DOUBLE)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS tv
  FROM m
)
SELECT n AS n_subjects, CAST(3 AS BIGINT) AS k_items,
       CAST(var0 + var1 + var2 AS DOUBLE) AS sum_item_var,
       tv AS total_var,
       1.5 * (1.0 - CAST(var0 + var1 + var2 AS DOUBLE) / tv) AS alpha
FROM v
"""


@REGISTRY.register("cronbach_quality_signals", _CRONBACH_ORACLE)
def cronbach_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α over the three RAW quality signals (chars,
    spaces, tokens) whose thresholded versions the rater family
    tests: do they measure one underlying "document size" construct
    tightly enough to average into a single score?
    (operators/disttests.py::cronbach_alpha)."""
    from movie_rankings_spark.operators.disttests import cronbach_alpha

    docs = _t(spark, sf_dir, "documents")
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return cronbach_alpha(
        docs,
        [
            F.col("n_chars"),
            spaces,
            F.size(F.split(F.col("text"), " ")),
        ],
    )


# --- r7: SMD covariate balance + Page's trend test ----------------------------

_SMD_ORACLE = """
WITH per AS (
  SELECT o.o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend,
         CAST(datediff('day', MIN(o.o_orderdate), MAX(o.o_orderdate))
              AS BIGINT) AS active_days,
         CASE WHEN MIN(c.c_mktsegment) = 'BUILDING' THEN 1 ELSE 0 END AS t
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), stacked AS (
  SELECT t, 'active_days' AS covariate, active_days AS v FROM per
  UNION ALL SELECT t, 'n_orders', n_orders FROM per
  UNION ALL SELECT t, 'spend_cents', spend FROM per
), m AS (
  SELECT covariate,
         CAST(SUM(t) AS BIGINT) AS nt,
         CAST(SUM(1 - t) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN t = 1 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS st,
         CAST(SUM(CASE WHEN t = 0 THEN CAST(v AS HUGEINT) ELSE 0 END)
              AS HUGEINT) AS sc,
         CAST(SUM(CASE WHEN t = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS sst,
         CAST(SUM(CASE WHEN t = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS HUGEINT) AS ssc
  FROM stacked GROUP BY 1
), d AS (
  SELECT covariate, nt, nc,
         CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_t,
         CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS mean_c,
         CAST(nt * sst - st * st AS DOUBLE)
           / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)) AS var_t,
         CAST(nc * ssc - sc * sc AS DOUBLE)
           / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) AS var_c
  FROM m
)
SELECT covariate, nt AS n_t, nc AS n_c, mean_t, mean_c, var_t, var_c,
       (mean_t - mean_c) / sqrt((var_t + var_c) / 2.0) AS smd
FROM d ORDER BY covariate
"""


@REGISTRY.register("smd_balance_segment", _SMD_ORACLE)
def smd_balance_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate balance screen for the BUILDING-vs-rest customer
    contrast the survival/causal queries difference: standardized
    mean differences of order count, spend, and active days — |SMD|
    > 0.1 says stratify before attributing outcome gaps to segment
    (operators/causal.py::smd_balance)."""
    from movie_rankings_spark.operators.causal import smd_balance

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("spend"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            )
            .cast("long")
            .alias("active_days"),
            F.min("c_mktsegment").alias("seg"),
        )
    )
    return smd_balance(
        per,
        (F.col("seg") == "BUILDING").cast("int"),
        {
            "active_days": F.col("active_days"),
            "n_orders": F.col("n_orders"),
            "spend_cents": F.col("spend"),
        },
    )


_PAGE_ORACLE = """
WITH cells AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS blk,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1, 2
), kk AS (SELECT CAST(COUNT(DISTINCT j) AS BIGINT) AS kt FROM cells),
full_b AS (
  SELECT blk FROM cells GROUP BY 1
  HAVING COUNT(*) = (SELECT kt FROM kk)
), kept AS (
  SELECT c.* FROM cells c JOIN full_b USING (blk)
), ranked AS (
  SELECT blk, j,
         CAST(2 * RANK() OVER (PARTITION BY blk ORDER BY y)
              + COUNT(*) OVER (PARTITION BY blk, y) - 1 AS BIGINT) AS r2
  FROM kept
), m AS (
  SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks,
         CAST(SUM(j * r2) AS BIGINT) AS l2
  FROM ranked
)
SELECT m.n_blocks, kk.kt AS k_treatments, m.l2 AS l2_stat,
       CAST(m.l2 AS DOUBLE) / 2.0 AS l_stat,
       CAST(m.n_blocks AS DOUBLE)
         * (CAST(kk.kt AS DOUBLE) * (CAST(kk.kt AS DOUBLE) + 1.0)
            * (CAST(kk.kt AS DOUBLE) + 1.0) / 4.0) AS e_l,
       CAST(m.n_blocks AS DOUBLE)
         * (CAST(kk.kt AS DOUBLE) * CAST(kk.kt AS DOUBLE)
            * (CAST(kk.kt AS DOUBLE) + 1.0) * (CAST(kk.kt AS DOUBLE) + 1.0)
            * (CAST(kk.kt AS DOUBLE) - 1.0) / 144.0) AS var_l,
       (CAST(m.l2 AS DOUBLE) / 2.0
        - CAST(m.n_blocks AS DOUBLE)
          * (CAST(kk.kt AS DOUBLE) * (CAST(kk.kt AS DOUBLE) + 1.0)
             * (CAST(kk.kt AS DOUBLE) + 1.0) / 4.0))
       / sqrt(CAST(m.n_blocks AS DOUBLE)
              * (CAST(kk.kt AS DOUBLE) * CAST(kk.kt AS DOUBLE)
                 * (CAST(kk.kt AS DOUBLE) + 1.0)
                 * (CAST(kk.kt AS DOUBLE) + 1.0)
                 * (CAST(kk.kt AS DOUBLE) - 1.0) / 144.0)) AS z
FROM m CROSS JOIN kk
"""


@REGISTRY.register("page_trend_price_priority", _PAGE_ORACLE)
def page_trend_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L: does mean order price trend MONOTONICALLY across
    the 1→5 priority ordering, consistently month over month? The
    ordered alternative to friedman_price_month_priority's omnibus
    χ² on the same (month, priority) cells
    (operators/disttests.py::page_trend_test)."""
    from movie_rankings_spark.operators.disttests import page_trend_test

    cells = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("j"),
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("y")
        )
    )
    return page_trend_test(cells, F.col("blk"), F.col("j"), F.col("y"))


# --- r7: ordinal association / uncertainty coefficient -------------------------

_ORDINAL_ORACLE = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), cd AS (
  SELECT CAST(SUM(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
           AS discordant
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS tie2_x,
         CAST(SUM(t) AS BIGINT) AS n_rows
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS tie2_y
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)
), tb AS (
  SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS tie2_both FROM cells
), j AS (
  SELECT * FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN tb
)
SELECT n_rows, concordant, discordant,
       CAST((tie2_x - tie2_both) / 2 AS BIGINT) AS ties_x_only,
       CAST((tie2_y - tie2_both) / 2 AS BIGINT) AS ties_y_only,
       CAST(tie2_both / 2 AS BIGINT) AS ties_both,
       (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
         / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)) AS gamma,
       (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
         / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
            + CAST(tie2_y - tie2_both AS DOUBLE) / 2.0) AS somers_d_yx,
       (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
         / (CAST(concordant AS DOUBLE) + CAST(discordant AS DOUBLE)
            + CAST(tie2_x - tie2_both AS DOUBLE) / 2.0) AS somers_d_xy,
       2.0 * (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
         / (sqrt(CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie2_x
                      AS DOUBLE))
            * sqrt(CAST(CAST(n_rows AS HUGEINT) * (n_rows - 1) - tie2_y
                        AS DOUBLE))) AS tau_b
FROM j
"""


@REGISTRY.register("ordinal_gamma_qty_discount", _ORDINAL_ORACLE)
def ordinal_gamma_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do bigger line quantities get bigger discounts? Goodman-
    Kruskal gamma + both Somers' D directions + tau-b over the
    (quantity, discount%) cell table — the full concordance readout
    whose tie spread diagnoses the heavy-tie ordinal pair
    (operators/disttests.py::ordinal_association)."""
    from movie_rankings_spark.operators.disttests import ordinal_association

    return ordinal_association(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_quantity"),
        F.round(F.col("l_discount") * 100),
    )


_UNCERTAINTY_ORACLE = """
WITH j AS (
  SELECT o.o_orderpriority AS a, c.c_mktsegment AS b
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderpriority IS NOT NULL AND c.c_mktsegment IS NOT NULL
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM j GROUP BY 1, 2
), rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS t FROM cells GROUP BY 1),
ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS t FROM cells GROUP BY 1),
g AS (SELECT CAST(SUM(o) AS BIGINT) AS n_obs FROM cells),
hr AS (
  SELECT CAST(SUM(CAST(CAST(t AS DECIMAL(19,0))
           * CAST(round(ln(CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT)
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_tln,
         CAST(COUNT(*) AS BIGINT) AS levels
  FROM rt
), hc AS (
  SELECT CAST(SUM(CAST(CAST(t AS DECIMAL(19,0))
           * CAST(round(ln(CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT)
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_tln,
         CAST(COUNT(*) AS BIGINT) AS levels
  FROM ct
), mi AS (
  SELECT CAST(SUM(CAST(CAST(c.o AS DECIMAL(19,0))
           * CAST(round(ln(CAST(c.o AS DOUBLE) * CAST(g.n_obs AS DOUBLE)
                           / (CAST(r.t AS DOUBLE) * CAST(t2.t AS DOUBLE)))
                        * 1000000000.0) AS BIGINT)
           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS mi_num
  FROM cells c JOIN rt r USING (a) JOIN ct t2 USING (b) CROSS JOIN g
), f AS (
  SELECT g.n_obs, hr.levels AS r_levels, hc.levels AS c_levels,
         CAST(CAST(g.n_obs AS DECIMAL(19,0))
              * CAST(round(ln(CAST(g.n_obs AS DOUBLE)) * 1000000000.0)
                     AS BIGINT) AS DECIMAL(38,0)) - hr.s_tln AS hr_num,
         CAST(CAST(g.n_obs AS DECIMAL(19,0))
              * CAST(round(ln(CAST(g.n_obs AS DOUBLE)) * 1000000000.0)
                     AS BIGINT) AS DECIMAL(38,0)) - hc.s_tln AS hc_num,
         mi.mi_num
  FROM g CROSS JOIN hr CROSS JOIN hc CROSS JOIN mi
)
SELECT n_obs, r_levels, c_levels,
       CAST(hr_num AS DOUBLE)
         / (CAST(n_obs AS DOUBLE) * 1000000000.0) AS h_row,
       CAST(hc_num AS DOUBLE)
         / (CAST(n_obs AS DOUBLE) * 1000000000.0) AS h_col,
       CAST(mi_num AS DOUBLE)
         / (CAST(n_obs AS DOUBLE) * 1000000000.0) AS mi_nats,
       CAST(mi_num AS DOUBLE) / CAST(hr_num AS DOUBLE) AS u_row_given_col,
       CAST(mi_num AS DOUBLE) / CAST(hc_num AS DOUBLE) AS u_col_given_row,
       2.0 * CAST(mi_num AS DOUBLE) / CAST(hr_num + hc_num AS DOUBLE)
         AS u_symmetric
FROM f
"""


@REGISTRY.register("uncertainty_priority_segment", _UNCERTAINTY_ORACLE)
def uncertainty_priority_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil's uncertainty coefficient between order priority and the
    customer's market segment — the ASYMMETRIC association readout
    next to cramersv_priority_segment's symmetric V: U(A|B) says how
    much of priority's entropy segment removes, and vice versa —
    fixed-point q9 entropy arithmetic, exact-integer ratios
    (operators/infotheory.py::uncertainty_coefficient)."""
    from movie_rankings_spark.operators.infotheory import (
        uncertainty_coefficient,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return uncertainty_coefficient(joined, "o_orderpriority", "c_mktsegment")


# --- r7: Poisson rate contrast + Gumbel tail fit ------------------------------

_POISSON_ORACLE = """
WITH e AS (
  SELECT CASE WHEN (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    % 7) IN (2, 3) THEN 1 ELSE 0 END AS wkend
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT CAST(SUM(wkend) AS BIGINT) AS ka,
         CAST(SUM(1 - wkend) AS BIGINT) AS kb
  FROM e
)
SELECT ka AS k_a, kb AS k_b, 2.0 AS exposure_a, 5.0 AS exposure_b,
       CAST(ka AS DOUBLE) / 2.0 AS rate_a,
       CAST(kb AS DOUBLE) / 5.0 AS rate_b,
       (CAST(ka AS DOUBLE) / 2.0) / (CAST(kb AS DOUBLE) / 5.0) AS rate_ratio,
       (CAST(ka AS DOUBLE) / 2.0 - CAST(kb AS DOUBLE) / 5.0)
         / sqrt(CAST(ka AS DOUBLE) / 4.0 + CAST(kb AS DOUBLE) / 25.0)
         AS z_wald,
       (CAST(ka AS DOUBLE)
        - (CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE)) * 0.2857142857142857)
         / sqrt((CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE))
                * 0.20408163265306123) AS z_binomial
FROM m
"""


@REGISTRY.register("poisson_rate_weekend_purchases", _POISSON_ORACLE)
def poisson_rate_weekend_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Do purchases arrive at a different per-slot rate on weekends
    (2 weekly slots) than weekdays (5)? Wald and conditional-binomial
    z on the two exact counts — epoch-anchored weekend indicator
    (days-since-1970 mod 7 ∈ {2,3} = Sat/Sun), exposure literals
    injected identically into engine and oracle
    (operators/disttests.py::poisson_rate_test)."""
    from movie_rankings_spark.operators.disttests import poisson_rate_test

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pos = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) % 7
    wkend = pos.isin(2, 3).cast("int")
    return poisson_rate_test(
        ev, wkend, (F.lit(1) - wkend).cast("int"), 2.0, 5.0
    )


_GUMBEL_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), mx AS (
  SELECT strftime(d, '%Y-%m') AS blk, CAST(MAX(y) AS BIGINT) AS m
  FROM daily GROUP BY 1
), mm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS ss
  FROM mx
), d AS (
  SELECT n_blocks,
         CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean,
         sqrt(CAST(n_blocks * ss - s * s AS DOUBLE)
              / (CAST(n_blocks AS DOUBLE)
                 * (CAST(n_blocks AS DOUBLE) - 1.0))) AS sd
  FROM mm
)
SELECT 0.95 AS prob, n_blocks, mean AS mean_max, sd AS sd_max,
       mean - 0.5772156649015329 * (sd * 0.779696801233676) AS gumbel_mu,
       sd * 0.779696801233676 AS gumbel_beta,
       (mean - 0.5772156649015329 * (sd * 0.779696801233676))
         - (sd * 0.779696801233676) * (-2.9701952490421637) AS return_level
FROM d
UNION ALL
SELECT 0.99, n_blocks, mean, sd,
       mean - 0.5772156649015329 * (sd * 0.779696801233676),
       sd * 0.779696801233676,
       (mean - 0.5772156649015329 * (sd * 0.779696801233676))
         - (sd * 0.779696801233676) * (-4.600149226776579)
FROM d
ORDER BY prob
"""


@REGISTRY.register("gumbel_monthly_peak_revenue", _GUMBEL_ORACLE)
def gumbel_monthly_peak_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) method-of-moments fit to monthly PEAK daily
    revenue, with 95%/99% return levels — "the daily peak a
    95%-of-months month stays under", the capacity-planning tail
    readout the bulk quantile tier can't give. All transcendental
    constants are Python literals injected into both engines
    (operators/timeseries.py::gumbel_block_maxima)."""
    from movie_rankings_spark.operators.timeseries import gumbel_block_maxima

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    return gumbel_block_maxima(
        daily,
        F.date_format("d", "yyyy-MM"),
        F.col("y"),
        return_probs=(0.95, 0.99),
    )


# --- r7: Hurst exponent (R/S) + Mahalanobis profile distance ------------------

_HURST_SIZES = (8, 16, 32, 64)
#: e0 suffix forces a DOUBLE literal: DuckDB parses bare 16-digit
#: literals as DECIMAL, whose decimal->double conversion is off by an
#: ulp from the correctly-rounded text parse (observed on ln(16))
_HURST_LN = {
    8: "2.0794415416798357e0",
    16: "2.772588722239781e0",
    32: "3.4657359027997265e0",
    64: "4.1588830833596715e0",
}


def _hurst_size_block(s: int) -> str:
    ln_s = _HURST_LN[s]
    return f"""
  SELECT CAST({s} AS INTEGER) AS block_size,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(rs_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rs,
         {ln_s} AS ln_size,
         CAST(CAST(ln(CAST(SUM(rs_q) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9))
              AS DOUBLE) AS ln_mean_rs
  FROM (
    SELECT CAST(CAST(r_scaled AS DOUBLE)
                / sqrt(CAST(CAST(s_num AS VARCHAR) AS DOUBLE))
                AS DECIMAL(18,6)) AS rs_q
    FROM (
      SELECT b, CAST(MAX(z) - MIN(z) AS BIGINT) AS r_scaled,
             CAST({s} * MIN(ssq_b)
                  - CAST(MIN(sum_b) AS HUGEINT) * MIN(sum_b) AS HUGEINT)
               AS s_num
      FROM (
        SELECT b,
               CAST(prefix * {s} - i * sum_b AS BIGINT) AS z,
               sum_b, ssq_b
        FROM (
          SELECT b, i,
                 CAST(SUM(y) OVER (PARTITION BY b ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS prefix,
                 CAST(SUM(y) OVER (PARTITION BY b) AS BIGINT) AS sum_b,
                 CAST(SUM(CAST(y AS HUGEINT) * y) OVER (PARTITION BY b)
                      AS HUGEINT) AS ssq_b,
                 y, t
          FROM (
            SELECT t, y,
                   CAST(FLOOR(CAST(t AS DOUBLE) / {s}) AS BIGINT) AS b,
                   CAST(t % {s} + 1 AS BIGINT) AS i
            FROM seq CROSS JOIN tot
            WHERE CAST(FLOOR(CAST(t AS DOUBLE) / {s}) AS BIGINT)
                  < CAST(FLOOR(CAST(n AS DOUBLE) / {s}) AS BIGINT)
          )
        )
      ) GROUP BY b
    ) WHERE CAST(CAST(s_num AS VARCHAR) AS DOUBLE) > 0
  )
"""


_HURST_ORACLE = (
    """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), seq AS (
  SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t
  FROM daily
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
per_size AS (
"""
    + "\n  UNION ALL\n".join(_hurst_size_block(s) for s in _HURST_SIZES)
    + """
), fit AS (
  SELECT CAST(SUM(CAST(ln_mean_rs AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS sy,
         CAST(SUM(CAST(ln_size * ln_mean_rs AS DECIMAL(28,12)))
              AS DECIMAL(38,12)) AS sxy
  FROM per_size
)
SELECT p.block_size, p.n_blocks, p.mean_rs, p.ln_size, p.ln_mean_rs,
       (4.0 * CAST(f.sxy AS DOUBLE)
        - 12.476649250079014e0 * CAST(f.sy AS DOUBLE))
         / 9.609060278364012e0 AS hurst
FROM per_size p CROSS JOIN fit f
ORDER BY p.block_size
"""
)


@REGISTRY.register("hurst_daily_revenue", _HURST_ORACLE)
def hurst_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by rescaled-range analysis
    over block sizes 8/16/32/64 — does revenue trend persist
    (H > 0.5) or mean-revert (H < 0.5)? The long-memory diagnostic
    the per-lag ACF doesn't summarize; s-scaled exact-integer
    deviations, the s cancels in R/S, Python-literal regressors
    (operators/timeseries.py::hurst_rs)."""
    from movie_rankings_spark.operators.timeseries import hurst_rs

    return hurst_rs(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        F.round(F.col("o_totalprice") * F.lit(100)),
        block_sizes=(8, 16, 32, 64),
    )


_MAHAL_ORACLE = """
WITH per AS (
  SELECT o.o_custkey,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend,
         CAST(datediff('day', MIN(o.o_orderdate), MAX(o.o_orderdate))
              AS BIGINT) AS active_days,
         CASE WHEN MIN(c.c_mktsegment) = 'BUILDING' THEN 1 ELSE 0 END AS t
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), m AS (
  SELECT
    CAST(SUM(t) AS BIGINT) AS nt, CAST(SUM(1 - t) AS BIGINT) AS nc,
    CAST(SUM(CASE WHEN t = 1 THEN CAST(spend AS HUGEINT) ELSE 0 END)
         AS HUGEINT) AS sat,
    CAST(SUM(CASE WHEN t = 1 THEN CAST(active_days AS HUGEINT) ELSE 0 END)
         AS HUGEINT) AS sbt,
    CAST(SUM(CASE WHEN t = 1 THEN CAST(spend AS HUGEINT) * spend
             ELSE 0 END) AS HUGEINT) AS saat,
    CAST(SUM(CASE WHEN t = 1 THEN CAST(active_days AS HUGEINT) * active_days
             ELSE 0 END) AS HUGEINT) AS sbbt,
    CAST(SUM(CASE WHEN t = 1 THEN CAST(spend AS HUGEINT) * active_days
             ELSE 0 END) AS HUGEINT) AS sabt,
    CAST(SUM(CASE WHEN t = 0 THEN CAST(spend AS HUGEINT) ELSE 0 END)
         AS HUGEINT) AS sac,
    CAST(SUM(CASE WHEN t = 0 THEN CAST(active_days AS HUGEINT) ELSE 0 END)
         AS HUGEINT) AS sbc,
    CAST(SUM(CASE WHEN t = 0 THEN CAST(spend AS HUGEINT) * spend
             ELSE 0 END) AS HUGEINT) AS saac,
    CAST(SUM(CASE WHEN t = 0 THEN CAST(active_days AS HUGEINT) * active_days
             ELSE 0 END) AS HUGEINT) AS sbbc,
    CAST(SUM(CASE WHEN t = 0 THEN CAST(spend AS HUGEINT) * active_days
             ELSE 0 END) AS HUGEINT) AS sabc
  FROM per
), d AS (
  SELECT nt, nc,
         CAST(sat AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(sac AS DOUBLE) / CAST(nc AS DOUBLE) AS da,
         CAST(sbt AS DOUBLE) / CAST(nt AS DOUBLE)
           - CAST(sbc AS DOUBLE) / CAST(nc AS DOUBLE) AS db,
         CAST(CAST(nt * saat - sat * sat AS VARCHAR) AS DOUBLE)
           / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)) AS vat,
         CAST(CAST(nt * sbbt - sbt * sbt AS VARCHAR) AS DOUBLE)
           / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)) AS vbt,
         CAST(CAST(nt * sabt - sat * sbt AS VARCHAR) AS DOUBLE)
           / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)) AS cabt,
         CAST(CAST(nc * saac - sac * sac AS VARCHAR) AS DOUBLE)
           / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) AS vac,
         CAST(CAST(nc * sbbc - sbc * sbc AS VARCHAR) AS DOUBLE)
           / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) AS vbc,
         CAST(CAST(nc * sabc - sac * sbc AS VARCHAR) AS DOUBLE)
           / (CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0)) AS cabc
  FROM m
), p AS (
  SELECT nt, nc, da, db,
         ((CAST(nt AS DOUBLE) - 1.0) * vat
          + (CAST(nc AS DOUBLE) - 1.0) * vac)
           / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0) AS p_va,
         ((CAST(nt AS DOUBLE) - 1.0) * vbt
          + (CAST(nc AS DOUBLE) - 1.0) * vbc)
           / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0) AS p_vb,
         ((CAST(nt AS DOUBLE) - 1.0) * cabt
          + (CAST(nc AS DOUBLE) - 1.0) * cabc)
           / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0) AS p_cab
  FROM d
)
SELECT nt AS n_t, nc AS n_c, da AS delta_a, db AS delta_b,
       p_va AS pooled_var_a, p_vb AS pooled_var_b,
       p_cab AS pooled_cov_ab,
       (p_vb * da * da - 2.0 * p_cab * da * db + p_va * db * db)
         / (p_va * p_vb - p_cab * p_cab) AS d2,
       sqrt((p_vb * da * da - 2.0 * p_cab * da * db + p_va * db * db)
            / (p_va * p_vb - p_cab * p_cab)) AS d
FROM p
"""


@REGISTRY.register("mahalanobis_segment_profile", _MAHAL_ORACLE)
def mahalanobis_segment_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mahalanobis distance between BUILDING-segment and other
    customers over the joint (spend, active-days) profile — the
    correlation-aware upgrade of smd_balance_segment's marginal
    screens, closed-form 2x2 pooled-covariance inverse
    (operators/causal.py::mahalanobis_2d)."""
    from movie_rankings_spark.operators.causal import mahalanobis_2d

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100)).cast("long"))
            .cast("long")
            .alias("spend"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            )
            .cast("long")
            .alias("active_days"),
            F.min("c_mktsegment").alias("seg"),
        )
    )
    return mahalanobis_2d(
        per,
        (F.col("seg") == "BUILDING").cast("int"),
        F.col("spend"),
        F.col("active_days"),
    )


# --- r7: Yuen trimmed test, Fano burstiness, Atkinson index -------------------

_YUEN_ORACLE = """
WITH r AS (
  SELECT CAST(n_chars AS BIGINT) AS v,
         CASE WHEN CAST(substr(source, 4, 10) AS BIGINT) % 2 = 0
              THEN 1 ELSE 0 END AS a
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
), cells AS (
  SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(1 - a) AS BIGINT) AS cb
  FROM r GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM cells
), cum AS (
  SELECT v, ca, cb,
         CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
         t.na, t.nb,
         CAST(FLOOR(CAST(t.na AS DOUBLE) * 0.2) AS BIGINT) AS ga,
         CAST(FLOOR(CAST(t.nb AS DOUBLE) * 0.2) AS BIGINT) AS gb
  FROM cells CROSS JOIN tot t
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), m AS (
  SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(ga) AS g_a, MAX(gb) AS g_b,
         CAST(SUM(CAST(v AS HUGEINT) * greatest(0,
              least(cuma, na - ga) - greatest(cuma - ca, ga)))
              AS HUGEINT) AS ts_a,
         CAST(SUM(CAST(v AS HUGEINT) * v * greatest(0,
              least(cuma, na - ga) - greatest(cuma - ca, ga)))
              AS HUGEINT) AS tss_a,
         MIN(CASE WHEN cuma >= ga + 1 THEN v END) AS vlo_a,
         MIN(CASE WHEN cuma >= na - ga THEN v END) AS vhi_a,
         CAST(SUM(CAST(v AS HUGEINT) * greatest(0,
              least(cumb, nb - gb) - greatest(cumb - cb, gb)))
              AS HUGEINT) AS ts_b,
         CAST(SUM(CAST(v AS HUGEINT) * v * greatest(0,
              least(cumb, nb - gb) - greatest(cumb - cb, gb)))
              AS HUGEINT) AS tss_b,
         MIN(CASE WHEN cumb >= gb + 1 THEN v END) AS vlo_b,
         MIN(CASE WHEN cumb >= nb - gb THEN v END) AS vhi_b
  FROM cum
), s AS (
  SELECT n_a, n_b, g_a, g_b,
         CAST(n_a - 2 * g_a AS DOUBLE) AS ha,
         CAST(n_b - 2 * g_b AS DOUBLE) AS hb,
         CAST(ts_a AS DOUBLE) / CAST(n_a - 2 * g_a AS DOUBLE) AS tma,
         CAST(ts_b AS DOUBLE) / CAST(n_b - 2 * g_b AS DOUBLE) AS tmb,
         CAST(ts_a AS DOUBLE) + CAST(g_a AS DOUBLE) * CAST(vlo_a AS DOUBLE)
           + CAST(g_a AS DOUBLE) * CAST(vhi_a AS DOUBLE) AS wsa,
         CAST(tss_a AS DOUBLE)
           + CAST(g_a AS DOUBLE) * CAST(vlo_a AS DOUBLE)
             * CAST(vlo_a AS DOUBLE)
           + CAST(g_a AS DOUBLE) * CAST(vhi_a AS DOUBLE)
             * CAST(vhi_a AS DOUBLE) AS wssa,
         CAST(ts_b AS DOUBLE) + CAST(g_b AS DOUBLE) * CAST(vlo_b AS DOUBLE)
           + CAST(g_b AS DOUBLE) * CAST(vhi_b AS DOUBLE) AS wsb,
         CAST(tss_b AS DOUBLE)
           + CAST(g_b AS DOUBLE) * CAST(vlo_b AS DOUBLE)
             * CAST(vlo_b AS DOUBLE)
           + CAST(g_b AS DOUBLE) * CAST(vhi_b AS DOUBLE)
             * CAST(vhi_b AS DOUBLE) AS wssb
  FROM m
), s2 AS (
  SELECT *,
         (CAST(n_a AS DOUBLE) * wssa - wsa * wsa)
           / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) AS s2wa,
         (CAST(n_b AS DOUBLE) * wssb - wsb * wsb)
           / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) AS s2wb
  FROM s
), s3 AS (
  SELECT *,
         ((CAST(n_a AS DOUBLE) - 1.0) * s2wa) / (ha * (ha - 1.0)) AS da,
         ((CAST(n_b AS DOUBLE) - 1.0) * s2wb) / (hb * (hb - 1.0)) AS db
  FROM s2
)
SELECT n_a, n_b, g_a, g_b, tma AS trimmed_mean_a, tmb AS trimmed_mean_b,
       s2wa AS winsor_var_a, s2wb AS winsor_var_b,
       (tma - tmb) / sqrt(da + db) AS t_stat,
       ((da + db) * (da + db))
         / (da * da / (ha - 1.0) + db * db / (hb - 1.0)) AS df
FROM s3
"""


@REGISTRY.register("yuen_trimmed_doclen", _YUEN_ORACLE)
def yuen_trimmed_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yuen's 20%-trimmed-mean test of document length between even-
    and odd-numbered sources — the robust location contrast between
    welch (means) and MWU (ranks): winsorized variances keep heavy
    tails from driving the verdict, all trimmed/winsorized sums
    exact integer arithmetic over the bounded length-cell table
    (operators/disttests.py::yuen_trimmed_test)."""
    from movie_rankings_spark.operators.disttests import yuen_trimmed_test

    docs = _t(spark, sf_dir, "documents")
    even = (
        F.substring("source", 4, 10).cast("long") % 2 == 0
    ).cast("int")
    return yuen_trimmed_test(
        docs, F.col("n_chars"), even, (F.lit(1) - even).cast("int"), 0.2
    )


_FANO_ORACLE = """
WITH daily AS (
  SELECT user_id AS k, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS tot,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY 1 HAVING COUNT(*) >= 5
), s AS (
  SELECT k AS key, n_days, tot AS total_events,
         CAST(tot AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
         CAST(n_days * ss - tot * tot AS DOUBLE)
           / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0))
           AS var_daily
  FROM m
)
SELECT key, n_days, total_events, mean_daily, var_daily,
       var_daily / mean_daily AS fano
FROM s ORDER BY fano DESC, key ASC LIMIT 20
"""


@REGISTRY.register("fano_burstiness_users", _FANO_ORACLE)
def fano_burstiness_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 burstiest users by the Fano factor of their daily event
    counts (>= 5 active days) — Poisson-like ~= 1, bursty >> 1: the
    arrival-process bot/campaign screen the volume totals hide
    (operators/timeseries.py::fano_burstiness)."""
    from movie_rankings_spark.operators.timeseries import fano_burstiness

    return fano_burstiness(
        _t(spark, sf_dir, "events"), "user_id", "ts", min_days=5, top_k=20
    )


_ATKINSON_ORACLE = """
WITH per AS (
  SELECT l_suppkey AS k,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM lineitem GROUP BY 1
), pos AS (SELECT * FROM per WHERE x > 0),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS xs,
         CAST(SUM(CAST(round(ln(CAST(x AS DOUBLE)) * 1000000000.0)
                       AS BIGINT)) AS HUGEINT) AS s_ln
  FROM pos
), d AS (
  SELECT n_keys, xs,
         CAST(xs AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_cents,
         CAST(s_ln AS DOUBLE)
           / (CAST(n_keys AS DOUBLE) * 1000000000.0) AS log_gm
  FROM m
)
SELECT n_keys, CAST(xs AS BIGINT) AS total_cents, mean_cents, log_gm,
       CAST(CAST(FLOOR(exp(log_gm)) AS BIGINT) AS DOUBLE) AS geo_mean,
       1.0 - CAST(CAST(FLOOR(exp(log_gm)) AS BIGINT) AS DOUBLE) / mean_cents
         AS atkinson
FROM d
"""


@REGISTRY.register("atkinson_supplier_revenue", _ATKINSON_ORACLE)
def atkinson_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality (epsilon = 1) of revenue across suppliers
    — the welfare-weighted member of the inequality family next to
    the Gini/Lorenz and HHI/Theil views: most sensitive to the
    starving tail. q9 fixed-point logs, whole-cent floor-quantized
    geometric mean (operators/statistics.py::atkinson_index)."""
    from movie_rankings_spark.operators.statistics import atkinson_index

    return atkinson_index(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_suppkey"),
        F.round(F.col("l_extendedprice") * F.lit(100)),
    )
