"""Relational tier, extension set — wider TPC-H-style coverage plus
set operations, CUBE/GROUPING SETS, and the as-of join operator.

Same determinism contract as relational_queries.py: exact-decimal
sums, no raw timestamps in outputs, unique ORDER BY tie-breakers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.operators.asof import asof_join
from movie_rankings_spark.operators.rangejoin import lookback_range_join
from movie_rankings_spark.plans.registry import REGISTRY
from movie_rankings_spark.plans.relational_queries import _dsum, _revenue


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    return load_table(spark, sf_dir, name, fanout=fanout)


# --- §2h arithmetic + filter-only aggregate (TPC-H Q6 shape) ---------------

_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue_change,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@REGISTRY.register("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-side query: all three predicates and the 3-column
    projection push into the parquet reader; the aggregate is a
    partial+final sum with a single-row shuffle. The 100 TB plan is
    'read the pruned column chunks, add' — nothing else."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue_change"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- J2/T2: returned-item reporting (TPC-H Q10 shape) ----------------------

_Q10_ORACLE = """
SELECT c.c_custkey, ANY_VALUE(c.c_name) AS c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       ANY_VALUE(c.c_acctbal) AS c_acctbal,
       ANY_VALUE(n.n_name) AS nation
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c.c_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@REGISTRY.register("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join on orderkey (sort-merge at scale), customer
    and nation broadcast; single groupBy shuffle on custkey, then
    TakeOrderedAndProject for the top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey")
        .agg(
            F.first("c_name").alias("c_name"),
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.first("c_acctbal").alias("c_acctbal"),
            F.first("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --- J2: late-shipment conditional aggregate (TPC-H Q12 shape) -------------

_Q12_ORACLE = """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


@REGISTRY.register("q12_late_shipment_priority", _Q12_ORACLE)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join with a residual non-equi predicate (shipdate > orderdate)
    attached to the equi-join, then pivot-style conditional counts —
    one shuffle on orderkey, one on the 2-value group key."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )


# --- J2: promo revenue share (TPC-H Q14 shape) -----------------------------

_Q14_ORACLE = """
SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@REGISTRY.register("q14_promo_revenue", _Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join + global conditional aggregate; the
    month filter prunes the fact scan. Both sum branches stay exact
    decimal so the final double division is bit-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.sum(promo).cast("double") * 100.0 / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- J2/A: large-volume orders (TPC-H Q18 shape) ---------------------------

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, big.sum_qty
FROM big
JOIN orders o   ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""


@REGISTRY.register("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-filtered aggregate as the build side: the per-order
    quantity rollup shrinks lineitem to qualifying orderkeys before
    any join; orders joins it on the already-shuffled orderkey and
    customer broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --- A5: CUBE ---------------------------------------------------------------

_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@REGISTRY.register("cube_lineitem_flags", _CUBE_ORACLE)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE = 4-way grouping-sets expansion inside one hash aggregate;
    partial aggregation still applies, so the shuffle carries
    (4 × group-cardinality × partitions) rows, not the fact."""
    li = _t(spark, sf_dir, "lineitem", fanout=True)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# --- A5: explicit GROUPING SETS --------------------------------------------

_GSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@REGISTRY.register("grouping_sets_orders", _GSETS_ORACLE)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through Spark SQL — same Expand-based
    single-pass plan as rollup/cube, arbitrary set list. The orders
    frame is a parameter of the query, so no temp view outlives it."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST,
                 o_orderpriority ASC NULLS FIRST
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


# --- U2/set ops: INTERSECT / EXCEPT ----------------------------------------

_SETOPS_ORACLE = """
SELECT custkey FROM (
  (SELECT o_custkey AS custkey FROM orders
   WHERE year(o_orderdate) = 1995
   INTERSECT
   SELECT o_custkey FROM orders
   WHERE year(o_orderdate) = 1996)
  EXCEPT
  SELECT o_custkey FROM orders
  WHERE year(o_orderdate) = 1996 AND o_orderstatus = 'F'
)
ORDER BY custkey
"""


@REGISTRY.register("setops_repeat_customers", _SETOPS_ORACLE)
def setops_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct set algebra: customers ordering in both 1995 and 1996,
    minus those with a failed 1996 order. Catalyst plans INTERSECT /
    EXCEPT as left-semi / left-anti joins over pre-aggregated keys —
    each leg shuffles only distinct custkeys."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    in_1995 = o.filter(yr == 1995).select(F.col("o_custkey").alias("custkey"))
    in_1996 = o.filter(yr == 1996).select(F.col("o_custkey").alias("custkey"))
    failed_1996 = o.filter((yr == 1996) & (F.col("o_orderstatus") == "F")).select(
        F.col("o_custkey").alias("custkey")
    )
    return in_1995.intersect(in_1996).subtract(failed_1996).orderBy("custkey")


# --- as-of join over events -------------------------------------------------

_ASOF_ORACLE = """
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


@REGISTRY.register("asof_purchase_context", _ASOF_ORACLE)
def asof_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event: the latest strictly-earlier
    non-purchase event of the same user (LEFT ASOF JOIN — an operator
    Spark lacks; see operators/asof.py for the union+window form that
    replaces the quadratic range join). Right side deduplicated per
    (user, ts) for a defined tie winner."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    from pyspark.sql import Window

    dd = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    refs = (
        e.filter(F.col("event_type") != "purchase")
        .withColumn("_rn", F.row_number().over(dd))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )
    joined = asof_join(
        purchases,
        refs,
        keys=["user_id"],
        ts_col="ts",
        payload_cols=["event_id", "event_type", "value"],
        strict=True,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "prev_event_id",
        "prev_event_type",
        "prev_value",
    ).orderBy("event_id")


# --- J: anti join (NOT EXISTS) ---------------------------------------------

_ANTI_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1997
)
ORDER BY c.c_custkey
"""


@REGISTRY.register("antijoin_inactive_customers", _ANTI_ORACLE)
def antijoin_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS = LEFT ANTI join: the probe side streams, the build
    side is only the filtered 1997 custkeys — no row multiplication,
    no null-handling trap (vs the NOT IN anti-join which degenerates
    on nullable keys)."""
    c = _t(spark, sf_dir, "customer")
    o97 = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    return (
        c.join(o97, c["c_custkey"] == o97["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --- A: exact percentiles ---------------------------------------------------

_PCTL_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@REGISTRY.register("percentiles_lineitem_price", _PCTL_ORACLE)
def percentiles_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (sort-based within the
    aggregate). The 100 TB path is approx_percentile (t-digest sketch,
    mergeable, one pass) — exact percentile is the verifier, the same
    split as exact vs HLL distinct."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("_p"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "l_returnflag",
            F.col("_p")[0].alias("p25"),
            F.col("_p")[1].alias("p50"),
            F.col("_p")[2].alias("p75"),
            "n_lines",
        )
        .orderBy("l_returnflag")
    )


# --- P: pivot ---------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = f"""
SELECT user_id,
       {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS {t}"
                  for t in _EVENT_TYPES)}
FROM events GROUP BY user_id ORDER BY user_id
"""


@REGISTRY.register("pivot_user_event_counts", _PIVOT_ORACLE)
def pivot_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with the value list given explicitly — with
    the list, Catalyst compiles straight to one conditional aggregate
    (no extra distinct-values job, which at 100 TB would be a full
    scan before the real query)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .orderBy("user_id")
    )


# --- F3: pandas GROUPED_AGG UDAF -------------------------------------------

_UDAF_ORACLE = """
SELECT l_returnflag, median(l_extendedprice) AS price_median,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@REGISTRY.register("udaf_price_median", _UDAF_ORACLE)
def udaf_price_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate as an Arrow-batched GROUPED_AGG
    pandas_udf (numpy median per group, identical linear interpolation
    to the SQL engines). The UDAF path exists for aggregates Catalyst
    lacks; anything expressible with built-ins should never use it.
    (pd/np are module-level imports: postponed annotation evaluation
    means PySpark resolves the 'pd.Series' hint by name at UDF
    definition, so they must be in the module namespace.)"""

    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy(dtype="float64")))

    # Spark refuses to mix GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg, so the count rides the same UDF path.
    @F.pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return int(len(v))

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            median_udaf("l_extendedprice").alias("price_median"),
            count_udaf("l_extendedprice").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


# --- range join over events -------------------------------------------------

_RANGE_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
r AS (SELECT * FROM events WHERE event_type <> 'purchase')
SELECT p.event_id AS purchase_id, r.event_id AS prior_id,
       epoch_us(p.ts) - epoch_us(r.ts) AS delta_us
FROM p JOIN r ON p.user_id = r.user_id
 AND r.ts < p.ts AND p.ts - r.ts <= INTERVAL 30 MINUTES
ORDER BY purchase_id, prior_id
"""


@REGISTRY.register("rangejoin_purchase_context", _RANGE_ORACLE)
def rangejoin_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every non-purchase event within the 30 minutes before each
    purchase, via the binned equi-join form (operators/rangejoin.py) —
    linear shuffle volume where the naive interval theta-join is
    quadratic per user."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    others = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = lookback_range_join(
        purchases, others, keys=["user_id"], ts_col="ts", window_seconds=1800
    )
    return joined.select(
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("prior_id"),
        "delta_us",
    ).orderBy("purchase_id", "prior_id")


# --- interval overlap join ---------------------------------------------------

_OVERLAP_ORACLE = """
WITH v AS (SELECT event_id AS view_id, user_id, ts AS s,
                  ts + INTERVAL 2 HOURS AS e
           FROM events WHERE event_type = 'view'),
c AS (SELECT event_id AS click_id, user_id, ts AS s,
             ts + INTERVAL 2 HOURS AS e
      FROM events WHERE event_type = 'click')
SELECT v.user_id, v.view_id, c.click_id,
       epoch_us(least(v.e, c.e)) - epoch_us(greatest(v.s, c.s)) AS overlap_us
FROM v JOIN c ON v.user_id = c.user_id AND v.s <= c.e AND c.s <= v.e
ORDER BY v.user_id, view_id, click_id
"""


@REGISTRY.register("overlap_view_click_windows", _OVERLAP_ORACLE)
def overlap_view_click_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each user's 2 h view-attention windows
    paired with their overlapping 2 h click windows, via the
    bin-exploded equi-join (operators/rangejoin.py::
    interval_overlap_join) — linear shuffle volume where the naive
    overlap theta-join is a per-user nested loop."""
    from movie_rankings_spark.operators.rangejoin import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    two_h = F.expr("INTERVAL 2 HOURS")

    def windows(event_type: str, id_alias: str) -> DataFrame:
        return e.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.col("event_id").alias(id_alias),
            F.col("ts").alias("s"),
            (F.col("ts") + two_h).alias("e"),
        )

    joined = interval_overlap_join(
        windows("view", "view_id"),
        windows("click", "click_id"),
        keys=["user_id"],
        start_col="s",
        end_col="e",
        max_len_seconds=7200,
    )
    return joined.select(
        "user_id", F.col("l_view_id").alias("view_id"),
        F.col("r_click_id").alias("click_id"), "overlap_us",
    ).orderBy("user_id", "view_id", "click_id")


# --- T3: salted (skew-safe) per-group top-k --------------------------------

# identical semantics to topk_parts_per_brand, so it shares that oracle
from movie_rankings_spark.operators.topk import salted_group_topk  # noqa: E402
from movie_rankings_spark.plans.relational_queries import _TOPK_ORACLE  # noqa: E402


@REGISTRY.register("topk_parts_per_brand_salted", _TOPK_ORACLE)
def topk_parts_per_brand_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as the plain window top-k, via the two-phase salted
    form (operators/topk.py) that survives power-law group skew: phase
    one shuffles on (brand, salt), phase two only the k×buckets
    candidates per brand."""
    p = _t(spark, sf_dir, "part")
    return (
        salted_group_topk(
            p.select("p_brand", "p_partkey", "p_name", "p_retailprice"),
            group_cols=["p_brand"],
            order_by=[F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
            salt_cols=["p_partkey"],
            k=3,
        )
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
        .orderBy("p_brand", "rk")
    )


# --- §2h: from_json -> MapType + map functions -----------------------------

_MAP_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(len(json_keys(props))) AS BIGINT) AS total_keys,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
         AS sum_k
FROM events GROUP BY event_type ORDER BY event_type
"""


@REGISTRY.register("from_json_props_map", _MAP_ORACLE)
def from_json_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parsed ONCE into a map<string,int> column (from_json),
    then map functions (map_keys/element_at) — the cheaper form than
    per-field get_json_object when several fields are read, since the
    JSON is parsed once per row instead of once per extraction."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        e.select("event_type", m.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.size(F.map_keys(F.col("m")))).alias("total_keys"),
            F.sum(F.element_at(F.col("m"), "k")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


# --- A: approx percentile (sketch path) ------------------------------------

# Bounded-error oracle (r6, VERDICT r5 item 4): the sketch VALUES are
# engine-specific, but the sketch's published guarantee is not —
# percentile_approx(accuracy=A) bounds rank error by n/A. The query
# therefore emits, per group, the exact n plus one boolean per
# percentile asserting the approx value lies between the exact
# quantiles at p ± 4/A (4× slack over the published 1/A absorbs the
# rank-convention off-by-ones between the sketch's element ranks and
# interpolated quantiles). DuckDB asserts the same contract as
# literal TRUE — a hash match PROVES the bound held, turning the
# former rows-only row into a real correctness gate.
_APPROX_PCT_ORACLE = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
       TRUE AS p25_in_bound, TRUE AS p50_in_bound, TRUE AS p75_in_bound
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@REGISTRY.register("approx_percentiles_price", _APPROX_PCT_ORACLE)
def approx_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the one-pass mergeable-sketch path that
    replaces exact sort-based percentiles at 100 TB, audited against
    its own published rank-error bound (see _APPROX_PCT_ORACLE). The
    exact bounding quantiles are computed in the same aggregate — at
    audit scale that cost is the point; the production path is the
    sketch alone."""
    li = _t(spark, sf_dir, "lineitem", fanout=True)
    acc = 10_000
    slack = 4.0 / acc
    ps = [0.25, 0.5, 0.75]
    pct = F.percentile_approx("l_extendedprice", F.lit(ps), F.lit(acc))
    lo = F.percentile(
        "l_extendedprice", F.lit([max(0.0, p - slack) for p in ps])
    )
    hi = F.percentile(
        "l_extendedprice", F.lit([min(1.0, p + slack) for p in ps])
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        pct.alias("_a"),
        lo.alias("_lo"),
        hi.alias("_hi"),
    )
    in_bound = lambda i: (  # noqa: E731
        (F.col("_a")[i].cast("double") >= F.col("_lo")[i].cast("double"))
        & (F.col("_a")[i].cast("double") <= F.col("_hi")[i].cast("double"))
    )
    return g.select(
        "l_returnflag",
        "n_lines",
        in_bound(0).alias("p25_in_bound"),
        in_bound(1).alias("p50_in_bound"),
        in_bound(2).alias("p75_in_bound"),
    ).orderBy("l_returnflag")


# --- J2/scalar subquery: top supplier (TPC-H Q15 shape) --------------------

_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""


@REGISTRY.register("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (global MAX) as a broadcast single-row join —
    never a window over an empty partitioning, which would funnel the
    whole aggregate through ONE task. Revenue values are exact-decimal
    sums, so the equality against the max is bit-safe."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_revenue()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["_mx"])
        .join(F.broadcast(s), F.col("suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- J2: customer order-count distribution (TPC-H Q13 shape) ---------------

_Q13_ORACLE = """
WITH counts AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM counts GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@REGISTRY.register("q13_customer_distribution", _Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join with the filter in the join condition (a WHERE
    would silently turn it inner), double aggregation. COUNT(col)
    counts non-null only — customers with zero orders land in the
    c_count=0 bucket rather than vanishing."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    counts = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --- J2: small-quantity revenue (TPC-H Q17 shape) --------------------------

_Q17_ORACLE = """
WITH avg_qty AS (
  SELECT l_partkey, 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*)) AS threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN avg_qty a ON a.l_partkey = l.l_partkey
WHERE p.p_type = 'SMALL' AND l.l_quantity < a.threshold
"""


@REGISTRY.register("q17_small_quantity_revenue", _Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate (per-part average quantity)
    de-correlated into a join against the pre-aggregated per-part
    thresholds — the standard Catalyst rewrite, stated explicitly.
    The aggregate shrinks lineitem to one row per partkey before the
    join, and the fact joins it on the already-shuffled key. The avg
    is the exact-decimal sum / count, so the threshold comparison is
    bit-stable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (0.2 * (_dsum(F.col("l_quantity")) / F.count(F.lit(1)))).alias("threshold")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(avg_qty, li["l_partkey"] == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            (_dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- §2b: disjunctive predicate pushdown (TPC-H Q19 shape) -----------------

_Q19_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_type = 'SMALL'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_type = 'LARGE'  AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
"""


@REGISTRY.register("q19_disjunctive_revenue", _Q19_ORACLE)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides: Catalyst extracts the
    common single-side conjuncts (quantity 1-40, the size/type union)
    below the join, leaving the residual disjunction as the join
    filter — checkable in the plan, free in the API."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q, s, t = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    arm = lambda ty, smax, qlo, qhi: (  # noqa: E731
        (t == ty) & s.between(1, smax) & q.between(qlo, qhi)
    )
    cond = (
        arm("SMALL", 15, 1, 20)
        | arm("MEDIUM", 25, 10, 30)
        | arm("LARGE", 35, 20, 40)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- J2: global-average filter + anti join (TPC-H Q22 shape) ---------------

_Q22_ORACLE = """
WITH rich AS (
  SELECT c_custkey, c_acctbal, c_nationkey FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
)
SELECT r.c_nationkey AS nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(r.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM rich r
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = r.c_custkey AND year(o.o_orderdate) >= 1998
)
GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("q22_global_sales_opportunity", _Q22_ORACLE)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar AVG subquery (broadcast single-row join, never a global
    window) filters customers above the positive-balance average, then
    an anti join keeps those with no orders since 1998 (lapsed
    accounts). NOTE: the scalar
    average is float (sum order dependent) — the comparison survives
    because account balances are far from the threshold; documented
    here as the one deliberate float-compare in the suite."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("_avg")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg")
    )
    return (
        rich.join(
            o.filter(F.year("o_orderdate") >= 1998),
            rich["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


# --- batch sessionization (gap-based, the batch twin of session windows) ----

_SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 21600000000
              THEN 0 ELSE 1 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
)
SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
FROM sess GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("sessionize_events", _SESSIONIZE_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6 h) + per-session rollup: two windows
    and the aggregate all share the user_id partitioning — one shuffle
    end-to-end (asserted in plan tests)."""
    from movie_rankings_spark.operators.sessionize import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=360).orderBy(
        "user_id", "session_seq"
    )


# --- funnel analysis (ordered event-sequence conversion) --------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
  UNION ALL
  SELECT 2, 'click', COUNT(*) FROM c
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FROM p
) ORDER BY stage
"""


@REGISTRY.register("funnel_view_click_purchase", _FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel with strict event ordering; every
    stage hashes on user_id (see operators/funnel.py scale notes)."""
    from movie_rankings_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


# --- cohort retention (activity-decay matrix) -------------------------------

_COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day FROM events GROUP BY 1
), activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day
  FROM events WHERE event_type = 'purchase'
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort_day, a.act_day) AS INTEGER) AS period_offset,
       COUNT(*) AS n_users
FROM first_seen f JOIN activity a USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("cohort_retention_daily", _COHORT_ORACLE)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohorts (first event of any type) × purchase retention;
    co-partitioned on user_id end-to-end (operators/cohort.py)."""
    from movie_rankings_spark.operators.cohort import cohort_retention

    return cohort_retention(
        _t(spark, sf_dir, "events"),
        period="day",
        action_filter=F.col("event_type") == "purchase",
    )


# --- changelog compaction (CDC upsert read path) ----------------------------

_SNAPSHOT_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id, value, props,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
  FROM events
)
SELECT user_id, event_type, epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id, value AS last_value, props AS last_props,
       CAST(n_versions AS BIGINT) AS n_versions
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


@REGISTRY.register("changelog_latest_snapshot", _SNAPSHOT_ORACLE)
def changelog_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event log read as a keyed changelog, compacted to its
    latest-wins snapshot per (user_id, event_type) — the CDC upsert
    read path. max_by aggregation (operators/changelog.py), not a
    window row_number: partial agg pre-reduces map-side and nothing
    sorts, so the shuffle carries the snapshot, not the history.
    The oracle states the same argmax as the textbook row_number
    form; (ts, event_id) is a total order because event_id is unique.
    """
    from movie_rankings_spark.operators.changelog import latest_snapshot

    snap = latest_snapshot(
        _t(spark, sf_dir, "events"),
        keys=["user_id", "event_type"],
        version_cols=["ts", "event_id"],
        payload_cols=["value", "props"],
    )
    return snap.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.col("props").alias("last_props"),
        "n_versions",
    ).orderBy("user_id", "event_type")


# --- time-range rolling window ----------------------------------------------

_ROLLING_ORACLE = """
WITH d AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS order_day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1995-04-01'
  GROUP BY 1, 2
)
SELECT o_custkey, order_day,
       CAST(day_rev AS DOUBLE) AS day_revenue,
       CAST(SUM(day_rev) OVER (
            PARTITION BY o_custkey ORDER BY order_day
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS revenue_7d
FROM d ORDER BY o_custkey, order_day
"""


@REGISTRY.register("window_rolling_revenue_7d", _ROLLING_ORACLE)
def window_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per customer: a time-RANGE window frame
    (rangeBetween on epoch days), the frame type ROWS windows can't
    express when days are missing. Pre-aggregating to (customer, day)
    BEFORE the window keeps the sort input at one row per active day
    instead of one per order — at 100 TB the window sorts the
    pre-reduced daily table, not the fact table. RANGE frames treat
    order_day peers as one unit, so the result needs no intra-day
    tie-breaker; decimal day sums keep both engines' doubles
    bit-identical. The date filter bounds output size; the first six
    days of the window read short history by construction (both
    sides compute over the same filtered range)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(
            "o_custkey",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("order_day"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_rev"))
    )
    w = Window.partitionBy("o_custkey").orderBy("order_day").rangeBetween(-6, 0)
    return daily.select(
        "o_custkey",
        "order_day",
        F.col("day_rev").cast("double").alias("day_revenue"),
        F.sum("day_rev").over(w).cast("double").alias("revenue_7d"),
    ).orderBy("o_custkey", "order_day")


# --- snapshot diff + incremental aggregate maintenance ----------------------

_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderpriority
  FROM orders WHERE o_orderkey % 11 <> 0
), d AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys
FROM d GROUP BY change_type ORDER BY change_type
"""


@REGISTRY.register("diff_orders_snapshots", _DIFF_ORACLE)
def diff_orders_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two simulated versions of orders (rows added, rows removed,
    statuses rewritten) reconciled by operators/snapshots.py::
    snapshot_diff — one full-outer shuffle join on the key, null-safe
    column comparison, no UDF. The modulo-derived versions make the
    fixture deterministic and SQL-expressible; real deployments feed
    two storage snapshots. Aggregated to per-class counts (the
    row-level classification is pinned by tests/test_snapshots.py)."""
    from movie_rankings_spark.operators.snapshots import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    new = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    diff = snapshot_diff(
        old, new, keys=["o_orderkey"], payload=["o_orderstatus", "o_orderpriority"]
    )
    return (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("change_type")
    )


_INCR_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("incremental_monthly_revenue", _INCR_ORACLE)
def incremental_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the monthly revenue rollup
    is built as base partial (orders before 1997) merged with a delta
    partial (orders from 1997 on) via operators/snapshots.py::
    merge_partial_aggs — SUM of partial decimal SUMs — and the oracle
    recomputes from the full table. Equality IS the point: the merge
    identity lets a 100 TB nightly rebuild become "aggregate the
    delta, merge", with decimal partials keeping it exact rather than
    float-associative."""
    from movie_rankings_spark.operators.snapshots import merge_partial_aggs

    orders = _t(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        ).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "total_price"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    merged = merge_partial_aggs(
        [base, delta], keys=["yr", "mo"], sum_cols=["total_price"],
        count_col="n_orders",
    )
    return merged.select(
        "yr", "mo", F.col("total_price").cast("double").alias("total_price"),
        "n_orders",
    ).orderBy("yr", "mo")


# --- time-series gap-fill + interpolation -----------------------------------

_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY 1) s
), grid AS (
  SELECT sp.user_id, sp.day, d.day_value
  FROM spine sp LEFT JOIN daily d
    ON sp.user_id = d.user_id AND sp.day = d.day
), filled AS (
  SELECT user_id, day, day_value,
    last_value(day_value IGNORE NULLS) OVER wb AS prev_val,
    first_value(day_value IGNORE NULLS) OVER wf AS next_val,
    last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
      OVER wb AS prev_day,
    first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
      OVER wf AS next_day
  FROM grid
  WINDOW wb AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, day_value,
       prev_val AS ffill_value,
       CASE WHEN next_day = prev_day THEN prev_val
            ELSE prev_val + (next_val - prev_val) *
                 (CAST(date_diff('day', prev_day, day) AS DOUBLE) /
                  CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
       END AS interp_value
FROM filled ORDER BY user_id, day
"""


@REGISTRY.register("timeseries_gapfill_daily", _GAPFILL_ORACLE)
def timeseries_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse purchase series → dense per-user daily grid with
    forward-fill and linear interpolation (operators/timeseries.py).
    The spine is each user's own [min, max] active span (sequence +
    explode over the per-user aggregate — never global-calendar ×
    users), daily values pre-aggregate before the spine join, and
    both fill directions ride one (user_id, day) sort. The
    interpolation expression is written identically on both engines,
    so doubles hash-match exactly."""
    from movie_rankings_spark.operators.timeseries import gapfill_daily

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    grid = gapfill_daily(ev)
    return grid.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_value",
        "ffill_value",
        "interp_value",
    ).orderBy("user_id", "day")


# --- single-pass data-quality audit -----------------------------------------

_AUDIT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_orderkey,
       CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
         AS n_dup_orderkeys,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fk_violations,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonpositive_price,
       epoch_us(MIN(o_orderdate)) AS min_orderdate_us,
       epoch_us(MAX(o_orderdate)) AS max_orderdate_us
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@REGISTRY.register("audit_orders_quality", _AUDIT_ORACLE)
def audit_orders_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-check audit (null keys, duplicate keys, FK
    orphans, domain bounds, date range) computed in ONE pass: every
    check is a conditional aggregate in a single hash aggregate, and
    the referential check rides a broadcast left join — the fact
    table is scanned once no matter how many expectations are added.
    The alternative (one job per check) scans the 100 TB fact once
    per rule."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("_fk")
    )
    j = o.join(F.broadcast(c), "o_custkey", "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_orderkey"),
        (F.count("o_orderkey") - F.count_distinct(F.col("o_orderkey")))
        .cast("bigint")
        .alias("n_dup_orderkeys"),
        F.sum(F.when(F.col("_fk").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fk_violations"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonpositive_price"),
        # o_orderdate is TIMESTAMP_NTZ; the session TZ is UTC so the
        # cast is an identity relabel for unix_micros
        F.unix_micros(F.min("o_orderdate").cast("timestamp")).alias(
            "min_orderdate_us"
        ),
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias(
            "max_orderdate_us"
        ),
    )


# --- statistical tier: z-score anomalies, histogram, correlation -----------

# mean/std from exact decimal sums so both engines derive identical
# doubles, then identical IEEE arithmetic for the z-score itself
_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
              AS DOUBLE) AS sq
  FROM events GROUP BY user_id
)
SELECT e.user_id, e.event_id, e.value,
       (e.value - s / n) / sqrt(sq / n - (s / n) * (s / n)) AS zscore
FROM events e JOIN stats USING (user_id)
WHERE n >= 10 AND sq / n - (s / n) * (s / n) > 0
  AND abs((e.value - s / n) / sqrt(sq / n - (s / n) * (s / n))) > 2.0
ORDER BY e.user_id, e.event_id
"""


@REGISTRY.register("anomaly_events_zscore", _ZSCORE_ORACLE)
def anomaly_events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier events (|z| > 2 against the user's own value
    distribution). Two scans co-partitioned on user_id: one aggregate
    for (n, Σx, Σx²), one join back — population moments from exact
    decimal sums, so the oracle's doubles are bit-identical. At scale
    both sides shuffle once on user_id and the stats side is tiny
    (one row per user)."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        # square AFTER the decimal cast: decimal×decimal is exact, so
        # both engines sum identical values (squaring the double first
        # and then casting rounds differently per engine at the ulp)
        F.sum(
            F.col("value").cast("decimal(18,6)")
            * F.col("value").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("sq") / F.col("n") - mean * mean
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        e.join(stats, "user_id")
        .filter((F.col("n") >= 10) & (var > 0) & (F.abs(z) > 2.0))
        .select("user_id", "event_id", "value", z.alias("zscore"))
        .orderBy("user_id", "event_id")
    )


_HISTOGRAM_ORACLE = """
SELECT CAST(least(floor(o_totalprice / 25000), 19) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("histogram_totalprice", _HISTOGRAM_ORACLE)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (20 buckets of 25k, open-topped): a pure
    partial+final hash aggregate on a derived key — the shuffle
    carries at most 20 rows per partition regardless of fact size."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(19)).cast(
        "long"
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("bucket")
    )


# Pearson correlation from exact decimal moments; the final formula is
# the same double expression on both engines (never the engines' own
# corr() — implementations differ in summation order).
_CORR_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
  FROM lineitem
)
SELECT n,
       (sxy / n - (sx / n) * (sy / n))
       / (sqrt(sxx / n - (sx / n) * (sx / n))
          * sqrt(syy / n - (sy / n) * (sy / n))) AS corr_qty_price,
       (sxy / n - (sx / n) * (sy / n)) AS cov_qty_price
FROM m
"""


@REGISTRY.register("corr_price_quantity", _CORR_ORACLE)
def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance/correlation of (quantity, price) via one pass
    of decimal moment sums — mergeable partial aggregates, one
    single-row result; the double formula is shared verbatim with the
    oracle rather than trusting either engine's corr() summation
    order."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sy"),
        # decimal-first products: decimal×decimal is exact, immune to
        # per-engine double→decimal rounding at the ulp (see zscore)
        F.sum(
            F.col("l_quantity").cast("decimal(18,2)")
            * F.col("l_extendedprice").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            F.col("l_quantity").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_extendedprice").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = sxy / n - (sx / n) * (sy / n)
    corr = cov / (
        F.sqrt(sxx / n - (sx / n) * (sx / n))
        * F.sqrt(syy / n - (sy / n) * (sy / n))
    )
    return m.select(
        "n", corr.alias("corr_qty_price"), cov.alias("cov_qty_price")
    )


# Robust (median/MAD) counterpart to the z-score detector: immune to
# the heavy tails that inflate a standard deviation. Medians are exact
# per-group percentiles — the same interpolation in both engines
# (proven by percentiles_lineitem_price) — and the 1.4826 normal-
# consistency constant is a literal, so the threshold doubles match.
_MAD_ORACLE = """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY l_returnflag
),
mad AS (
  SELECT l.l_returnflag,
         ANY_VALUE(m.med) AS med,
         quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
  FROM lineitem l JOIN med m USING (l_returnflag)
  GROUP BY l.l_returnflag
)
SELECT l.l_returnflag,
       ANY_VALUE(m.med) AS med,
       ANY_VALUE(m.mad) AS mad,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN abs(l.l_extendedprice - m.med)
                          > 3.0 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM lineitem l JOIN mad m USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@REGISTRY.register("robust_outliers_mad", _MAD_ORACLE)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier profile per return flag: med and MAD are
    exact per-group percentiles (two aggregate passes, each a tiny
    per-group table broadcast back — never a Window-over-group for a
    global scalar); the flag threshold is the standard 3·1.4826·MAD
    robust z equivalent. At 100 TB: three co-partitioned scans of
    lineitem, per-group state is one row each."""
    li = _t(spark, sf_dir, "lineitem", fanout=True).select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med")
    )
    mad = (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("med").alias("med"),
            F.percentile(
                F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5)
            ).alias("mad"),
        )
    )
    out = F.abs(F.col("l_extendedprice") - F.col("med")) > 3.0 * 1.4826 * F.col(
        "mad"
    )
    return (
        li.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


_EQUIDEPTH_ORACLE = """
WITH t AS (
  SELECT [quantile_cont(o_totalprice, 0.125), quantile_cont(o_totalprice, 0.25),
          quantile_cont(o_totalprice, 0.375), quantile_cont(o_totalprice, 0.5),
          quantile_cont(o_totalprice, 0.625), quantile_cont(o_totalprice, 0.75),
          quantile_cont(o_totalprice, 0.875)] AS ths
  FROM orders
)
SELECT CAST(len(list_filter(t.ths, x -> o.o_totalprice > x)) AS BIGINT)
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o.o_totalprice) AS min_price,
       MAX(o.o_totalprice) AS max_price
FROM orders o, t GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("histogram_equidepth_price", _EQUIDEPTH_ORACLE)
def histogram_equidepth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-boundary) histogram — the complement of
    the fixed-width histogram_totalprice and the structure behind
    range-partition boundaries and optimizer column stats. Textbook
    two-pass shape: pass 1 computes the 7 octile thresholds (exact
    percentile, 1-row broadcast); pass 2 buckets every row by
    counting thresholds strictly below it (codegen array filter) into
    a partial+final hash aggregate. Exact-interpolation percentile
    matches DuckDB quantile_cont, so the report is value-hash
    checked."""
    o = _t(spark, sf_dir, "orders")
    ths = o.agg(
        F.percentile(
            "o_totalprice", F.lit([i / 8.0 for i in range(1, 8)])
        ).alias("ths")
    )
    j = o.crossJoin(F.broadcast(ths))
    bucket = F.size(
        F.filter(F.col("ths"), lambda t: F.col("o_totalprice") > t)
    ).cast("long")
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


_PATHS_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 21600000000
              THEN 0 ELSE 1 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
), seqs AS (
  SELECT user_id, session_seq,
         list(event_type ORDER BY ts, event_id) AS types
  FROM sess GROUP BY 1, 2
), tri AS (
  SELECT unnest(list_transform(range(1, len(types) - 1),
                i -> concat_ws(' ', types[i], types[i+1], types[i+2])))
           AS path
  FROM seqs
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM tri GROUP BY path ORDER BY n_occurrences DESC, path LIMIT 15
"""


@REGISTRY.register("session_paths_top", _PATHS_ORACLE)
def session_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step user journeys within 6 h sessions
    (operators/sessionize.py::session_paths): deterministic per-
    session ordering via array_sort over (ts, event_id, type)
    structs, n-gram paths, TakeOrdered top-15 with a total-order
    tie-break."""
    from movie_rankings_spark.operators.sessionize import session_paths

    return session_paths(_t(spark, sf_dir, "events"), 360, 3, 15)


_TRANSITIONS_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 21600000000
              THEN 0 ELSE 1 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
), seqs AS (
  SELECT user_id, session_seq,
         list(event_type ORDER BY ts, event_id) AS types
  FROM sess GROUP BY 1, 2
), pairs AS (
  SELECT split_part(p, ' ', 1) AS cur_type, split_part(p, ' ', 2) AS next_type
  FROM (
    SELECT unnest(list_transform(range(1, len(types)),
                  i -> concat_ws(' ', types[i], types[i+1]))) AS p
    FROM seqs
  )
), counts AS (
  SELECT cur_type, next_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2
)
SELECT cur_type, next_type, CAST(n AS BIGINT) AS n_transitions,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY cur_type) AS DOUBLE) AS prob
FROM counts ORDER BY cur_type, next_type
"""


@REGISTRY.register("session_transition_matrix", _TRANSITIONS_ORACLE)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types within 6 h
    sessions (operators/sessionize.py::session_transition_matrix):
    deterministic sequences, exact bigint transition counts, exact
    row-normalized probabilities."""
    from movie_rankings_spark.operators.sessionize import (
        session_transition_matrix as stm,
    )

    return stm(_t(spark, sf_dir, "events"), 360).orderBy(
        "cur_type", "next_type"
    )


# --- conversion-window funnel (r3s4) ----------------------------------------

_FUNNEL_TB_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1
    AND date_diff('microsecond', v.t1, e.ts) <= CAST(6 AS BIGINT) * 3600 * 1000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
    AND date_diff('microsecond', c.t2, e.ts) <= CAST(6 AS BIGINT) * 3600 * 1000000
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
  UNION ALL
  SELECT 2, 'click', COUNT(*) FROM c
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FROM p
) ORDER BY stage
"""


@REGISTRY.register("funnel_time_bounded", _FUNNEL_TB_ORACLE)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: each stage must land within 6 h of
    the previous stage's first completion (microsecond-exact bound) —
    the "funnel with a deadline" that separates intent from drift.
    Same co-partitioned per-stage plan as funnel_view_click_purchase;
    the gap predicate rides the existing stage-gating join, adding no
    shuffle."""
    from movie_rankings_spark.operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        max_gap_hours=6,
    )


# --- U-shaped multi-touch attribution (r3s4) --------------------------------

_ATTR_POS_ORACLE = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('view', 'click')
),
pair AS (
  SELECT c.conv_id, c.value, t.event_type AS t_type,
         ROW_NUMBER() OVER (
           PARTITION BY c.conv_id ORDER BY t.ts, t.event_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS n
  FROM conv c JOIN t ON c.user_id = t.user_id
   AND t.ts < c.ts
   AND date_diff('microsecond', t.ts, c.ts) <= CAST(24 AS BIGINT) * 3600 * 1000000
),
w AS (
  SELECT conv_id, value, t_type,
         CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
              WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
              ELSE CAST(0.2 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END AS wt
  FROM pair
),
direct AS (
  SELECT c.conv_id, c.value, 'direct' AS t_type, CAST(1.0 AS DOUBLE) AS wt
  FROM conv c
  WHERE NOT EXISTS (SELECT 1 FROM pair p WHERE p.conv_id = c.conv_id)
),
allc AS (SELECT * FROM w UNION ALL SELECT * FROM direct)
SELECT t_type AS touch_type,
       CAST(SUM(CAST(wt AS DECIMAL(18,6))) AS DOUBLE)
         AS credited_conversions,
       CAST(SUM(CAST(value * wt AS DECIMAL(18,6))) AS DOUBLE)
         AS attributed_revenue
FROM allc GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("attribution_position_based", _ATTR_POS_ORACLE)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution (operators/attribution.py::
    position_based_attribution): 40/40 to first/last touch inside the
    24 h lookback, 20% across the middles, 100%/50-50 for 1-2 touches,
    'direct' when none. The lookback-RANGE window keeps per-row state
    bounded by the window (not user history); credit shares round to
    DECIMAL(18,6) before summing so the rollup hash-matches the
    oracle's join+window formulation exactly."""
    from movie_rankings_spark.operators.attribution import (
        position_based_attribution,
    )

    return position_based_attribution(_t(spark, sf_dir, "events"))


# --- Spark 4 VariantType semi-structured analytics (r3s4) -------------------

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k')
                                AS INTEGER)) AS BIGINT) AS ndv_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS INTEGER) AS max_k
FROM events GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("variant_props_analytics", _VARIANT_ORACLE)
def variant_props_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VariantType — the
    open-format JSON path that replaces schema-on-write structs when
    payloads drift: parse_json once into a binary variant, then typed
    try_variant_get extraction feeding ordinary aggregates. Variant
    keeps parsing single-pass and pushdown-friendly (vs re-parsing
    the JSON string per field, the from_json_props_map trade-off
    documented there); the aggregate itself is a plain map-side-
    combined hash agg on event_type."""
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("ndv_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- UNPIVOT / melt (r3s4) --------------------------------------------------

_UNPIVOT_ORACLE = f"""
WITH d AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         {', '.join(f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS n_{t}"
                    for t in _EVENT_TYPES)}
  FROM events GROUP BY 1
)
SELECT day, metric, CAST(n AS BIGINT) AS n FROM (
  {' UNION ALL '.join(f"SELECT day, 'n_{t}' AS metric, n_{t} AS n FROM d"
                      for t in _EVENT_TYPES)}
) ORDER BY day, metric
"""


@REGISTRY.register("unpivot_daily_metrics", _UNPIVOT_ORACLE)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (`DataFrame.unpivot`, the melt operator and
    pivot's §2f inverse): per-day conditional metric columns flattened
    to (day, metric, n) rows. Unpivot is a zero-shuffle Expand over
    the already-aggregated |days|-row table — the fact is touched once
    by the conditional aggregate; the reshape multiplies only the
    tiny wide table."""
    e = _t(spark, sf_dir, "events")
    wide = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
                f"n_{t}"
            )
            for t in _EVENT_TYPES
        ]
    )
    return (
        wide.unpivot(
            ids=["day"],
            values=[f"n_{t}" for t in _EVENT_TYPES],
            variableColumnName="metric",
            valueColumnName="n",
        )
        .select("day", "metric", F.col("n").cast("long").alias("n"))
        .orderBy("day", "metric")
    )


# --- recursive CTE hierarchy rollup (Spark 4, r3s4) --------------------------

_HIERARCHY_ORACLE = """
WITH RECURSIVE base AS (
  SELECT c_custkey AS id,
         CASE WHEN c_custkey >= 10 THEN CAST(floor(c_custkey / 10) AS BIGINT) END
           AS parent,
         c_acctbal
  FROM customer
),
tree AS (
  SELECT id, id AS root, 0 AS depth FROM base WHERE parent IS NULL
  UNION ALL
  SELECT b.id, t.root, t.depth + 1
  FROM base b JOIN tree t ON b.parent = t.id
)
SELECT t.root,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MAX(t.depth) AS INTEGER) AS max_depth,
       CAST(SUM(CAST(b.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS subtree_balance
FROM tree t JOIN base b ON t.id = b.id
GROUP BY t.root ORDER BY t.root
"""


@REGISTRY.register("hierarchy_rollup_customers", _HIERARCHY_ORACLE)
def hierarchy_rollup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy rollup (Spark 4 WITH RECURSIVE — the
    org-chart / BOM query class): a deterministic referral forest over
    customers (parent = custkey/10) walked root-down, then per-root
    subtree size / max depth / exact balance rollup. The identical
    ANSI text runs on both engines — the SQL front-end's recursion
    surface, like sql_api_pricing_summary for scans.

    Scale: recursion depth = tree height (log10 of the key domain
    here, ~7 at 100 TB); each round is one equi-join of the frontier
    against the base — frontier-sized shuffles, the same per-round
    shape as connected-components. Spark currently supports UNION ALL
    recursion only (acyclic inputs; cyclic closure stays with the
    iterative CC operators)."""
    from movie_rankings_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_HIERARCHY_ORACLE)


# --- leakage-safe temporal split with embargo (r3s4) ------------------------

_TIME_SPLIT_ORACLE = """
WITH b AS (
  SELECT epoch_us(MIN(ts))
         + CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) * 0.8)
                AS BIGINT) AS cut_us
  FROM events
),
tagged AS (
  SELECT e.*,
         CASE WHEN epoch_us(e.ts) <= b.cut_us THEN 'train'
              WHEN epoch_us(e.ts) > b.cut_us + 86400000000 THEN 'test'
              ELSE 'embargo' END AS split
  FROM events e CROSS JOIN b
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM tagged GROUP BY split ORDER BY split
"""


@REGISTRY.register("split_time_embargo", _TIME_SPLIT_ORACLE)
def split_time_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split: train = first 80% of the time
    range, test = after a 1-day EMBARGO past the cut (rows inside the
    gap are dropped, so trailing-window features computed on train
    can't leak into test — the time-series companion to the hash
    split). The cut is an exact timestamp-arithmetic scalar (1-row
    broadcast); one conditional-aggregate pass tags and summarizes."""
    e = _t(spark, sf_dir, "events")
    b = e.agg(
        (
            F.unix_micros(F.min("ts"))
            + F.floor(
                (
                    F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
                ).cast("double")
                * 0.8
            ).cast("long")
        ).alias("cut_us")
    )
    mic = F.unix_micros(F.col("ts"))
    tagged = e.crossJoin(F.broadcast(b)).withColumn(
        "split",
        F.when(mic <= F.col("cut_us"), "train")
        .when(mic > F.col("cut_us") + F.lit(86_400_000_000), "test")
        .otherwise("embargo"),
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_ts"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_ts"
            ),
        )
        .orderBy("split")
    )


# --- grouped k-fold assignment (r3s4) ---------------------------------------

_KFOLD_ORACLE = """
WITH folds AS (
  SELECT user_id,
         CAST('0x' || substr(md5('fold' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 5 AS fold_id
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT f.fold_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN folds f USING (user_id)
GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("folds_grouped_by_user", _KFOLD_ORACLE)
def folds_grouped_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 5-fold cross-validation assignment: every event of a
    user lands in ONE fold (md5-derived, deterministic) so per-user
    signals can't leak across folds — the entity-level k-fold every
    behavioral-model eval needs, vs naive row-level folds. The fold
    map derives from the same fact scan (distinct user_ids) and
    broadcasts back; one conditional pass summarizes balance."""
    e = _t(spark, sf_dir, "events")
    folds = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("fold"), F.col("user_id").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 5
            ).alias("fold_id"),
        )
    )
    return (
        e.join(F.broadcast(folds), "user_id")
        .groupBy("fold_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("fold_id")
    )


# --- funnel time-to-convert (r3s4) ------------------------------------------

_FUNNEL_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
),
g1 AS (
  SELECT date_diff('microsecond', v.t1, c.t2) AS gap_us
  FROM c JOIN v USING (user_id)
),
g2 AS (
  SELECT date_diff('microsecond', c.t2, p.t3) AS gap_us
  FROM p JOIN c USING (user_id)
)
SELECT * FROM (
  SELECT 'view->click' AS transition,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1000000.0 AS median_s,
         quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / 1000000.0 AS p90_s,
         CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_s
  FROM g1
  UNION ALL
  SELECT 'click->purchase', CAST(COUNT(*) AS BIGINT),
         quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / 1000000.0,
         quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / 1000000.0,
         CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0
  FROM g2
) ORDER BY transition
"""


@REGISTRY.register("funnel_time_to_convert", _FUNNEL_TTC_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel transition: median /
    p90 / mean seconds between first stage completions — the latency
    half of funnel analytics (the counts half is
    funnel_view_click_purchase; same per-stage co-partitioned plan,
    plus one bounded percentile aggregate per transition on integer
    microsecond gaps)."""
    from movie_rankings_spark.operators.funnel import funnel_stage_times

    times = funnel_stage_times(
        _t(spark, sf_dir, "events", fanout=True), ["view", "click", "purchase"]
    )

    def _report(label, lo, hi):
        gap = (F.unix_micros(F.col(hi)) - F.unix_micros(F.col(lo))).alias(
            "gap_us"
        )
        g = times.filter(F.col(hi).isNotNull()).select(gap)
        pct = F.percentile(F.col("gap_us").cast("double"), F.lit([0.5, 0.9]))
        return g.agg(
            F.lit(label).alias("transition"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (pct[0] / 1e6).alias("median_s"),
            (pct[1] / 1e6).alias("p90_s"),
            (
                F.sum("gap_us").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("mean_s"),
        )

    return (
        _report("view->click", "stage1_ts", "stage2_ts")
        .unionByName(_report("click->purchase", "stage2_ts", "stage3_ts"))
        .orderBy("transition")
    )


# --- traffic heatmap: day-of-week x hour (r3s4) -----------------------------

_DOW_HOUR_ORACLE = """
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hour_of_day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("traffic_dow_hour_heatmap", _DOW_HOUR_ORACLE)
def traffic_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour traffic heatmap (the capacity-planning /
    campaign-timing grid): one hash aggregate on a 7×24-bounded
    derived key, shuffle ≤168 rows per partition at any fact size.
    Engine quirk encoded in the oracle: Spark's dayofweek is 1=Sunday
    while DuckDB's is 0=Sunday."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("dow", "hour_of_day")
    )


# --- incremental JOIN-view maintenance (r3s4) -------------------------------

_IVM_JOIN_ORACLE = """
SELECT c.c_mktsegment AS segment,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("ivm_join_segment_revenue", _IVM_JOIN_ORACLE)
def ivm_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (the delta-join algebra,
    completing the IVM story next to incremental_monthly_revenue's
    aggregate case): for V = γ(A ⋈ B) with insert-only deltas on BOTH
    sides,

        V_new = merge(γ(A₀⋈B₀), γ(ΔA⋈B₀), γ(A₀⋈ΔB), γ(ΔA⋈ΔB))

    — the three delta terms are the work a nightly refresh actually
    runs (ΔA⋈B uses the small delta as the broadcast/probe side; the
    full A₀⋈B₀ term is the already-materialized view, recomputed here
    only so the oracle's from-scratch join can certify the algebra).
    Decimal partial sums make the merge exact, not float-associative.
    Deltas: orders with orderkey%7==0, customers with custkey%13==0."""
    from movie_rankings_spark.operators.snapshots import merge_partial_aggs

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    a0 = orders.filter(F.col("o_orderkey") % 7 != 0)
    da = orders.filter(F.col("o_orderkey") % 7 == 0)
    b0 = cust.filter(F.col("c_custkey") % 13 != 0)
    db = cust.filter(F.col("c_custkey") % 13 == 0)

    def part(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "total_price"
                ),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )

    merged = merge_partial_aggs(
        [part(a0, b0), part(da, b0), part(a0, db), part(da, db)],
        keys=["segment"],
        sum_cols=["total_price"],
        count_col="n_orders",
    )
    return merged.select(
        "segment",
        F.col("total_price").cast("double").alias("total_price"),
        "n_orders",
    ).orderBy("segment")


# --- cohort LTV curve (r3s4) ------------------------------------------------

_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1
),
rev AS (
  SELECT f.cohort_day,
         CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts))
              AS INTEGER) AS age_days,
         SUM(CAST(e.value AS DECIMAL(18,6))) AS v
  FROM events e JOIN first_seen f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
sized AS (SELECT cohort_day, COUNT(*) AS n_users FROM first_seen GROUP BY 1)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort,
       r.age_days,
       CAST(s.n_users AS BIGINT) AS cohort_size,
       CAST(SUM(r.v) OVER (PARTITION BY r.cohort_day ORDER BY r.age_days
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / s.n_users AS cum_ltv_per_user
FROM rev r JOIN sized s USING (cohort_day)
ORDER BY cohort, age_days
"""


@REGISTRY.register("cohort_ltv_curve", _LTV_ORACLE)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per cohort-age day — the growth
    curve behind payback-period decisions (cohort_retention_daily is
    the activity half; this is the revenue half). Exact decimal
    revenue cells cumulated by a window PARTITIONED BY COHORT (never
    global), normalized by cohort size."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("int")
            .alias("age_days"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    )
    sized = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sized, "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            "age_days",
            F.col("n_users").cast("long").alias("cohort_size"),
            (
                F.sum("v").over(w).cast("double")
                / F.col("n_users").cast("double")
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort", "age_days")
    )


# --- RFM customer segmentation (r3s4) ---------------------------------------

_RFM_ORACLE = """
WITH ref AS (SELECT MAX(o_orderdate) AS mx FROM orders),
rfm AS (
  SELECT o.o_custkey,
         date_diff('day', MAX(o.o_orderdate), r.mx) AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders o CROSS JOIN ref r
  GROUP BY o.o_custkey, r.mx
),
th AS (
  SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.5) AS r_med,
         quantile_cont(CAST(frequency AS DOUBLE), 0.5) AS f_med,
         quantile_cont(CAST(monetary AS DOUBLE), 0.5) AS m_med
  FROM rfm
),
seg AS (
  SELECT CASE
           WHEN CAST(recency_days AS DOUBLE) <= t.r_med
                AND CAST(frequency AS DOUBLE) > t.f_med
                AND CAST(monetary AS DOUBLE) > t.m_med THEN 'champion'
           WHEN CAST(recency_days AS DOUBLE) <= t.r_med
                AND CAST(monetary AS DOUBLE) > t.m_med THEN 'big_spender'
           WHEN CAST(recency_days AS DOUBLE) <= t.r_med THEN 'active'
           WHEN CAST(monetary AS DOUBLE) > t.m_med THEN 'at_risk_valuable'
           ELSE 'hibernating' END AS segment,
         monetary
  FROM rfm CROSS JOIN th t
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) / COUNT(*) AS avg_monetary
FROM seg GROUP BY segment ORDER BY segment
"""


@REGISTRY.register("rfm_customer_segments", _RFM_ORACLE)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the
    warehouse-classic customer taxonomy: per-customer RFM facts in
    one aggregate, median thresholds from ONE exact-percentile pass
    broadcast back (never an ntile over a global window — the
    SinglePartition trap), CASE taxonomy, segment rollup. Exact
    decimal monetary sums keep the report engine-identical."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "mx")
        .agg(
            F.datediff(F.col("mx"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "monetary"
            ),
        )
    )
    th = rfm.agg(
        F.percentile(F.col("recency_days").cast("double"), F.lit(0.5)).alias(
            "r_med"
        ),
        F.percentile(F.col("frequency").cast("double"), F.lit(0.5)).alias(
            "f_med"
        ),
        F.percentile(F.col("monetary").cast("double"), F.lit(0.5)).alias(
            "m_med"
        ),
    )
    r_ok = F.col("recency_days").cast("double") <= F.col("r_med")
    f_hi = F.col("frequency").cast("double") > F.col("f_med")
    m_hi = F.col("monetary").cast("double") > F.col("m_med")
    seg = (
        F.when(r_ok & f_hi & m_hi, "champion")
        .when(r_ok & m_hi, "big_spender")
        .when(r_ok, "active")
        .when(m_hi, "at_risk_valuable")
        .otherwise("hibernating")
    )
    return (
        rfm.crossJoin(F.broadcast(th))
        .select(seg.alias("segment"), "monetary")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("monetary").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
        .orderBy("segment")
    )


# --- r6: PIVOT front-end (cross-tab with explicit value list) ---------------

_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_p,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@REGISTRY.register("pivot_orders_status", _PIVOT_ORACLE)
def pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab through the DataFrame PIVOT front-end: order counts
    by priority × status. The explicit value list matters at scale —
    `pivot(col)` without values runs an EXTRA distinct-collect job
    over the fact to discover the columns, while
    `pivot(col, [...])` compiles straight to one conditional
    aggregate (the same plan the oracle writes by hand), keeping the
    fact scanned exactly once with map-side combine. The row total
    folds from the pivoted counts rather than a second agg branch —
    valid because the value list is EXHAUSTIVE (TPC-H o_orderstatus
    is exactly {F,O,P}), and the oracle's independent COUNT(*) makes
    that contract hash-checked: a status outside the list would
    undercount n_total and fail the value hash."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    n_f = F.coalesce(F.col("F"), F.lit(0)).cast("long")
    n_o = F.coalesce(F.col("O"), F.lit(0)).cast("long")
    n_p = F.coalesce(F.col("P"), F.lit(0)).cast("long")
    return p.select(
        "o_orderpriority",
        n_f.alias("n_f"),
        n_o.alias("n_o"),
        n_p.alias("n_p"),
        (n_f + n_o + n_p).alias("n_total"),
    ).orderBy("o_orderpriority")


# --- r6: Markov steady state of the session transition chain ----------------

def _markov_oracle(n_iter: int = 20) -> str:
    """SQL twin of markov_steady_state over the session-transition
    counts: 25 scalar P columns + a recursive CTE whose π update uses
    the IDENTICAL left-associated 5-term dot products as the Spark
    fold."""
    states = ["click", "error", "purchase", "signup", "view"]
    k = len(states)
    pcols = ",\n    ".join(
        f"MAX(CASE WHEN cur_type = '{a}' AND next_type = '{b}' "
        f"THEN p END) AS p_{i}_{j}"
        for i, a in enumerate(states)
        for j, b in enumerate(states)
    )
    entries = []
    for i in range(k):
        expr = f"pi[1] * p_0_{i}"
        for j in range(1, k):
            expr = f"({expr} + pi[{j + 1}] * p_{j}_{i})"
        entries.append(expr)
    pi_new = ",\n      ".join(entries)
    vals = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(states)
    )
    return f"""
WITH RECURSIVE marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 21600000000
              THEN 0 ELSE 1 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
), seqs AS (
  SELECT user_id, session_seq,
         list(event_type ORDER BY ts, event_id) AS types
  FROM sess GROUP BY 1, 2
), pairs AS (
  SELECT split_part(p, ' ', 1) AS cur_type, split_part(p, ' ', 2) AS next_type
  FROM (
    SELECT unnest(list_transform(range(1, len(types)),
                  i -> concat_ws(' ', types[i], types[i+1]))) AS p
    FROM seqs
  )
), counts AS (
  SELECT cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
), rs AS (
  SELECT cur_type, CAST(SUM(n) AS BIGINT) AS rn FROM counts GROUP BY 1
), pc AS (
  SELECT c.cur_type, c.next_type,
         CAST(c.n AS DOUBLE) / CAST(rs.rn AS DOUBLE) AS p
  FROM counts c JOIN rs USING (cur_type)
), pmat AS (
  SELECT
    {pcols}
  FROM pc
), rec AS (
  SELECT 0 AS it,
         [{", ".join(f"CAST({1.0 / k!r} AS DOUBLE)" for _ in range(k))}]
           AS pi
  UNION ALL
  SELECT it + 1, [
      {pi_new}
    ]
  FROM rec CROSS JOIN pmat WHERE it < {n_iter}
), fin AS (
  SELECT pi FROM rec WHERE it = {n_iter}
), st AS (
  SELECT * FROM (VALUES {vals}) AS t(idx, state)
), tot AS (SELECT CAST(SUM(rn) AS BIGINT) AS tot FROM rs)
SELECT st.state, fin.pi[st.idx + 1] AS pi_stationary,
       CAST(rs.rn AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS share_source
FROM st CROSS JOIN fin
JOIN rs ON rs.cur_type = st.state
CROSS JOIN tot
ORDER BY st.state
"""


@REGISTRY.register("markov_steady_state_sessions", _markov_oracle())
def markov_steady_state_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Long-run occupancy of the session event-type chain: the
    stationary distribution pi = pi.P of the 6h-gap session
    transition matrix (20 power iterations from uniform, folded
    in-engine over the 25-cell flattened matrix) next to the
    model-free empirical source share — "where do users end up
    spending their time" per the first-order model
    (operators/markov.py::markov_steady_state, counts from
    operators/sessionize.py::session_transition_matrix)."""
    from movie_rankings_spark.operators.markov import markov_steady_state
    from movie_rankings_spark.operators.sessionize import (
        session_transition_matrix,
    )

    counts = session_transition_matrix(_t(spark, sf_dir, "events"))
    return markov_steady_state(
        counts,
        ["click", "error", "purchase", "signup", "view"],
        n_col="n_transitions",
    )
