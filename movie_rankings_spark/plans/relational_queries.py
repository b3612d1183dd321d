"""Relational tier (SURVEY.md §2 rows J2, A4-A5, T3, §2h) — TPC-H-style
named queries over the driver's star schema.

Determinism contract with the DuckDB oracle:
  * float SUMs go through per-row CAST(... AS DECIMAL(p,s)) → exact,
    order-independent sum → CAST AS DOUBLE. Bit-identical both sides.
  * AVGs are (exact decimal sum cast double) / count — double division
    of identical operands.
  * timestamps never leave queries raw — formatted to strings or
    bucketed to year/month ints.
  * every ORDER BY carries a unique tie-breaker.

Scale notes are in each query's docstring; the common themes: filters
sit directly on the scan (parquet pushdown), dimensions are broadcast,
facts shuffle at most once on their aggregation key, top-k is
TakeOrderedAndProject (never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.plans.registry import REGISTRY, REVENUE_SUM_SQL


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    return load_table(spark, sf_dir, name, fanout=fanout)


def _dsum(col, scale: int = 2):
    """Exact order-independent sum of a double column → double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _revenue():
    """Per-row exact revenue term (must be built lazily — Column
    construction needs an active SparkContext)."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )

# --- A1/A2/§2h: pricing summary (TPC-H Q1 shape) ---------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                                                                   AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE)                 AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)      AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@REGISTRY.register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan hash aggregate on a 4-value grouping key. At 100 TB:
    map-side partials reduce the shuffle to (4 groups × partitions)
    rows; the shipdate filter and 7-column projection push into the
    parquet scan."""
    li = _t(spark, sf_dir, "lineitem", fanout=True)
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / cnt).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / cnt).alias("avg_price"),
            (_dsum(F.col("l_discount"), 4) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- J2: shipping priority (TPC-H Q3 shape) --------------------------------

_Q3_ORACLE = f"""
SELECT l.l_orderkey AS o_orderkey,
       strftime(ANY_VALUE(o.o_orderdate), '%Y-%m-%d') AS orderdate,
       {REVENUE_SUM_SQL} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


@REGISTRY.register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer and orders shrink under their filters → both broadcast
    against the lineitem fact at sf-test scale; at 100 TB customer
    stays broadcast-able and orders⋈lineitem is a co-partitioned
    sort-merge on orderkey. Single fact shuffle on the groupBy key;
    top-10 via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.date_format(F.first("o_orderdate"), "yyyy-MM-dd").alias("orderdate"),
            F.sum(_revenue()).cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# --- J2: local-supplier revenue (TPC-H Q5 shape, 6-way join) ---------------

_Q5_ORACLE = f"""
SELECT n.n_name AS nation, {REVENUE_SUM_SQL} AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_regionkey = 2
GROUP BY 1
ORDER BY revenue DESC, nation ASC
"""


@REGISTRY.register("q5_local_supplier_revenue", _Q5_ORACLE)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: supplier/customer/nation/region are dimensions —
    all broadcast (no fact shuffle for any of the four); the only
    shuffles are lineitem⋈orders on orderkey and the final tiny
    groupBy on nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_regionkey") == 2)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation").asc())
    )


# --- J2: EXISTS semi-join (TPC-H Q4 shape) ---------------------------------

_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@REGISTRY.register("q4_order_priority_exists", _Q4_ORACLE)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS: equi key on orderkey with the
    non-equi shipdate>orderdate predicate attached to the join —
    lineitem never duplicates orders rows, and only (orderkey,
    shipdate) is read from the fact scan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- T3: per-group top-k ----------------------------------------------------

_TOPK_ORACLE = """
SELECT p_brand, p_partkey, p_name, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (
           PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC
         ) AS rk
  FROM part
) WHERE rk <= 3
ORDER BY p_brand, rk
"""


@REGISTRY.register("topk_parts_per_brand", _TOPK_ORACLE)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window row_number partitioned by brand: one shuffle on the
    group key, rank filter applied before anything else consumes the
    rows. At skewed-brand scale this becomes the salted two-phase
    top-k in operators/topk.py."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("p_brand", "rk")
    )


# --- A5: rollup -------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@REGISTRY.register("rollup_orders", _ROLLUP_ORACLE)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP = grouping-sets expansion inside one hash aggregate —
    Spark expands to (status,priority),(status),() without extra
    passes over the fact."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --- A4: distinct aggregation ----------------------------------------------

_DISTINCT_ORACLE = """
SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
"""


@REGISTRY.register("distinct_parts_per_supplier", _DISTINCT_ORACLE)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct: Catalyst plans count(distinct) as a two-level
    aggregate (partial distinct per partition, then merge) — no
    driver-side set."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_suppkey")
    )


# Bounded-error oracle (r6, VERDICT r5 item 4): the HLL++ estimate is
# engine-specific, its published error is not — rsd=0.02, 3σ ⇒ 6 %.
# The query emits the exact NDV (hash-compared) plus a boolean
# asserting |approx − exact| ≤ 0.06·exact; DuckDB asserts the same
# contract as literal TRUE, so a hash match proves the bound held.
_APPROX_NDV_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS ndv_in_bound
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@REGISTRY.register("approx_distinct_parts", _APPROX_NDV_ORACLE)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the 100 TB path where exact
    distinct would shuffle every key, audited in-query against its
    own published error bound (see _APPROX_NDV_ORACLE). The exact
    NDV rides in the same aggregate — at audit scale that cost is the
    point; the production path is the sketch alone."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("_a"),
            F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(
                    F.col("_a").cast("double")
                    - F.col("exact_parts").cast("double")
                )
                <= 0.06 * F.col("exact_parts").cast("double")
            ).alias("ndv_in_bound"),
        )
        .orderBy("l_returnflag")
    )


_HLL_MERGEABLE_P = 10


def _hll_mergeable_oracle() -> str:
    from movie_rankings_spark.operators import hllsketch

    return hllsketch.hll_oracle_sql(
        _HLL_MERGEABLE_P,
        key_sql="user_id",
        day_group="CAST(ts AS DATE)",
        merge_group="week",
        merge_expr="strftime(date_trunc('week', ts), '%Y-%m-%d')",
        table="events",
    )


@REGISTRY.register("hll_users_mergeable_rollup", _hll_mergeable_oracle())
def hll_users_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count rollup — the pattern approx_count_
    distinct can't express: materialize per-(week, day) register
    tables once, then answer the coarser week level by MERGING
    registers (max per register index) instead of rescanning events.
    At 100 TB the daily register table is the stored artifact (KBs
    per group); every dashboard rollup above it is register-merge
    only (weeks here — the test data spans one month). Uses the
    engine-portable md5-derived register layout
    (operators/hllsketch.py), so every output value — set-register
    count, exact scaled sum, raw α·m²/Z estimate — value-hash matches
    the DuckDB oracle (converted from rows-only in r8; p=10 here vs
    the day→event_type p=8 twin hll_registers_rollup). The
    Datasketches union-vs-rescan identity that this query previously
    carried is pinned directly in tests/test_plan_shapes.py::
    test_hll_union_matches_direct_sketch_and_exact."""
    from movie_rankings_spark.operators import hllsketch

    e = _t(spark, sf_dir, "events").withColumn(
        "week", F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    )
    daily = hllsketch.hll_build(
        e.withColumn("day", F.to_date("ts")),
        key="user_id",
        group_cols=["week", "day"],
        p=_HLL_MERGEABLE_P,
    )
    return hllsketch.hll_merge_estimate(
        daily, merge_to=["week"], p=_HLL_MERGEABLE_P
    ).orderBy("week")


# --- §2g: window analytics over events -------------------------------------

_WINDOW_ORACLE = """
SELECT event_id, user_id,
       ROW_NUMBER() OVER w AS rn,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_value,
       RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank
FROM events
WHERE user_id < 5
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, rn
"""


@REGISTRY.register("window_events_analytics", _WINDOW_ORACLE)
def window_events_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic + running-frame windows in one pass: all
    four share the (user_id, ts) sort, so Spark computes them in a
    single WindowExec after one shuffle on user_id."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            .alias("running_value"),
            F.rank()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("value").desc(), F.col("event_id")
                )
            )
            .alias("value_rank"),
        )
        .orderBy("user_id", "rn")
    )


_RANK_FAMILY_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       FIRST_VALUE(o_totalprice) OVER w AS top_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
"""


@REGISTRY.register("window_rank_family", _RANK_FAMILY_ORACLE)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-rank window family (ntile / percent_rank /
    cume_dist / first_value / nth_value) — one WindowExec, one shuffle
    on the partition key; the unique (price, orderkey) sort makes the
    default RANGE frame equal ROWS, so nth_value is engine-portable.
    percent_rank and cume_dist are rank arithmetic over doubles —
    bit-identical across engines."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.first_value("o_totalprice").over(w).alias("top_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .orderBy("o_orderpriority", F.col("o_totalprice").desc(), "o_orderkey")
    )


# --- §2h: JSON + date functions --------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type ORDER BY event_type
"""


@REGISTRY.register("json_props_stats", _JSON_ORACLE)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object is a codegen'd JVM path (Jackson) — JSON
    parsing without any Python. For a fixed schema at scale,
    from_json to a struct column once is the cheaper form."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


_DATE_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("orders_by_month", _DATE_ORACLE)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part bucketing; at scale the same query over a
    date-partitioned layout prunes to the touched months."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("yr", "mo")
    )


@REGISTRY.register("sql_api_pricing_summary", _Q1_ORACLE)
def sql_api_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL API surface: the DuckDB oracle text IS the Spark query.
    The one table binds as a ``spark.sql`` frame parameter in place of
    the oracle's ``FROM lineitem``, so no temp view outlives the call,
    and the same ANSI string runs through spark.sql — Catalyst
    compiles it to the same physical plan as the DataFrame form of Q1,
    which is the point: both front-ends meet in the same optimizer."""
    return spark.sql(
        _Q1_ORACLE.replace("FROM lineitem", "FROM {lineitem}"),
        lineitem=_t(spark, sf_dir, "lineitem", fanout=True),
    )


_BITMAP_ROLLUP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(DISTINCT user_id) AS d
  FROM events GROUP BY 1, 2
)
SELECT e.event_type,
       CAST(dd.n_days AS BIGINT) AS n_days,
       CAST(dd.sum_daily AS BIGINT) AS sum_daily_distinct,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS distinct_users_merged
FROM events e
JOIN (SELECT event_type, COUNT(*) AS n_days, SUM(d) AS sum_daily
      FROM daily GROUP BY 1) dd USING (event_type)
GROUP BY 1, 2, 3 ORDER BY 1
"""


@REGISTRY.register("bitmap_users_rollup", _BITMAP_ROLLUP_ORACLE)
def bitmap_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count rollup — the bitmap counterpart
    of hll_users_mergeable_rollup: per-(event_type, day, bucket)
    roaring-style bitmaps of user ids (bitmap_bucket_number /
    bitmap_construct_agg) are the stored artifact; the coarser
    per-type level is answered by bitmap_or_agg MERGES of the daily
    bitmaps — never a rescan of events — and, unlike the HLL sketch,
    the merged count is EXACT, so the whole rollup is value-hash
    checked against COUNT(DISTINCT). At 100 TB bitmap bytes per group
    scale with id density (dense ids: ~1 bit/user) vs HLL's fixed
    KBs-with-error; the merge algebra is identical."""
    e = _t(spark, sf_dir, "events")
    # persisted: the daily bitmap table IS the stored artifact — both
    # the daily-count branch and the merge branch read it, and without
    # the cache each branch would rescan events.
    daily = (
        e.groupBy(
            "event_type",
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
    daily_counts = (
        daily.groupBy("event_type", "day")
        .agg(F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("d").alias("sum_daily_distinct"),
        )
    )
    merged = (
        daily.groupBy("event_type", "buck")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(
            F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias(
                "distinct_users_merged"
            )
        )
    )
    return (
        daily_counts.join(merged, "event_type")
        .select(
            "event_type", "n_days", "sum_daily_distinct", "distinct_users_merged"
        )
        .orderBy("event_type")
    )
