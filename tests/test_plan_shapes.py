"""Physical-plan assertions — the scale contract (SURVEY.md §4).

Correctness is the oracle harness's job; these tests pin the *plans*:
filters reach the parquet scan, dimensions broadcast, top-k never
global-sorts, window+agg reuse one shuffle.
"""

from __future__ import annotations

import re

import pytest

from movie_rankings_spark.plans import all_queries
from movie_rankings_spark.session import session_conf
from tests.test_plan_lint import _BATCH, _PY_NODE, _PYTHON_RESIDENT


def test_q1_filter_pushed_to_scan(built_query):
    plan = built_query("q1_pricing_summary")[1]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: o_orderkey etc not read; scan schema stays narrow
    assert "l_comment" not in plan


def test_relational_plans_stay_jvm_side(built_query):
    """No Python evaluation nodes anywhere in the relational tier —
    everything compiles to native expressions."""
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_revenue",
        "flagship_fixture",
        "window_events_analytics",
        "json_props_stats",
    ):
        plan = built_query(name)[1]
        assert "EvalPython" not in plan, name


def test_q3_broadcasts_customer(built_query):
    plan = built_query("q3_shipping_priority")[1]
    assert "BroadcastHashJoin" in plan


def test_q3_top10_is_take_ordered(built_query):
    plan = built_query("q3_shipping_priority")[1]
    assert "TakeOrderedAndProject" in plan
    # top-k must not appear as a global Sort + CollectLimit
    assert "GlobalLimit" not in plan


def test_q5_all_dims_broadcast(built_query):
    plan = built_query("q5_local_supplier_revenue")[1]
    # 4 broadcast joins (customer, supplier, nation, region);
    # only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_q4_semi_join(built_query):
    plan = built_query("q4_order_priority_exists")[1]
    assert "LeftSemi" in plan


def test_flagship_single_shuffle_for_window_and_agg(built_query):
    """Window count on title_comp and the following groupBy share the
    same key — Catalyst must not add a second exchange."""
    plan = built_query("flagship_fixture")[1]
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 hash exchange, got {n_exchanges}"


def test_window_events_single_shuffle(built_query):
    plan = built_query("window_events_analytics")[1]
    # two window specs (ts order + value order) over the same
    # user_id partitioning: one exchange, two in-partition sorts
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.parametrize("name", sorted(all_queries.QUERIES))
def test_every_query_compiles(built_query, name):
    """Analysis (and, for batch queries, planning) succeeds without
    executing the result."""
    schema = built_query(name)[0]
    assert schema is not None


def test_q6_filters_pushed_to_scan(built_query):
    plan = built_query("q6_forecast_revenue")[1]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # (explainString truncates the filter list, so match the prefix)
    assert "GreaterThanOrEqual(l_shipda" in plan
    # projection pruned to the 3 used columns + filter columns
    assert "l_returnflag" not in plan.split("ReadSchema")[-1]


def test_q10_broadcasts_dims_and_takes_ordered(built_query):
    plan = built_query("q10_returned_items")[1]
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q18_prefilters_fact_before_join(built_query):
    """The HAVING aggregate must sit below the orders join."""
    plan = built_query("q18_large_orders")[1]
    assert "TakeOrderedAndProject" in plan
    assert plan.index("HashAggregate") > plan.index("TakeOrderedAndProject")


def test_grouping_queries_single_expand_pass(built_query):
    for name in ("cube_lineitem_flags", "grouping_sets_orders", "rollup_orders"):
        plan = built_query(name)[1]
        assert plan.count("Expand") == 1, name
        assert "EvalPython" not in plan, name


def test_new_relational_queries_stay_jvm_side(built_query):
    for name in (
        "q6_forecast_revenue",
        "q10_returned_items",
        "q12_late_shipment_priority",
        "q14_promo_revenue",
        "q18_large_orders",
        "setops_repeat_customers",
        "asof_purchase_context",
        "dedup_embedding_cosine",
    ):
        plan = built_query(name)[1]
        assert "EvalPython" not in plan, name


def test_salted_topk_equals_plain_topk(spark, sf_dir):
    """The skew-safe two-phase form must return exactly the plain
    window top-k result."""
    plain = _plan_df(spark, sf_dir, "topk_parts_per_brand").collect()
    salted = _plan_df(spark, sf_dir, "topk_parts_per_brand_salted").collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in salted]


def _plan_df(spark, sf_dir, name):
    return all_queries.QUERIES[name](spark, sf_dir)


def test_approx_percentiles_within_tolerance_of_exact(spark, sf_dir):
    """Sketch accuracy, the deterministic bound BOTH engines share
    (r5 upgrade of the rows-only gate): the Spark sketch (accuracy=
    10k) must land within 5% of the exact percentiles computed by
    Spark AND by DuckDB independently over the same parquet — a
    cross-engine anchor, not a Spark-vs-itself tautology. The bound
    is guaranteed by the GK sketch regardless of partition merge
    order, so the gate is deterministic."""
    import duckdb

    exact = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
        for r in all_queries.QUERIES["percentiles_lineitem_price"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    duck = {
        flag: (p25, p50, p75)
        for flag, p25, p50, p75 in con.execute(
            f"""
            SELECT l_returnflag,
                   quantile_disc(l_extendedprice, 0.25),
                   quantile_disc(l_extendedprice, 0.50),
                   quantile_disc(l_extendedprice, 0.75)
            FROM '{sf_dir}/lineitem.parquet' GROUP BY 1
            """
        ).fetchall()
    }
    # raw sketch values (the registered query now emits the gate
    # booleans instead — its in-query rank-error bound is the r6
    # oracle; this test keeps the independent 5% cross-engine anchor
    # on the sketch VALUES)
    from pyspark.sql import functions as F

    pct = F.percentile_approx(
        "l_extendedprice", F.lit([0.25, 0.5, 0.75]), F.lit(10_000)
    )
    approx = {
        r["l_returnflag"]: tuple(r["_p"])
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .collect()
    }
    for flag, ex in exact.items():
        for e, d, a in zip(ex, duck[flag], approx[flag]):
            a = float(a)
            assert abs(e - a) / max(abs(e), 1e-9) < 0.05, (flag, ex, approx[flag])
            assert abs(float(d) - a) / max(abs(float(d)), 1e-9) < 0.05, (
                flag, duck[flag], approx[flag],
            )
    gates = all_queries.QUERIES["approx_percentiles_price"](
        spark, sf_dir
    ).collect()
    assert gates and all(
        r["p25_in_bound"] and r["p50_in_bound"] and r["p75_in_bound"]
        for r in gates
    )


def test_q13_preserves_left_outer(built_query):
    plan = built_query("q13_customer_distribution")[1]
    assert "LeftOuter" in plan


def test_q19_pushes_common_conjuncts_below_join(built_query):
    """Catalyst must extract single-side conjuncts from the OR-of-ANDs
    so both scans are filtered before the join."""
    plan = built_query("q19_disjunctive_revenue")[1]
    # lineitem side: quantity range union pushed to the scan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0] or \
        "GreaterThanOrEqual(l_quantity" in plan
    # part side: type/size disjunction pushed
    assert plan.count("PushedFilters") == 2


def test_q22_no_global_window(built_query):
    """Scalar AVG must be a broadcast join, never Window over ()."""
    plan = built_query("q22_global_sales_opportunity")[1]
    assert "Window" not in plan
    assert "LeftAnti" in plan


def test_shuffle_deterministic_no_single_partition(spark, sf_dir):
    """The global training-order ordinal must come from the bucketed
    zipWithIndex two-pass, never a bare Window.orderBy whose
    Exchange SinglePartition funnels the corpus through one task.
    (The query's final presentation orderBy plans as a range
    exchange, which is fine.)"""
    from movie_rankings_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = textops.shuffle_deterministic(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan
    assert "EvalPython" not in plan


def test_q21_semi_and_anti_self_joins(built_query):
    plan = built_query("q21_waiting_suppliers")[1]
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_q2_decorrelated_no_nested_loop(built_query):
    """The correlated MIN scalar subquery must de-correlate into a
    per-part window over the dim-pruned cost slice — never a
    per-outer-row re-execution (nested loop) or a second fact scan."""
    plan = built_query("q2_min_cost_supplier")[1]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # dims broadcast into the (part, supplier) cost table
    assert plan.count("BroadcastHashJoin") >= 2
    # part filters reach the scan
    assert "LessThanOrEqual(p_size,15)" in plan
    assert "EvalPython" not in plan


def test_q8_part_filter_pushed_and_dims_broadcast(built_query):
    plan = built_query("q8_market_share")[1]
    # p_type filter must reach the part scan, not evaluate post-join
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q11_threshold_is_broadcast_not_window(built_query):
    """The global 0.1% threshold joins back as a 1-row broadcast —
    never a Window over an empty partitioning (single-task sort)."""
    plan = built_query("q11_important_parts")[1]
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q16_anti_join_excludes_suppliers(built_query):
    plan = built_query("q16_supplier_part_profile")[1]
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan


def test_sessionize_single_hash_shuffle(built_query):
    """Both windows (lag + running sum) and the session aggregate share
    the user_id partitioning — one hash exchange end-to-end."""
    plan = built_query("sessionize_events")[1]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


@pytest.mark.parametrize("name", _BATCH)
def test_python_stages_only_where_declared(built_query, name):
    """Catching accidental UDF creep: a Python node appearing in any
    query outside the plan lint's ``_PYTHON_RESIDENT`` is a performance
    regression, not a style issue."""
    plan = built_query(name)[1]
    has_py = bool(_PY_NODE.search(plan))
    assert has_py == (name in _PYTHON_RESIDENT), name


def test_changelog_snapshot_is_aggregation_not_window(built_query):
    """Latest-wins compaction must compile to max_by aggregation
    (map-side combine, no sort), never a row_number window over the
    full history."""
    plan = built_query("changelog_latest_snapshot")[1]
    assert "max_by" in plan
    assert "partial_max" in plan  # partial agg = map-side pre-reduction
    assert "Window" not in plan
    assert "row_number" not in plan


def test_rolling_revenue_windows_over_preaggregate(built_query):
    """The 7-day RANGE frame must consume the (customer, day)
    pre-aggregate: the window sort sees one row per active day, not
    one per order."""
    plan = built_query("window_rolling_revenue_7d")[1]
    assert "RangeFrame" in plan  # genuine time-range frame, not ROWS
    # tree prints top-down: the Window node sits above the day-level
    # HashAggregate it consumes
    assert plan.index("Window") < plan.index("HashAggregate")


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Semi-join reduction without a broadcast: a selective filter on
    one shuffle-join side injects a bloom filter of its join keys
    into the other side's scan (might_contain below the join). The
    production thresholds (10MB/10GB) only fire at scale, so this
    pins the mechanism with them lowered."""
    from pyspark.sql import functions as F

    bloom = "spark.sql.optimizer.runtime.bloomFilter."
    with session_conf(
        spark,
        {
            bloom + "creationSideThreshold": "100MB",
            bloom + "applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        sf = "/root/testdata/sf0.01"
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan


def test_repetition_bigram_single_tokenize_no_join(built_query):
    """The token array must materialize once below the Generate
    (projection collapse would re-split per shingle reference) and the
    per-doc max must fold into the aggregation chain, not a join."""
    plan = built_query("quality_repetition_bigram")[1]
    assert plan.count("split(text") == 1
    assert "Join" not in plan


def test_hll_union_matches_direct_sketch_and_exact(spark, sf_dir):
    """The mergeable-rollup contract: unioning daily sketches must
    estimate the same count as sketching the whole column directly
    (identical sketch algorithm, same lgK), and land within 5% of the
    exact distinct count. Built inline since r8: the registered
    hll_users_mergeable_rollup query now runs the engine-portable
    register layout (oracle-backed), so the Datasketches
    hll_sketch_agg/hll_union_agg arm is pinned here."""
    from pyspark.sql import functions as F
    from movie_rankings_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    merged = {
        r["event_type"]: r["approx_users"]
        for r in daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
        )
        .collect()
    }
    direct = {
        r["event_type"]: r["est"]
        for r in e.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert merged == direct  # union of partials == one-shot sketch
    for t, est in merged.items():
        assert abs(est - exact[t]) / exact[t] < 0.05, (t, est, exact[t])


def test_curriculum_order_no_single_partition(spark, sf_dir):
    """Same contract as shuffle_deterministic: the global curriculum
    ordinal must come from the composite-bucket two-pass, never a bare
    global window."""
    from movie_rankings_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = textops.curriculum_order(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "SinglePartition" not in plan
    # positions are a permutation of 1..n and deciles are monotone
    # along the schedule
    rows = sorted(df.collect(), key=lambda r: r["position"])
    assert [r["position"] for r in rows] == list(range(1, len(rows) + 1))
    deciles = [r["decile"] for r in rows]
    assert deciles == sorted(deciles)


def test_bitmap_rollup_merges_cached_daily_table(spark, sf_dir, built_query):
    """The merged per-type distinct must come from bitmap_or_agg over
    the PERSISTED daily bitmap table (one events scan feeds both
    branches), and the exact merge must agree with countDistinct."""
    plan = built_query("bitmap_users_rollup")[1]
    df = all_queries.QUERIES["bitmap_users_rollup"](spark, sf_dir)
    assert "bitmap_or_agg" in plan
    assert "InMemoryTableScan" in plan
    rows = {r["event_type"]: r for r in df.collect()}
    from pyspark.sql import functions as F
    from movie_rankings_spark.catalog import load_table

    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for t, r in rows.items():
        assert r["distinct_users_merged"] == exact[t]
        assert r["sum_daily_distinct"] >= r["distinct_users_merged"]
