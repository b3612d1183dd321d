"""Inference-statistics tier: grouped OLS, chi-squared contingency,
time-decayed activity scores (operators/statistics.py,
operators/timeseries.py::time_decayed_score)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from movie_rankings_spark.operators.statistics import (
    chi2_contingency,
    grouped_ols,
)
from movie_rankings_spark.operators.timeseries import time_decayed_score
from movie_rankings_spark.plans.all_queries import QUERIES
from movie_rankings_spark.session import session_conf


def test_grouped_ols_recovers_exact_line(spark):
    # y = 3x + 7 exactly -> slope 3, intercept 7, r2 = 1
    rows = [("g", x, float(3 * x + 7)) for x in range(10)]
    df = spark.createDataFrame(rows, "g string, x int, y double").withColumn(
        "y", F.col("y").cast("decimal(18,4)")
    )
    out = grouped_ols(df, ["g"], "x", "y").collect()[0]
    assert out["n_points"] == 10
    assert math.isclose(out["slope"], 3.0, rel_tol=1e-12)
    assert math.isclose(out["intercept"], 7.0, rel_tol=1e-12)
    assert math.isclose(out["r2"], 1.0, rel_tol=1e-12)


def test_grouped_ols_matches_numpy_per_group(spark):
    import numpy as np

    rows = []
    rng = np.random.RandomState(7)
    data = {}
    for g in ["a", "b"]:
        xs = np.arange(12)
        ys = (2.5 if g == "a" else -1.25) * xs + rng.randint(0, 50, 12)
        ys = np.round(ys, 4)
        data[g] = (xs, ys)
        rows += [(g, int(x), float(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "g string, x int, y double").withColumn(
        "y", F.col("y").cast("decimal(18,4)")
    )
    out = {r["g"]: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    for g, (xs, ys) in data.items():
        slope, intercept = np.polyfit(xs, ys, 1)
        assert math.isclose(out[g]["slope"], slope, rel_tol=1e-9)
        assert math.isclose(out[g]["intercept"], intercept, rel_tol=1e-9)
        r = np.corrcoef(xs, ys)[0, 1]
        assert math.isclose(out[g]["r2"], r * r, rel_tol=1e-9)


def test_chi2_contingency_hand_computed(spark):
    # 2x2 table: a/x=10, a/y=20, b/x=30, b/y=40
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20 + [("b", "x")] * 30 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(r["r"], r["c"]): r for r in chi2_contingency(df, "r", "c").collect()}
    # expected(a,x) = 30*40/100 = 12
    assert out[("a", "x")]["observed"] == 10
    assert math.isclose(out[("a", "x")]["expected"], 12.0)
    assert math.isclose(out[("a", "x")]["chi2_term"], 4.0 / 12.0)
    # chi2 total = sum (o-e)^2/e ; dof 1 -> classic 100/63 ... verify vs direct
    total = sum(r["chi2_term"] for r in out.values())
    exp = {("a", "x"): 12.0, ("a", "y"): 18.0, ("b", "x"): 28.0, ("b", "y"): 42.0}
    want = sum(
        (o - exp[k]) ** 2 / exp[k]
        for k, o in [(("a", "x"), 10), (("a", "y"), 20), (("b", "x"), 30), (("b", "y"), 40)]
    )
    assert math.isclose(total, want)


def test_time_decayed_score_python_reference(spark):
    rows = [
        (1, "2024-01-10 00:00:00", 10.0),
        (1, "2024-01-09 00:00:00", 10.0),  # 1 day old -> 5.0
        (1, "2024-01-05 00:00:00", 16.0),  # 5 days old -> 0.5
        (2, "2024-01-01 12:00:00", 3.5),  # only event -> full weight
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = {r["user_id"]: r for r in time_decayed_score(df).collect()}
    assert out[1]["n_events"] == 3
    assert math.isclose(out[1]["decayed_score"], 10.0 + 5.0 + 0.5)
    assert math.isclose(out[2]["decayed_score"], 3.5)


def test_time_decayed_score_single_shuffle(spark, sf_dir):
    df = QUERIES["decay_user_activity"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # window max + groupBy on the same key reuse one exchange; the
    # orderBy adds the final presentation range-exchange only.
    assert plan.count("Exchange hashpartitioning") == 1


def test_chi2_single_base_scan_and_no_global_window(spark, sf_dir):
    """Both total branches (row/col windows, grand scalar) must read
    the PERSISTED cell table — the base is materialized once — and no
    window may run with an empty partition spec (the lit(1) trick
    constant-folds to exactly that)."""
    df = QUERIES["chi2_lang_source"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, "cells cache must feed both branches"
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        head = m.group(1).split(",")[0].strip()
        assert not (" ASC" in head or " DESC" in head), f"global window: {m.group(1)}"


def test_key_skew_profile_hand_computed(spark):
    from movie_rankings_spark.operators.profiling import key_skew_profile

    # key 1 -> 6 rows, key 2 -> 2, key 3 -> 2 : nk=3, total=10
    rows = [(1,)] * 6 + [(2,)] * 2 + [(3,)] * 2
    df = spark.createDataFrame(rows, "k long")
    r = key_skew_profile(df, "k", "t.k").collect()[0]
    assert r["n_keys"] == 3 and r["total_rows"] == 10
    assert r["max_rows"] == 6 and r["min_rows"] == 2
    assert abs(r["avg_rows"] - 10 / 3) < 1e-12
    assert abs(r["skew_factor"] - 6 / (10 / 3)) < 1e-12
    assert r["top_share"] == 0.6
    # population stddev of [6,2,2]
    import statistics as st
    assert abs(r["stddev_rows"] - st.pstdev([6, 2, 2])) < 1e-12


def test_equidepth_buckets_balanced(spark, sf_dir):
    rows = QUERIES["histogram_equidepth_price"](spark, sf_dir).collect()
    assert len(rows) == 8
    counts = [r["n_orders"] for r in rows]
    assert max(counts) - min(counts) <= max(2, 0.02 * sum(counts))
    # buckets tile the range in order
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_price"] <= hi["min_price"]


def test_sample_k_per_lang_deterministic_and_exact_k(spark, sf_dir):
    a = QUERIES["sample_k_per_lang"](spark, sf_dir).collect()
    b = QUERIES["sample_k_per_lang"](spark, sf_dir).collect()
    assert a == b
    from collections import Counter
    per_lang = Counter(r["lang"] for r in a)
    assert all(v == 3 for v in per_lang.values())


def test_quantile_rank_map_matches_percent_rank(spark):
    """pct must equal pandas-style min-rank percent_rank, ties
    sharing one value row, across bucket boundaries."""
    import random

    from movie_rankings_spark.operators.statistics import quantile_rank_map

    rng = random.Random(3)
    vals = [float(rng.randrange(40)) for _ in range(500)]  # heavy ties
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with session_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        got = {
            r["value"]: (r["n_rows"], r["pct"])
            for r in quantile_rank_map(df, "x").collect()
        }
    n = len(vals)
    s = sorted(vals)
    for v in set(vals):
        below = sum(1 for y in vals if y < v)
        ties = vals.count(v)
        assert got[v] == (ties, below / (n - 1)), v
    # pct endpoints
    assert got[min(vals)][1] == 0.0
    assert abs(got[max(vals)][1] - (n - vals.count(max(vals))) / (n - 1)) < 1e-15


def test_quantile_rank_no_single_partition(spark, sf_dir):
    df = QUERIES["quantile_normalize_price"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the presentation orderBy is a range exchange; the rank itself
    # must never funnel through one task
    assert "Exchange SinglePartition" not in plan


def test_rolling_zscore_hand_computed(spark):
    """Stable series then a spike: the spike flags, the stable run
    does not, and rows without enough history emit NULL stats."""
    from movie_rankings_spark.operators.timeseries import rolling_zscore_anomaly

    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, 10.0 + (i % 2)) for i in range(10)]
    rows.append((10, "2024-01-01 10:10:00", 1, 500.0))  # spike
    rows.append((11, "2024-01-01 10:11:00", 1, 10.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    out = {r["event_id"]: r for r in rolling_zscore_anomaly(df).collect()}
    assert out[2]["trail_mean"] is None and not out[2]["is_anomaly"]
    assert not out[9]["is_anomaly"]
    assert out[10]["is_anomaly"]
    # after the spike enters the window, sigma explodes -> 10.0 unflagged
    assert not out[11]["is_anomaly"]
    # hand-check one mean: event 9 sees events 0..8 -> values 10,11 alternating
    import statistics as st
    vals = [10.0 + (i % 2) for i in range(9)]
    assert abs(out[9]["trail_mean"] - st.mean(vals)) < 1e-12
    assert abs(out[9]["trail_std"] - st.pstdev(vals)) < 1e-12


def test_rolling_active_users_hand_computed(spark):
    """Gap days and multi-bucket users: WAU must union across gap
    days inside the frame and reset beyond it."""
    from movie_rankings_spark.operators.timeseries import rolling_active_users

    rows = [
        # day 1: users 1,2 ; day 2: user 2 ; day 5: user 40000 (2nd
        # bitmap bucket) ; day 20: user 1 (outside any 7-day frame)
        (1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 11:00:00", 2),
        (3, "2024-01-02 10:00:00", 2),
        (4, "2024-01-05 10:00:00", 40000),
        (5, "2024-01-20 10:00:00", 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id")
    out = {r["day"]: (r["dau"], r["wau"]) for r in rolling_active_users(df, 7).collect()}
    assert out["2024-01-01"] == (2, 2)
    assert out["2024-01-02"] == (1, 2)       # union of days 1-2
    assert out["2024-01-05"] == (1, 3)       # users 1,2,40000 across buckets
    assert out["2024-01-20"] == (1, 1)       # frame reset


def test_theilsen_ignores_outlier_month(spark):
    """One corrupted point swings OLS but leaves Theil-Sen at the
    true slope (the robustness claim)."""
    from movie_rankings_spark.operators.statistics import (
        grouped_ols,
        grouped_theilsen,
    )
    from pyspark.sql import functions as F

    pts = [(i, float(10 + 2 * i)) for i in range(12)]
    pts[5] = (5, 10000.0)  # outlier
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "k string, x int, y double"
    ).select("k", "x", F.col("y").cast("decimal(18,4)").alias("y"))

    ts = grouped_theilsen(df, ["k"], "x", "y").first()
    assert abs(ts["ts_slope"] - 2.0) < 1e-9
    assert abs(ts["ts_intercept"] - 10.0) < 1e-9
    assert ts["n_points"] == 12 and ts["n_pairs"] == 66

    ols = grouped_ols(df, ["k"], "x", "y").first()
    assert abs(ols["slope"] - 2.0) > 10  # OLS is dragged by the spike


def test_theilsen_exact_on_clean_line(spark):
    from movie_rankings_spark.operators.statistics import grouped_theilsen
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", x, float(3 * x - 7)) for x in range(8)],
        "k string, x int, y double",
    ).select("k", "x", F.col("y").cast("decimal(18,4)").alias("y"))
    r = grouped_theilsen(df, ["k"], "x", "y").first()
    assert (r["ts_slope"], r["ts_intercept"]) == (3.0, -7.0)


def test_gini_known_distributions(spark):
    from movie_rankings_spark.operators.statistics import gini_exact
    from pyspark.sql import functions as F

    # perfectly equal -> 0
    eq = spark.createDataFrame([(i, 10.0) for i in range(50)], "k long, x double")
    eq = eq.select("k", F.col("x").cast("decimal(18,4)").alias("x"))
    assert abs(gini_exact(eq, "x").first()["gini"]) < 1e-12

    # one holder of everything among n -> (n-1)/n
    n = 40
    one = spark.createDataFrame(
        [(i, 100.0 if i == 0 else 0.0) for i in range(n)], "k long, x double"
    ).select("k", F.col("x").cast("decimal(18,4)").alias("x"))
    assert abs(gini_exact(one, "x").first()["gini"] - (n - 1) / n) < 1e-12

    # python-reference equality on an arbitrary multiset (with ties)
    vals = [1.0, 1.0, 2.0, 3.5, 3.5, 3.5, 10.0, 0.0, 7.25, 2.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x double"
    ).select("k", F.col("x").cast("decimal(18,4)").alias("x"))
    s = sorted(vals)
    nn = len(s)
    ref = 2 * sum((i + 1) * v for i, v in enumerate(s)) / (nn * sum(s)) - (
        nn + 1
    ) / nn
    assert abs(gini_exact(df, "x").first()["gini"] - ref) < 1e-12


def test_gini_single_partition_degenerate(spark):
    """shuffle.partitions=1 makes the percentile bound list empty; the
    single-bucket path must still produce the exact statistic (r4 fix
    for the bucket-1-vs-offsets-0 join that silently dropped rows)."""
    from movie_rankings_spark.operators.statistics import gini_exact
    from pyspark.sql import functions as F

    vals = [1.0, 1.0, 2.0, 3.5, 3.5, 3.5, 10.0, 0.0, 7.25, 2.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x double"
    ).select("k", F.col("x").cast("decimal(18,4)").alias("x"))
    s = sorted(vals)
    nn = len(s)
    ref = 2 * sum((i + 1) * v for i, v in enumerate(s)) / (nn * sum(s)) - (
        nn + 1
    ) / nn
    with session_conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        r = gini_exact(df, "x").first()
    assert r["n_values"] == nn
    assert abs(r["gini"] - ref) < 1e-12


def test_quantile_rank_map_single_bucket(spark):
    """Regression (r4): one bucket yields an empty bounds list — rows
    must land in bucket 0 and keep their exact ranks, not vanish via
    the old [-inf] sentinel's join against an offsets table that only
    knows bucket 0."""
    from movie_rankings_spark.operators.statistics import quantile_rank_map

    vals = [5.0, 1.0, 3.0, 3.0, 9.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with session_conf(spark, {"spark.sql.shuffle.partitions": "1"}):
        got = {r["value"]: r["pct"] for r in quantile_rank_map(df, "x").collect()}
    assert got == {1.0: 0.0, 3.0: 0.25, 5.0: 0.75, 9.0: 1.0}


def test_histogram_mergeable_rollup_merge_equals_rescan(spark):
    """The daily-artifact merge must equal a direct histogram of the
    fact (bin counts are exact integers), clamp out-of-range values
    into edge bins, skip NULLs, and report how many daily cells merged."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.statistics import (
        histogram_mergeable_rollup,
    )

    rows = [
        ("a", "2024-01-01", 5.0),    # bin 0
        ("a", "2024-01-02", 5.0),    # bin 0, second day
        ("a", "2024-01-01", 30.0),   # bin 1
        ("a", "2024-01-01", -10.0),  # clamps to bin 0
        ("a", "2024-01-01", 1e9),    # clamps to bin 19
        ("b", "2024-01-01", None),   # dropped
        ("b", "2024-01-02", 499.0),  # bin 19
    ]
    df = spark.createDataFrame(rows, "g string, d string, value double")
    out = {
        (r["grp"], r["bin"]): (r["n_events"], r["n_daily_cells"])
        for r in histogram_mergeable_rollup(
            df, "g", F.to_date("d"), "value", lo=0.0, step=25.0, n_bins=20
        ).collect()
    }
    assert out == {
        ("a", 0): (3, 2),   # two days contributed bin-0 cells
        ("a", 1): (1, 1),
        ("a", 19): (1, 1),
        ("b", 19): (1, 1),
    }
