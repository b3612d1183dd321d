"""Spearman rank correlation (operators/disttests.py), lag-k
autocorrelation and CUSUM change-point (operators/timeseries.py):
scipy-free closed forms and numpy brute-force cross-checks."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from movie_rankings_spark.operators.disttests import spearman_rho
from movie_rankings_spark.operators.timeseries import (
    acf_daily,
    cusum_changepoint,
)


def _pairs_df(spark, xs, ys):
    return spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x long, y long"
    )


def _spearman_numpy(xs, ys):
    def midranks(v):
        v = np.asarray(v)
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v), dtype=float)
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j + 1 < len(sv) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2 + 1
            i = j + 1
        return ranks

    ra, rb = midranks(xs), midranks(ys)
    ra -= ra.mean()
    rb -= rb.mean()
    return float((ra * rb).sum() / np.sqrt((ra**2).sum() * (rb**2).sum()))


def test_spearman_perfect_monotone(spark):
    df = _pairs_df(spark, [1, 2, 3, 4, 5], [10, 20, 30, 40, 50])
    [r] = spearman_rho(df, F.col("x"), F.col("y")).collect()
    assert r["n_rows"] == 5
    assert abs(r["rho"] - 1.0) < 1e-12


def test_spearman_perfect_inverse(spark):
    df = _pairs_df(spark, [1, 2, 3, 4], [9, 7, 5, 3])
    [r] = spearman_rho(df, F.col("x"), F.col("y")).collect()
    assert abs(r["rho"] + 1.0) < 1e-12


def test_spearman_matches_numpy_with_ties(spark):
    rng = np.random.default_rng(7)
    xs = rng.integers(0, 20, size=300)
    ys = xs * 3 + rng.integers(0, 40, size=300)  # ties in both columns
    df = _pairs_df(spark, xs, ys)
    [r] = spearman_rho(df, F.col("x"), F.col("y")).collect()
    assert abs(r["rho"] - _spearman_numpy(xs, ys)) < 1e-12


def test_spearman_rank_sum_identity(spark):
    # internal contract: sum of doubled midranks == n(n+1); a perfect
    # tie column (all equal) makes every r2 == n+1 and rho undefined
    # (zero variance) -> NULL (DuckDB's x/0.0 semantics), never a crash
    df = _pairs_df(spark, [3, 3, 3], [1, 2, 3])
    [r] = spearman_rho(df, F.col("x"), F.col("y")).collect()
    assert r["n_rows"] == 3
    assert r["rho"] is None


def _daily_df(spark, values, start="1995-01-01"):
    d0 = dt.date.fromisoformat(start)
    rows = [
        (d0 + dt.timedelta(days=i), int(v)) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "day date, cents long")


def _acf_numpy(xs, k):
    x = np.asarray(xs, dtype=float)
    xc = x - x.mean()
    return float((xc[:-k] * xc[k:]).sum() / (xc**2).sum())


def test_acf_matches_numpy(spark):
    rng = np.random.default_rng(11)
    xs = (rng.normal(1000, 100, size=120)).astype(int)
    df = _daily_df(spark, xs)
    rows = acf_daily(df, "day", F.col("cents"), max_lag=5).collect()
    assert [r["lag"] for r in rows] == [1, 2, 3, 4, 5]
    for r in rows:
        assert r["n_pairs"] == 120 - r["lag"]
        assert abs(r["acf"] - _acf_numpy(xs, r["lag"])) < 1e-12


def test_acf_periodic_signal_peaks_at_period(spark):
    xs = ([100, 500] * 40)  # period-2 alternation
    df = _daily_df(spark, xs)
    rows = {r["lag"]: r["acf"] for r in
            acf_daily(df, "day", F.col("cents"), max_lag=4).collect()}
    assert rows[2] > 0.9 and rows[4] > 0.9
    assert rows[1] < -0.9 and rows[3] < -0.9


def test_acf_gappy_series_pairs_only_existing_days(spark):
    d0 = dt.date.fromisoformat("1995-01-01")
    rows = [(d0, 10), (d0 + dt.timedelta(days=1), 20),
            (d0 + dt.timedelta(days=3), 30)]  # day 2 missing
    df = spark.createDataFrame(rows, "day date, cents long")
    out = {r["lag"]: r["n_pairs"] for r in
           acf_daily(df, "day", F.col("cents"), max_lag=3).collect()}
    # lag1: (d0,d1) only; lag2: (d1,d3); lag3: (d0,d3)
    assert out == {1: 1, 2: 1, 3: 1}


def test_cusum_finds_planted_level_shift(spark):
    xs = [100] * 30 + [200] * 30
    df = _daily_df(spark, xs, start="1995-01-01")
    [r] = cusum_changepoint(df, "day", F.col("cents")).collect()
    # cumulative deviation |n*prefix - t*S| peaks at the last
    # pre-shift day (t=30): |60*3000 - 30*9000| = 90000
    assert r["change_day"] == "1995-01-30"
    assert r["n_days"] == 60
    assert r["total_cents"] == 9000
    assert r["cusum_num"] == 60 * 3000 - 30 * 9000 or r["cusum_num"] == 90000
    assert abs(r["frac"] - 90000 / (60 * 9000)) < 1e-15


def test_cusum_constant_series_ties_break_earliest(spark):
    xs = [50] * 10
    df = _daily_df(spark, xs)
    [r] = cusum_changepoint(df, "day", F.col("cents")).collect()
    assert r["cusum_num"] == 0
    assert r["change_day"] == "1995-01-01"  # earliest day on full tie


def test_exp_smooth_matches_python_recurrence(spark):
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.timeseries import exp_smooth_daily

    vals = [120, 80, 200, 150, 150, 90, 310, 5]
    rows = [(f"2024-02-{d+1:02d}", v) for d, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "d string, v long").select(
        F.col("d").cast("date").alias("d"), "v"
    )
    out = exp_smooth_daily(df, "d", F.col("v"), alpha=0.3, beta=0.2).collect()
    ewma = lvl = float(vals[0])
    trend = 0.0
    for i, r in enumerate(out):
        x = float(vals[i])
        if i > 0:
            ewma = 0.3 * x + 0.7 * ewma
            new_lvl = 0.3 * x + 0.7 * (lvl + trend)
            trend = 0.2 * (new_lvl - lvl) + 0.8 * trend
            lvl = new_lvl
        assert r["revenue_cents"] == vals[i]
        assert r["ewma"] == ewma, (i, r["ewma"], ewma)
        assert r["holt_level"] == lvl
        assert r["holt_trend"] == trend
        assert r["forecast_next"] == lvl + trend


def test_exp_smooth_grouped_independent_series(spark):
    """Grouped smoothing: each group's recurrence must equal the
    single-series operator run on that group alone."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.timeseries import exp_smooth_daily

    rows = [
        ("a", "2024-03-01", 10), ("a", "2024-03-02", 30),
        ("a", "2024-03-03", 20), ("b", "2024-03-01", 500),
        ("b", "2024-03-02", 100),
    ]
    df = spark.createDataFrame(rows, "g string, d string, v long").select(
        "g", F.col("d").cast("date").alias("d"), "v"
    )
    grouped = {
        (r["g"], r["day"]): (r["ewma"], r["holt_level"], r["holt_trend"])
        for r in exp_smooth_daily(
            df, "d", F.col("v"), group_col="g"
        ).collect()
    }
    for g in ("a", "b"):
        solo = exp_smooth_daily(
            df.filter(F.col("g") == g), "d", F.col("v")
        ).collect()
        for r in solo:
            assert grouped[(g, r["day"])] == (
                r["ewma"], r["holt_level"], r["holt_trend"],
            )


def test_grouped_ridge_matches_closed_form(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.statistics import grouped_ridge

    from decimal import Decimal

    rng = np.random.default_rng(41)
    rows = []
    for g in ("a", "b"):
        for x in range(24):
            y = 100 + (3.0 if g == "a" else -2.0) * x + rng.normal(0, 5)
            rows.append((g, x, Decimal(str(round(float(y), 4)))))
    df = spark.createDataFrame(rows, "g string, x int, y decimal(18,4)")
    lam = 50.0
    out = {
        r["g"]: r
        for r in grouped_ridge(df, ["g"], "x", "y", lam=lam).collect()
    }
    for g in ("a", "b"):
        xs = np.array([x for gg, x, _ in rows if gg == g], dtype=float)
        ys = np.array([float(y) for gg, _, y in rows if gg == g])
        n = len(xs)
        num = n * (xs * ys).sum() - xs.sum() * ys.sum()
        den = n * (xs * xs).sum() - xs.sum() ** 2
        slope_ols = num / den
        slope_ridge = num / (den + n * lam)
        intercept = (ys.sum() - slope_ridge * xs.sum()) / n
        r = out[g]
        assert abs(r["slope_ols"] - slope_ols) < 1e-9
        assert abs(r["slope_ridge"] - slope_ridge) < 1e-9
        assert abs(r["intercept_ridge"] - intercept) < 1e-7
        assert abs(r["shrinkage"] - den / (den + n * lam)) < 1e-12
        # ridge shrinks toward zero, never past it
        assert abs(r["slope_ridge"]) < abs(r["slope_ols"])
        assert r["slope_ridge"] * r["slope_ols"] >= 0


def test_grouped_ridge_zero_lambda_equals_ols(spark):
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.statistics import (
        grouped_ols,
        grouped_ridge,
    )

    from decimal import Decimal

    rows = [
        ("g", x, Decimal(str(round(2.5 * x + 7.0, 4)))) for x in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, x int, y decimal(18,4)")
    [ols] = grouped_ols(df, ["g"], "x", "y").collect()
    [rid] = grouped_ridge(df, ["g"], "x", "y", lam=0.0).collect()
    assert abs(rid["slope_ridge"] - ols["slope"]) < 1e-12
    assert abs(rid["intercept_ridge"] - ols["intercept"]) < 1e-9
    assert rid["shrinkage"] == 1.0


def test_spearman_oracle_is_correctly_rounded_at_sf01(spark, sf_dir):
    """At sf0.1 the oracle's three integer moments pass 2^64, where
    DuckDB's HUGEINT->DOUBLE cast is not correctly rounded (the
    numerator 50580143560018800000 became 5.0580143560018805e19); the
    oracle casts them through VARCHAR, and then agrees with Spark's
    exact decimals to the last bit."""
    import duckdb

    from movie_rankings_spark.catalog import table_path
    from movie_rankings_spark.plans.all_queries import ORACLES, QUERIES

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip("needs the sf0.1 tables")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{table_path(sf01, 'lineitem')}')"
    )
    [(duck_n, duck_rho)] = con.execute(ORACLES["spearman_qty_price"]).fetchall()
    con.close()
    [row] = QUERIES["spearman_qty_price"](spark, sf01).collect()
    assert (row["n_rows"], row["rho"]) == (duck_n, duck_rho)
