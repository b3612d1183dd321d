"""KS two-sample, Mann–Whitney U, Benford audit
(operators/disttests.py): hand-computed closed forms, a brute-force
numpy cross-check with ties, and the bucketed-cumulative machinery
exercised at several bucket counts."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from movie_rankings_spark.operators.disttests import (
    BENFORD_EXPECTED,
    benford_first_digit,
    ks_two_sample,
    mannwhitney_u,
)


def _two_group_df(spark, a_vals, b_vals):
    rows = [(int(v), 1, 0) for v in a_vals] + [(int(v), 0, 1) for v in b_vals]
    return spark.createDataFrame(rows, "v long, a int, b int")


def test_ks_hand_computed(spark):
    # A = {1,2,3}, B = {2,3,4}: ECDF gap is 1/3 at v in {1,2,3};
    # smallest attaining value wins the tie-break.
    df = _two_group_df(spark, [1, 2, 3], [2, 3, 4])
    [r] = ks_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["d_num"] == 3
    assert r["at_value"] == 1
    assert abs(r["ks_d"] - 1 / 3) < 1e-15


def test_ks_identical_samples_zero(spark):
    df = _two_group_df(spark, [5, 7, 7, 9], [5, 7, 7, 9])
    [r] = ks_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    assert r["d_num"] == 0 and r["ks_d"] == 0.0


def test_ks_disjoint_samples_one(spark):
    df = _two_group_df(spark, [1, 2], [10, 11, 12])
    [r] = ks_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    assert r["ks_d"] == 1.0 and r["at_value"] == 2


def test_ks_brute_force_with_ties(spark):
    rng = np.random.default_rng(7)
    a = rng.integers(0, 40, size=137)
    b = rng.integers(5, 45, size=211)
    df = _two_group_df(spark, a, b)
    [r] = ks_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    vs = np.unique(np.concatenate([a, b]))
    ca = np.array([(a <= v).sum() for v in vs], dtype=np.int64)
    cb = np.array([(b <= v).sum() for v in vs], dtype=np.int64)
    d = np.abs(ca * len(b) - cb * len(a))
    assert r["d_num"] == int(d.max())
    assert r["at_value"] == int(vs[d.argmax()])  # argmax = first max
    assert abs(r["ks_d"] - d.max() / (len(a) * len(b))) < 1e-15


def test_mwu_brute_force_with_ties(spark):
    rng = np.random.default_rng(11)
    a = rng.integers(0, 30, size=83)
    b = rng.integers(4, 34, size=129)
    df = _two_group_df(spark, a, b)
    [r] = mannwhitney_u(df, "v", F.col("a"), F.col("b")).collect()
    gt = (a[:, None] > b[None, :]).sum()
    eq = (a[:, None] == b[None, :]).sum()
    u_a_x2 = int(2 * gt + eq)
    na, nb, n = len(a), len(b), len(a) + len(b)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["u_a_x2"] == u_a_x2
    assert r["u_b_x2"] == 2 * na * nb - u_a_x2
    _, t = np.unique(np.concatenate([a, b]), return_counts=True)
    tie_term = int((t.astype(np.int64) ** 3 - t).sum())
    assert r["tie_term"] == tie_term
    assert abs(r["rank_biserial"] - (u_a_x2 - na * nb) / (na * nb)) < 1e-12
    var = na * nb / 12.0 * ((n + 1) - tie_term / (n * (n - 1)))
    assert abs(r["z"] - (u_a_x2 - na * nb) / (2.0 * math.sqrt(var))) < 1e-12


def test_mwu_symmetric_samples(spark):
    # identical samples: U_A = U_B = n^2/2 (x2 = n^2), effect 0
    df = _two_group_df(spark, [3, 5, 5, 8], [3, 5, 5, 8])
    [r] = mannwhitney_u(df, "v", F.col("a"), F.col("b")).collect()
    assert r["u_a_x2"] == r["u_b_x2"] == 16
    assert r["rank_biserial"] == 0.0 and r["z"] == 0.0


def test_bucketed_cum_matches_across_bucket_counts(spark):
    # the bucket count must not change any answer — run the same KS
    # at 1 bucket (pure window) and many buckets (offsets dominate)
    from movie_rankings_spark.operators.disttests import _bucketed_cum2
    from movie_rankings_spark.session import session_conf

    rng = np.random.default_rng(3)
    a = rng.integers(0, 1000, size=500)
    b = rng.integers(0, 1000, size=400)
    df = _two_group_df(spark, a, b)
    outs = []
    for k in (1, 4, 64):
        with session_conf(spark, {"spark.sql.shuffle.partitions": str(k)}):
            cum, n_a, n_b = _bucketed_cum2(df, "v", F.col("a"), F.col("b"))
            rows = sorted(
                (r["v"], r["cum_a"], r["cum_b"]) for r in cum.collect()
            )
        outs.append((n_a, n_b, rows))
    assert outs[0] == outs[1] == outs[2]


def test_cvm_hand_computed(spark):
    # A = {1}, B = {2}: at v=1, F_A=1, F_B=0 (gap 1, pooled count 1);
    # at v=2 the gap closes.  T = nm/N^2 * sum = 1/4 * 1 = 0.25 —
    # the scipy.stats.cramervonmises_2samp value for this pair.
    df = _two_group_df(spark, [1], [2])
    from movie_rankings_spark.operators.disttests import cvm_two_sample

    [r] = cvm_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    assert (r["n_a"], r["n_b"]) == (1, 1)
    assert abs(r["t_stat"] - 0.25) < 1e-15


def test_cvm_brute_force_with_ties(spark):
    # numpy reference for Anderson's count form: T = nm/N^2 *
    # sum over pooled distinct v of c_v * (F_A(v) - F_B(v))^2,
    # the normalization scipy.stats.cramervonmises_2samp uses.
    rng = np.random.default_rng(13)
    a = rng.integers(0, 40, size=97)
    b = rng.integers(5, 50, size=143)
    df = _two_group_df(spark, a, b)
    from movie_rankings_spark.operators.disttests import cvm_two_sample

    [r] = cvm_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    n, m = len(a), len(b)
    vs = np.unique(np.concatenate([a, b]))
    ca = np.array([(a <= v).sum() for v in vs], dtype=np.float64)
    cb = np.array([(b <= v).sum() for v in vs], dtype=np.float64)
    cv = np.array(
        [(a == v).sum() + (b == v).sum() for v in vs], dtype=np.float64
    )
    t_ref = (n * m / (n + m) ** 2) * float(
        (cv * (ca / n - cb / m) ** 2).sum()
    )
    assert (r["n_a"], r["n_b"]) == (n, m)
    assert abs(r["t_stat"] - t_ref) < 1e-12


def test_cvm_identical_samples_zero(spark):
    df = _two_group_df(spark, [3, 5, 5, 9], [3, 5, 5, 9])
    from movie_rankings_spark.operators.disttests import cvm_two_sample

    [r] = cvm_two_sample(df, "v", F.col("a"), F.col("b")).collect()
    assert r["t_stat"] == 0.0


def test_benford_known_counts(spark):
    # 1, 19, 123 -> digit 1 x3; 250 -> 2; 999 -> 9; 0 and -5 dropped
    df = spark.createDataFrame(
        [(1,), (19,), (123,), (250,), (999,), (0,), (-5,)], "c long"
    )
    rows = benford_first_digit(df, F.col("c")).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    by_d = {r["digit"]: r for r in rows}
    assert by_d[1]["observed"] == 3
    assert by_d[2]["observed"] == 1
    assert by_d[9]["observed"] == 1
    assert by_d[5]["observed"] == 0  # missing digit kept at 0
    assert all(r["total"] == 5 for r in rows)
    assert abs(by_d[1]["share"] - 0.6) < 1e-15
    assert abs(by_d[1]["dev"] - (0.6 - BENFORD_EXPECTED[1])) < 1e-15


def test_benford_expected_constants_are_log10():
    for d, e in BENFORD_EXPECTED.items():
        assert abs(e - math.log10(1 + 1 / d)) < 1e-15
    assert abs(sum(BENFORD_EXPECTED.values()) - 1.0) < 1e-12


def test_welch_matches_numpy_reference(spark):
    rng = np.random.RandomState(11)
    a = rng.randint(100, 10_000, 80)
    b = rng.randint(200, 12_000, 65)
    rows = [(int(v), 1, 0) for v in a] + [(int(v), 0, 1) for v in b]
    df = spark.createDataFrame(rows, "v long, a int, b int")
    from movie_rankings_spark.operators.disttests import welch_t_test

    [r] = welch_t_test(df, F.col("v"), F.col("a"), F.col("b")).collect()
    ma, mb = a.mean(), b.mean()
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2a, se2b = va / len(a), vb / len(b)
    t = (ma - mb) / math.sqrt(se2a + se2b)
    df_ref = (se2a + se2b) ** 2 / (
        se2a**2 / (len(a) - 1) + se2b**2 / (len(b) - 1)
    )
    assert (r["n_a"], r["n_b"]) == (80, 65)
    assert abs(r["mean_a"] - ma) < 1e-9
    assert abs(r["var_a"] - va) < 1e-6
    assert abs(r["t_stat"] - t) < 1e-10
    assert abs(r["df"] - df_ref) < 1e-8


def test_welch_excludes_null_values(spark):
    rows = [(5, 1, 0), (None, 1, 0), (7, 0, 1), (9, 0, 1)]
    df = spark.createDataFrame(rows, "v long, a int, b int")
    from movie_rankings_spark.operators.disttests import welch_t_test

    [r] = welch_t_test(df, F.col("v"), F.col("a"), F.col("b")).collect()
    assert (r["n_a"], r["n_b"]) == (1, 2)
    # degenerate group (n_a = 1): statistics are NULL, never an error
    assert r["var_a"] is None and r["t_stat"] is None


def test_anova_matches_numpy_reference(spark):
    rng = np.random.RandomState(7)
    groups = {
        "a": rng.randint(10, 500, 40),
        "b": rng.randint(50, 700, 55),
        "c": rng.randint(5, 300, 30),
    }
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    from movie_rankings_spark.operators.disttests import anova_oneway

    out = {r["group"]: r for r in anova_oneway(df, "g", F.col("v")).collect()}
    allv = np.concatenate(list(groups.values())).astype(float)
    grand = allv.mean()
    ssb = sum(len(v) * (v.mean() - grand) ** 2 for v in groups.values())
    ssw = sum(((v - v.mean()) ** 2).sum() for v in groups.values())
    k, n = len(groups), len(allv)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    for g, vs in groups.items():
        r = out[g]
        assert r["n_group"] == len(vs)
        assert r["sum_cents"] == int(vs.sum())
        assert abs(r["mean_cents"] - vs.mean()) < 1e-9
        # scale-0 term quantization: within 1 count² per group
        assert abs(r["ss_within_g"] - ((vs - vs.mean()) ** 2).sum()) < 1.0
        assert abs(r["ss_between"] - ssb) < 2.0
        assert abs(r["ss_within"] - ssw) < 2.0
        assert abs(r["f_stat"] - f_ref) < 1e-3


def test_kruskal_matches_rank_reference(spark):
    rng = np.random.RandomState(3)
    groups = {
        "x": rng.randint(0, 30, 25),
        "y": rng.randint(5, 35, 40),
        "z": rng.randint(0, 20, 15),
    }
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    from movie_rankings_spark.operators.disttests import kruskal_wallis

    out = {
        r["group"]: r for r in kruskal_wallis(df, "g", "v").collect()
    }
    import pandas as pd

    allv = pd.Series(np.concatenate(list(groups.values())))
    ranks = allv.rank(method="average")
    n = len(allv)
    idx = 0
    h = 0.0
    for g, vs in groups.items():
        rsum = float(ranks.iloc[idx : idx + len(vs)].sum())
        idx += len(vs)
        assert out[g]["rank_sum_x2"] == int(round(2 * rsum))
        assert abs(out[g]["mean_rank"] - rsum / len(vs)) < 1e-9
        h += rsum**2 / len(vs)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    _, counts = np.unique(allv.to_numpy(), return_counts=True)
    tie = float((counts**3 - counts).sum())
    h_corr = h / (1 - tie / (n**3 - n))
    any_row = next(iter(out.values()))
    assert abs(any_row["h"] - h) < 1e-6
    assert abs(any_row["h_corrected"] - h_corr) < 1e-6


def test_kendall_matches_bruteforce(spark):
    rng = np.random.RandomState(5)
    x = rng.randint(0, 8, 120)
    y = rng.randint(0, 6, 120)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(x, y)], "x long, y long"
    )
    from movie_rankings_spark.operators.disttests import kendall_tau_b

    [r] = kendall_tau_b(df, F.col("x"), F.col("y")).collect()
    conc = disc = tx = ty = 0
    n = len(x)
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = x[i] - x[j], y[i] - y[j]
            if dx == 0 and dy == 0:
                tx += 1
                ty += 1
            elif dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif (dx > 0) == (dy > 0):
                conc += 1
            else:
                disc += 1
    n0 = n * (n - 1) // 2
    tau = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert (r["concordant"], r["discordant"]) == (conc, disc)
    assert (r["ties_x_pairs"], r["ties_y_pairs"]) == (tx, ty)
    assert abs(r["tau_b"] - tau) < 1e-12


def test_weighted_quantiles_bruteforce(spark):
    rng = np.random.RandomState(9)
    vals = rng.randint(1, 200, 300)
    wts = rng.randint(1, 9, 300)
    df = spark.createDataFrame(
        [(int(v), int(w)) for v, w in zip(vals, wts)], "v long, w long"
    )
    from movie_rankings_spark.operators.statistics import weighted_quantiles

    out = {
        (r["q_num"], r["q_den"]): r
        for r in weighted_quantiles(df, F.col("v"), F.col("w")).collect()
    }
    order = np.argsort(vals, kind="stable")
    sv, sw = vals[order], wts[order]
    W = int(sw.sum())
    for num, den in [(25, 100), (50, 100), (75, 100)]:
        cum = 0
        for v, w in zip(sv, sw):
            cum += int(w)
            if cum * den >= num * W:
                # inclusive cum weight AT the chosen distinct value
                want_v = int(v)
                want_cum = int(sw[sv <= v].sum())
                break
        r = out[(num, den)]
        assert r["value"] == want_v, (num, r)
        assert r["cum_weight"] == want_cum
        assert r["total_weight"] == W


def test_mcnemar_hand_computed(spark):
    # pairs: 3 concordant-pos, 2 concordant-neg, 4 a-only, 1 b-only
    rows = (
        [(1, 1)] * 3 + [(0, 0)] * 2 + [(1, 0)] * 4 + [(0, 1)] * 1
        + [(None, 1)]  # dropped: needs both raters
    )
    df = spark.createDataFrame(rows, "a int, b int")
    from movie_rankings_spark.operators.disttests import mcnemar_test

    [r] = mcnemar_test(df, F.col("a"), F.col("b")).collect()
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (3, 4, 1, 2)
    assert r["n_discordant"] == 5
    assert abs(r["chi2"] - (4 - 1) ** 2 / 5) < 1e-15


def test_mcnemar_no_discordant_is_null(spark):
    df = spark.createDataFrame([(1, 1), (0, 0)], "a int, b int")
    from movie_rankings_spark.operators.disttests import mcnemar_test

    [r] = mcnemar_test(df, F.col("a"), F.col("b")).collect()
    assert r["chi2"] is None


def test_effect_sizes_match_numpy(spark):
    rng = np.random.RandomState(3)
    a = rng.randint(100, 9000, 60)
    b = rng.randint(300, 11000, 45)
    df = _two_group_df(spark, a, b)
    from movie_rankings_spark.operators.disttests import effect_sizes

    [r] = effect_sizes(df, F.col("v"), F.col("a"), F.col("b")).collect()
    na, nb = len(a), len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    sp = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = (a.mean() - b.mean()) / sp
    j = 1 - 3 / (4 * (na + nb - 2) - 1)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert abs(r["cohens_d"] - d) < 1e-12
    assert abs(r["hedges_g"] - d * j) < 1e-12
    assert abs(r["glass_delta"] - (a.mean() - b.mean()) / math.sqrt(vb)) < 1e-12


def test_grubbs_matches_numpy_and_tiebreak(spark):
    vals = [10, 12, 11, 13, 9, 50]  # 50 is the outlier
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    from movie_rankings_spark.operators.disttests import grubbs_max_outlier

    [r] = grubbs_max_outlier(df, F.col("v")).collect()
    x = np.array(vals, dtype=float)
    g = np.abs(x - x.mean()).max() / x.std(ddof=1)
    assert r["outlier_value"] == 50
    assert abs(r["g_stat"] - g) < 1e-12
    # symmetric tie: the larger value wins deterministically
    df2 = spark.createDataFrame([(0,), (10,)], "v long")
    [r2] = grubbs_max_outlier(df2, F.col("v")).collect()
    assert r2["outlier_value"] == 10


def test_runs_test_hand_computed(spark):
    # sequence 1 1 0 0 0 1 0 -> runs: [11][000][1][0] = 4
    seq = [1, 1, 0, 0, 0, 1, 0]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(seq)], "t int, x int"
    )
    from movie_rankings_spark.operators.disttests import runs_test

    [r] = runs_test(df, F.col("t"), F.col("x")).collect()
    n, n1, n0 = 7, 3, 4
    mu = 2 * n1 * n0 / n + 1
    var = 2 * n1 * n0 * (2 * n1 * n0 - n) / (n * n * (n - 1))
    assert (r["n"], r["n_pos"], r["n_neg"], r["n_runs"]) == (7, 3, 4, 4)
    assert abs(r["z"] - (4 - mu) / math.sqrt(var)) < 1e-14


def test_friedman_matches_reference(spark):
    # classic 4 blocks x 3 treatments with a tie inside block 2
    data = {
        ("b1", "x"): 1.0, ("b1", "y"): 2.0, ("b1", "z"): 3.0,
        ("b2", "x"): 2.0, ("b2", "y"): 2.0, ("b2", "z"): 5.0,
        ("b3", "x"): 1.0, ("b3", "y"): 3.0, ("b3", "z"): 2.0,
        ("b4", "x"): 1.0, ("b4", "y"): 2.0, ("b4", "z"): 3.0,
        ("b5", "x"): 9.0,  # incomplete block: dropped
    }
    rows = [(b, t, v) for (b, t), v in data.items()]
    df = spark.createDataFrame(rows, "blk string, trt string, y double")
    from movie_rankings_spark.operators.disttests import friedman_test

    [r] = friedman_test(
        df, F.col("blk"), F.col("trt"), F.col("y")
    ).collect()
    # reference: tie-corrected Friedman on the 4 complete blocks
    import itertools

    blocks = ["b1", "b2", "b3", "b4"]
    trts = ["x", "y", "z"]
    ranks = {}
    for b in blocks:
        vals = [(data[(b, t)], t) for t in trts]
        for t in trts:
            v = data[(b, t)]
            less = sum(1 for w, _ in vals if w < v)
            eq = sum(1 for w, _ in vals if w == v)
            ranks[(b, t)] = less + (eq + 1) / 2
    n, k = len(blocks), len(trts)
    s = {t: sum(ranks[(b, t)] for b in blocks) for t in trts}
    num = (k - 1) * sum((s[t] - n * (k + 1) / 2) ** 2 for t in trts)
    den = sum(r_ * r_ for r_ in ranks.values()) - n * k * (k + 1) ** 2 / 4
    assert (r["n_blocks"], r["k_treatments"]) == (4, 3)
    assert abs(r["chi2_f"] - num / den) < 1e-12


def test_durbin_watson_matches_numpy(spark):
    rng = np.random.RandomState(8)
    days = [f"2024-02-{d+1:02d}" for d in range(25)]
    cents = (1000 + 37 * np.arange(25) + rng.randint(-200, 200, 25)).tolist()
    rows = [(d, int(c)) for d, c in zip(days, cents)]
    df = spark.createDataFrame(rows, "day string, cents long").withColumn(
        "day", F.col("day").cast("date")
    )
    from movie_rankings_spark.operators.timeseries import durbin_watson_daily

    [r] = durbin_watson_daily(df, "day", F.col("cents")).collect()
    t = np.arange(1, 26, dtype=float)
    y = np.array(cents, dtype=float)
    b = ((len(t) * (t * y).sum() - t.sum() * y.sum())
         / (len(t) * (t * t).sum() - t.sum() ** 2))
    a = (y.sum() - b * t.sum()) / len(t)
    # mirror the operator's DECIMAL(28,4) residual quantization
    e = np.round(y - (a + b * t), 4)
    dw = (np.diff(e) ** 2).sum() / (e * e).sum()
    assert r["n_days"] == 25
    assert abs(r["slope"] - b) < 1e-9
    assert abs(r["dw"] - dw) < 1e-9


def test_cochran_q_hand_computed_and_mcnemar_equivalence(spark):
    from movie_rankings_spark.operators.disttests import (
        cochran_q,
        mcnemar_test,
    )

    rows = [(1, 1, 0), (1, 0, 0), (0, 1, 1), (1, 1, 1), (0, 0, 0), (1, 0, 1)]
    df = spark.createDataFrame(rows, "a int, b int, c int")
    [r] = cochran_q(
        df, [F.col("a"), F.col("b"), F.col("c")], ["ca", "cb", "cc"]
    ).collect()
    k = 3
    cs = [sum(x[j] for x in rows) for j in range(3)]
    t = sum(cs)
    srs = sum(sum(x) ** 2 for x in rows)
    q = (k - 1) * (k * sum(c * c for c in cs) - t * t) / (k * t - srs)
    assert (r["ca"], r["cb"], r["cc"]) == tuple(cs)
    assert (r["t_total"], r["sum_row_sq"]) == (t, srs)
    assert abs(r["q_stat"] - q) < 1e-12
    # k = 2: Q reduces to McNemar's chi2 on the same pairs
    df2 = df.select("a", "b")
    [q2] = cochran_q(df2, [F.col("a"), F.col("b")]).collect()
    [m2] = mcnemar_test(df2, F.col("a"), F.col("b")).collect()
    assert abs(q2["q_stat"] - m2["chi2"]) < 1e-12


def test_mann_kendall_matches_brute_force(spark):
    rng = np.random.RandomState(21)
    y = (100 + 3 * np.arange(40) + rng.randint(-30, 30, 40)).tolist()
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(y)], "t int, y long"
    )
    from movie_rankings_spark.operators.disttests import mann_kendall

    [r] = mann_kendall(df, F.col("t"), F.col("y")).collect()
    n = len(y)
    s = sum(
        np.sign(y[j] - y[i]) for i in range(n) for j in range(i + 1, n)
    )
    _, t = np.unique(y, return_counts=True)
    var = (n * (n - 1) * (2 * n + 5) - sum(
        int(tt) * (tt - 1) * (2 * tt + 5) for tt in t
    )) / 18
    z = (s - 1) / math.sqrt(var) if s > 0 else (
        (s + 1) / math.sqrt(var) if s < 0 else 0.0
    )
    assert (r["n"], r["s_stat"]) == (n, int(s))
    assert abs(r["var_s"] - var) < 1e-9
    assert abs(r["z"] - z) < 1e-12


def test_mann_kendall_flat_series(spark):
    df = spark.createDataFrame([(i, 7) for i in range(10)], "t int, y long")
    from movie_rankings_spark.operators.disttests import mann_kendall

    [r] = mann_kendall(df, F.col("t"), F.col("y")).collect()
    assert r["s_stat"] == 0 and r["z"] == 0.0 and r["var_s"] == 0.0


def test_jonckheere_terpstra_matches_brute_force(spark):
    rng = np.random.RandomState(17)
    groups = {1: 25, 2: 30, 3: 20, 4: 28}
    data = {
        g: (rng.randint(0, 8, n) + g).tolist() for g, n in groups.items()
    }  # planted ordered shift, heavy ties (domain 8)
    rows = [(g, int(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g int, v long")
    from movie_rankings_spark.operators.disttests import jonckheere_terpstra

    [r] = jonckheere_terpstra(df, F.col("g"), F.col("v")).collect()
    gs = sorted(data)
    jt2 = 0
    for a in range(len(gs)):
        for bq in range(a + 1, len(gs)):
            for x in data[gs[a]]:
                for yv in data[gs[bq]]:
                    jt2 += 2 if x < yv else (1 if x == yv else 0)
    n = sum(groups.values())
    ni = list(groups.values())
    pooled = [v for vs in data.values() for v in vs]
    _, tj = np.unique(pooled, return_counts=True)
    tj = [int(x) for x in tj]
    mean2 = (n * n - sum(x * x for x in ni)) / 2
    var = (
        (n * (n - 1) * (2 * n + 5)
         - sum(x * (x - 1) * (2 * x + 5) for x in ni)
         - sum(x * (x - 1) * (2 * x + 5) for x in tj)) / 72
        + (sum(x * (x - 1) * (x - 2) for x in ni)
           * sum(x * (x - 1) * (x - 2) for x in tj))
        / (36 * n * (n - 1) * (n - 2))
        + (sum(x * (x - 1) for x in ni) * sum(x * (x - 1) for x in tj))
        / (8 * n * (n - 1))
    )
    z = (jt2 - mean2) / (2 * math.sqrt(var))
    assert (r["n"], r["k_groups"], r["jt2"]) == (n, 4, jt2)
    assert abs(r["mean2"] - mean2) < 1e-9
    assert abs(r["var_jt"] - var) < 1e-9
    assert abs(r["z"] - z) < 1e-12
    assert r["z"] > 3  # the planted ordered shift is detected


def test_mood_median_hand_computed(spark):
    from movie_rankings_spark.operators.disttests import mood_median_test

    rows = (
        [("a", v) for v in [1, 2, 3, 4]]
        + [("b", v) for v in [3, 4, 5, 6]]
        + [("c", v) for v in [5, 6, 7, 8]]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["group"]: r for r in mood_median_test(
        df, F.col("g"), F.col("v")
    ).collect()}
    # pooled sorted: 1 2 3 3 4 4 5 5 6 6 7 8; N=12, ceil(N/2)=6 -> lower
    # median = smallest v with cum >= 6 = 4
    assert out["a"]["median_value"] == 4
    assert (out["a"]["n_le_median"], out["a"]["n_gt_median"]) == (4, 0)
    assert (out["b"]["n_le_median"], out["b"]["n_gt_median"]) == (2, 2)
    assert (out["c"]["n_le_median"], out["c"]["n_gt_median"]) == (0, 4)
    le_t, nt = 6, 12
    chi = 0.0
    for n, o in ((4, 4), (4, 2), (4, 0)):
        e_le = n * le_t / nt
        e_gt = n * (nt - le_t) / nt
        chi += round((o - e_le) ** 2 / e_le, 9) + round(
            (n - o - e_gt) ** 2 / e_gt, 9
        )
    assert abs(out["a"]["chi2"] - chi) < 1e-9
    assert abs(out["a"]["exp_le"] - 2.0) < 1e-15


def test_partial_correlation_matches_numpy(spark):
    rng = np.random.RandomState(4)
    z = rng.randint(0, 100, 300)
    x = 2 * z + rng.randint(0, 40, 300)
    y = 3 * z + rng.randint(0, 60, 300)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(x, y, z)],
        "x long, y long, z long",
    )
    from movie_rankings_spark.operators.statistics import partial_correlation

    [r] = partial_correlation(
        df, F.col("x"), F.col("y"), F.col("z")
    ).collect()
    cm = np.corrcoef(np.vstack([x, y, z]))
    rxy, rxz, ryz = cm[0, 1], cm[0, 2], cm[1, 2]
    ref = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert abs(r["r_xy"] - rxy) < 1e-10
    assert abs(r["pcorr_xy_given_z"] - ref) < 1e-9
    # x,y are driven by z: raw corr high, partial collapses
    assert r["r_xy"] > 0.9 and abs(r["pcorr_xy_given_z"]) < 0.2


def test_concentration_indices_hand_computed(spark):
    from movie_rankings_spark.operators.statistics import (
        concentration_indices,
    )

    # shares 0.5, 0.3, 0.2
    df = spark.createDataFrame(
        [(1, 50), (2, 30), (3, 20)], "k int, v long"
    )
    [r] = concentration_indices(df, F.col("k"), F.col("v")).collect()
    assert r["n_keys"] == 3 and r["total_cents"] == 100
    assert abs(r["hhi"] - (0.25 + 0.09 + 0.04)) < 1e-15
    ref_t = sum(
        s * round(math.log(3 * s), 9) for s in (0.5, 0.3, 0.2)
    )
    assert abs(r["theil_t"] - ref_t) < 1e-9
    # equal shares -> theil 0, hhi = 1/n
    df2 = spark.createDataFrame([(1, 10), (2, 10)], "k int, v long")
    [r2] = concentration_indices(df2, F.col("k"), F.col("v")).collect()
    assert abs(r2["hhi"] - 0.5) < 1e-15 and abs(r2["theil_t"]) < 1e-12


def test_hellinger_hand_computed(spark):
    from movie_rankings_spark.operators.drift import hellinger_drift

    # A: {1:2, 2:2}; B: {2:2, 3:2} -> BC = sqrt(.5*.5) = .5
    rows = [(1, 1, 0)] * 2 + [(2, 1, 0)] * 2 + [(2, 0, 1)] * 2 + [(3, 0, 1)] * 2
    df = spark.createDataFrame(rows, "v long, a int, b int")
    [r] = hellinger_drift(df, F.col("v"), F.col("a"), F.col("b")).collect()
    assert (r["n_a"], r["n_b"], r["n_values"]) == (4, 4, 3)
    assert abs(r["bc_coeff"] - 0.5) < 1e-9
    assert abs(r["hellinger"] - math.sqrt(0.5)) < 1e-9
    # identical distributions -> BC 1, H 0
    rows2 = [(1, 1, 0), (2, 1, 0), (1, 0, 1), (2, 0, 1)]
    df2 = spark.createDataFrame(rows2, "v long, a int, b int")
    [r2] = hellinger_drift(df2, F.col("v"), F.col("a"), F.col("b")).collect()
    assert abs(r2["bc_coeff"] - 1.0) < 1e-9 and r2["hellinger"] < 1e-4
