"""A/B two-proportion readout (abtest_conversion_events) and PSI
feature drift (operators/drift.py::psi_feature_drift): closed-form
cross-checks against hand/numpy computations."""

from __future__ import annotations

import math

import numpy as np

from movie_rankings_spark.operators.drift import psi_feature_drift
from movie_rankings_spark.plans.all_queries import QUERIES

SF = "/root/testdata/sf0.001"


def _wilson(p, n, z=1.96):
    half = z * z / (2 * n)
    rad = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return (p + half - rad) / (1 + z * z / n), (p + half + rad) / (
        1 + z * z / n
    )


def test_abtest_readout_matches_closed_form(spark):
    [r] = QUERIES["abtest_conversion_events"](spark, SF).collect()
    n_a, c_a, n_b, c_b = r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]
    assert n_a > 0 and n_b > 0
    assert 0 <= c_a <= n_a and 0 <= c_b <= n_b
    ra, rb = c_a / n_a, c_b / n_b
    assert abs(r["rate_a"] - ra) < 1e-15
    assert abs(r["rate_b"] - rb) < 1e-15
    pool = (c_a + c_b) / (n_a + n_b)
    z = (ra - rb) / math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))
    assert abs(r["z"] - z) < 1e-12
    lo_a, hi_a = _wilson(ra, n_a)
    lo_b, hi_b = _wilson(rb, n_b)
    for got, want in [
        (r["wilson_lo_a"], lo_a),
        (r["wilson_hi_a"], hi_a),
        (r["wilson_lo_b"], lo_b),
        (r["wilson_hi_b"], hi_b),
    ]:
        assert abs(got - want) < 1e-12
    # interval sanity: bounds inside [0,1] and bracket the rate
    assert 0 <= r["wilson_lo_a"] <= ra <= r["wilson_hi_a"] <= 1
    assert 0 <= r["wilson_lo_b"] <= rb <= r["wilson_hi_b"] <= 1


def _psi_numpy(train, val, width=64, n_bins=10):
    tb = np.minimum(np.asarray(train) // width, n_bins - 1)
    vb = np.minimum(np.asarray(val) // width, n_bins - 1)
    ct = np.bincount(tb, minlength=n_bins)
    cv = np.bincount(vb, minlength=n_bins)
    p = (ct + 1) / (ct.sum() + n_bins)
    q = (cv + 1) / (cv.sum() + n_bins)
    return float(((p - q) * np.log(p / q)).sum())


def test_psi_identical_splits_near_zero(spark):
    rows = psi_feature_drift(
        QUERIES["drift_train_val_psi"].__globals__["_docs"](spark, SF),
        "n_chars",
    ).collect()
    assert len(rows) == 10
    psi = sum(r["psi_contrib"] for r in rows)
    # every (p-q)·ln(p/q) term is non-negative; magnitude at sf0.001
    # is smoothing-dominated (~50 docs), so only sanity-bound it —
    # the numpy-equality test below is the exactness check
    assert 0 <= psi < 2.0
    assert all(r["psi_contrib"] >= 0 for r in rows)
    # counts conserve: every doc in exactly one bin
    assert sum(r["train_n"] for r in rows) > 0
    assert sum(r["val_n"] for r in rows) > 0


def test_psi_matches_numpy_reference(spark):
    docs = QUERIES["drift_train_val_psi"].__globals__["_docs"](spark, SF)
    rows = psi_feature_drift(docs, "n_chars").collect()
    # rebuild the two splits exactly as the operator does
    import pyspark.sql.functions as F

    b = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2), 16, 10
    ).cast("int")
    side = (
        F.when(b < 13, F.lit(None).cast("string"))
        .when(b < 26, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    pdf = (
        docs.select(side.alias("side"), F.col("n_chars"))
        .filter(F.col("side").isNotNull())
        .toPandas()
    )
    want = _psi_numpy(
        pdf[pdf.side == "train"].n_chars.to_numpy(),
        pdf[pdf.side == "val"].n_chars.to_numpy(),
    )
    got = sum(r["psi_contrib"] for r in rows)
    assert abs(got - want) < 1e-9  # quantized-log rounding headroom


def test_jl_rademacher_matches_integer_reference(spark):
    import hashlib

    from movie_rankings_spark.operators.embeddings import (
        jl_rademacher_project,
        rademacher_signs,
    )
    from movie_rankings_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings").limit(20)
    rows = jl_rademacher_project(emb, out_dim=16, seed=13).collect()
    assert len(rows) == 20 * 16
    pdf = emb.toPandas()
    w = rademacher_signs(13, 16, 64)
    # integer reference: quantize to q9, signed sum, shared scale
    by_vec = {int(r.vec_id): list(r.embedding) for r in pdf.itertuples()}
    for r in rows[:64]:
        q = [round(float(x) * 1e9) for x in by_vec[r["vec_id"]]]
        total = sum(qi * si for qi, si in zip(q, w[r["k"]]))
        assert r["proj"] == (total / 1e9) * 0.25


def test_jl_rademacher_distortion_bounded(spark):
    # JL sanity on real vectors: projected norms concentrate around
    # original norms (loose 3x band at out_dim=16 — the Gaussian
    # variant's tight bound is pinned in tests/test_warehouse_ops.py)
    import numpy as np

    from movie_rankings_spark.operators.embeddings import (
        jl_rademacher_project,
    )
    from movie_rankings_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings").limit(50)
    pdf = jl_rademacher_project(emb, out_dim=16, seed=13).toPandas()
    orig = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in emb.toPandas().itertuples()
    }
    ratios = []
    for vid, grp in pdf.groupby("vec_id"):
        pn = float((grp.proj.to_numpy() ** 2).sum())
        on = float((orig[vid] ** 2).sum())
        ratios.append(pn / on)
    med = float(np.median(ratios))
    assert 1 / 3 < med < 3


def test_harmonic_centrality_path_graph(spark):
    # path 1-2-3-4-5, undirected; HC(1) within 4 hops =
    # 1/1 + 1/2 + 1/3 + 1/4 = 25/12; integer form 60+30+20+15 = 125
    from movie_rankings_spark.operators.sssp import harmonic_centrality

    und = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (3,)], "node long")
    rows = {r["seed"]: r for r in
            harmonic_centrality(edges, seeds, n_rounds=4).collect()}
    assert rows[1]["n_reached"] == 4
    assert rows[1]["hc_num"] == 125
    assert rows[1]["hc"] == 125 / 60.0
    # node 3 sees 2 at dist 1 and 2 at dist 2: 2*60 + 2*30 = 180
    assert rows[3]["n_reached"] == 4
    assert rows[3]["hc_num"] == 180


def test_harmonic_reach_matches_bfs_per_seed(spark):
    # both run the same frontier loop; harmonic only carries the seed
    # in the group key, so its per-seed reach must equal a one-seed BFS
    from movie_rankings_spark.operators.sssp import (
        bfs_distances,
        harmonic_centrality,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 7), (7, 8), (9, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seed_ids = [1, 4, 9]
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
    got = {
        r["seed"]: r["n_reached"]
        for r in harmonic_centrality(edges, seeds, n_rounds=3).collect()
    }
    want = {}
    for s in seed_ids:
        one = spark.createDataFrame([(s,)], "node long")
        want[s] = (
            bfs_distances(edges, one, n_rounds=3)
            .filter("dist >= 1")
            .count()
        )
    assert got == want
    assert want == {1: 5, 4: 6, 9: 1}


def test_harmonic_centrality_rejects_unexact_radius(spark):
    import pytest

    from movie_rankings_spark.operators.sssp import harmonic_centrality

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError):
        harmonic_centrality(edges, seeds, n_rounds=7)


def test_ks_group_vs_rest_two_group_reduces_to_pairwise(spark):
    # with exactly two groups, group-vs-rest IS the two-sample test:
    # cross-check against ks_two_sample on the same data
    import pyspark.sql.functions as F

    from movie_rankings_spark.operators.disttests import (
        ks_group_vs_rest,
        ks_two_sample,
    )

    rows = [("a", v) for v in [1, 2, 2, 3, 5]] + [
        ("b", v) for v in [2, 4, 4, 6]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    sweep = {r["group"]: r for r in
             ks_group_vs_rest(df, "g", "v").collect()}
    [pair] = ks_two_sample(
        df, "v", (F.col("g") == "a").cast("int"),
        (F.col("g") == "b").cast("int"),
    ).collect()
    assert sweep["a"]["d_num"] == pair["d_num"]
    assert sweep["a"]["ks_d"] == pair["ks_d"]
    assert sweep["a"]["at_value"] == pair["at_value"]
    # symmetric: b-vs-rest is the same distance
    assert sweep["b"]["d_num"] == pair["d_num"]


def test_ks_group_vs_rest_identical_groups_zero(spark):
    rows = [(g, v) for g in ("x", "y") for v in [1, 2, 3, 3, 7]]
    df = spark.createDataFrame(rows, "g string, v long")
    for r in __import__(
        "movie_rankings_spark.operators.disttests",
        fromlist=["ks_group_vs_rest"],
    ).ks_group_vs_rest(df, "g", "v").collect():
        assert r["d_num"] == 0 and r["ks_d"] == 0.0
