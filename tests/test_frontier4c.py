"""Round-4c operators: BFS hop distances (frontier-delta relaxation),
generic set/audience overlap, Zipf + Heaps corpus-law fits —
python-reference equality on planted fixtures plus each operator's
documented convergence / exactness contract."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from movie_rankings_spark.operators.corpuslaws import heaps_fit, zipf_slope
from movie_rankings_spark.operators.overlap import (
    audience_overlap_matrix,
    set_overlap_matrix,
)
from movie_rankings_spark.operators.sssp import (
    bfs_distances,
    converged,
    harmonic_centrality,
    hop_histogram,
)
from movie_rankings_spark.session import session_conf


def _sym(pairs):
    out = set()
    for a, b in pairs:
        out.add((a, b))
        out.add((b, a))
    return sorted(out)


# --- BFS ---------------------------------------------------------------------


def _py_bfs(edges, seeds):
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    while frontier:
        nxt = set()
        for u in frontier:
            for v in nbrs.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.add(v)
        frontier = nxt
    return dist


#: path + branch + disconnected island
_PBI = _sym([(0, 1), (1, 2), (2, 3), (1, 10), (10, 11), (50, 51)])


def test_bfs_matches_python_reference(spark):
    df = spark.createDataFrame(_PBI, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, seeds, n_rounds=10).collect()
    }
    assert got == _py_bfs(_PBI, [0])
    assert 50 not in got and 51 not in got  # island unreached


def test_bfs_shuffle_join_path_matches(spark):
    # broadcasts off: the shuffle-join plan a too-large edge list takes
    df = spark.createDataFrame(_PBI, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = bfs_distances(df, seeds, n_rounds=10)
        got = {r["node"]: r["dist"] for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert got == _py_bfs(_PBI, [0])


def test_bfs_builds_without_jobs_or_caches(spark):
    """The bounded-round loop is one lazy plan: building it runs no
    Spark job, and running it leaves no persisted RDD behind."""
    sc = spark.sparkContext
    df = spark.createDataFrame(_PBI, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (50,)], "node long")
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    group = "bfs-build-probe"
    sc.setJobGroup(group, "build only")
    try:
        dist = bfs_distances(df, seeds, n_rounds=6)
        hc = harmonic_centrality(df, seeds, n_rounds=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    dist.collect()
    hc.collect()
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted


def test_bfs_sink_seed_stays_at_zero(spark):
    # 3 has no out-edges: it is reached from nowhere and expands nothing
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(3,), (0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, seeds, n_rounds=4).collect()
    }
    assert got == {3: 0, 0: 0, 1: 1, 2: 2}


def test_bfs_duplicate_seeds_one_row_per_node(spark):
    edges = _sym([(0, 1), (1, 2)])
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (0,), (1,)], "node long")
    rows = [(r["node"], r["dist"]) for r in bfs_distances(df, seeds, 3).collect()]
    assert sorted(rows) == [(0, 0), (1, 0), (2, 1)]


def test_bfs_multi_seed_takes_min(spark):
    edges = _sym([(i, i + 1) for i in range(10)])
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (9,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, seeds, n_rounds=10).collect()
    }
    assert got == {n: min(n, abs(n - 9)) for n in range(11)}


def test_bfs_round_cap_limits_reach(spark):
    edges = _sym([(i, i + 1) for i in range(10)])
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, seeds, n_rounds=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_converged(spark):
    edges = _sym([(i, i + 1) for i in range(6)])
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    assert not converged(df, seeds, n_rounds=2)
    assert converged(df, seeds, n_rounds=6)


def test_hop_histogram(spark):
    edges = _sym([(0, 1), (0, 2), (1, 3)])
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    hist = hop_histogram(bfs_distances(df, seeds, 5)).collect()
    assert [(r["dist"], r["n_nodes"]) for r in hist] == [(0, 1), (1, 2), (2, 1)]


# --- audience / set overlap --------------------------------------------------


def test_audience_overlap_exact(spark):
    rows = [
        ("view", 1), ("view", 2), ("view", 3),
        ("click", 2), ("click", 3),
        ("purchase", 3), ("purchase", 9),
        ("view", 2),  # duplicate membership: sets, not bags
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    got = {
        (r["src_a"], r["src_b"]): r
        for r in audience_overlap_matrix(df).collect()
    }
    r = got[("click", "view")]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (2, 3, 2)
    assert r["jaccard"] == 2 / 3 and r["containment"] == 1.0
    r = got[("purchase", "view")]
    assert r["n_common"] == 1 and r["containment"] == 0.5
    assert ("click", "purchase") in got


def test_set_overlap_disjoint_groups_absent(spark):
    rows = [("a", 1), ("b", 2)]
    df = spark.createDataFrame(rows, "src string, g long")
    assert set_overlap_matrix(df).collect() == []


# --- corpus laws -------------------------------------------------------------


def _ols(points):
    n = len(points)
    sx = sum(x for x, _ in points)
    sy = sum(y for _, y in points)
    sxy = sum(x * y for x, y in points)
    sxx = sum(x * x for x, _ in points)
    # float() BEFORE dividing — the engines cast the exact decimal
    # numerator/denominator to double first, then divide
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) - slope * float(sx)) / n / 1e9
    return slope, intercept


def test_zipf_slope_exact_reference(spark):
    # frequencies engineered: word w_i appears (8 >> i) times
    rows = []
    doc_id = 0
    for i, w in enumerate(["aa", "bb", "cc", "dd"]):
        for _ in range(8 // (i + 1)):
            rows.append((doc_id, w))
            doc_id += 1
    df = spark.createDataFrame(
        [(i, w) for i, w in rows], "doc_id long, text string"
    )
    got = zipf_slope(df, top_k=4).collect()[0]
    freqs = sorted([8, 4, 2, 2], reverse=True)
    pts = [
        (round(math.log(r + 1) * 1e9), round(math.log(f) * 1e9))
        for r, f in enumerate(freqs)
    ]
    slope, intercept = _ols(pts)
    assert got["n_points"] == 4
    assert got["slope"] == slope
    assert abs(got["intercept_ln"] - intercept) < 1e-12


def test_zipf_natural_corpus_slope_negative(spark, sf_dir):
    from movie_rankings_spark.catalog import load_table

    r = zipf_slope(load_table(spark, sf_dir, "documents")).collect()[0]
    # sf0.001's synthetic vocabulary is smaller than top_k=100 — the
    # fit covers the whole (still Zipf-shaped) vocabulary
    assert r["n_points"] >= 10 and r["slope"] < 0


def test_heaps_fit_reference(spark):
    rows = [
        (1, "a b c a b c", "s1"),        # 6 tokens, 3 types
        (2, "a b c d e f g h i j", "s2"),  # 10 tokens, 10 types
        (3, "a a a a", "s3"),            # 4 tokens, 1 type
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in heaps_fit(df).collect()}
    assert (got["s1"]["n_tokens"], got["s1"]["n_types"]) == (6, 3)
    assert (got["s2"]["n_tokens"], got["s2"]["n_types"]) == (10, 10)
    assert (got["s3"]["n_tokens"], got["s3"]["n_types"]) == (4, 1)
    pts = [
        (round(math.log(n) * 1e9), round(math.log(v) * 1e9))
        for n, v in [(6, 3), (10, 10), (4, 1)]
    ]
    beta, lnk = _ols(pts)
    for r in got.values():
        assert r["heaps_beta"] == beta
        assert abs(r["heaps_ln_k"] - lnk) < 1e-12
