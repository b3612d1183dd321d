"""Round-4b operators: k-core peeling, Adamic–Adar link prediction,
cross-source shingle overlap, sorted-neighborhood dedup, exact ROC
curve — python-reference equality on planted fixtures plus the
convergence / determinism contracts each operator documents."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from movie_rankings_spark.operators.classifier import roc_curve
from movie_rankings_spark.operators.dedup import sorted_neighborhood_pairs
from movie_rankings_spark.operators.kcore import (
    converged,
    core_size_histogram,
    kcore,
)
from movie_rankings_spark.operators.linkpred import W_SCALE, adamic_adar_topk
from movie_rankings_spark.operators.overlap import source_overlap_matrix


def _sym(pairs):
    out = set()
    for a, b in pairs:
        out.add((a, b))
        out.add((b, a))
    return sorted(out)


# --- k-core ------------------------------------------------------------------


def _py_kcore(edges, k):
    """Peel to the fixed point (reference is allowed the driver loop)."""
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    while True:
        drop = [n for n, ns in nbrs.items() if len(ns) < k]
        if not drop:
            return {n: len(ns) for n, ns in nbrs.items()}
        for n in drop:
            del nbrs[n]
        for ns in nbrs.values():
            ns.difference_update(drop)


def test_kcore_matches_python_reference(spark):
    # a 5-clique (4-core) with pendant chains hanging off it
    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chains = [(0, 10), (10, 11), (11, 12), (1, 20), (20, 21)]
    edges = _sym(clique + chains)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["core_degree"]
        for r in kcore(df, k=4, n_rounds=4).collect()
    }
    assert got == _py_kcore(edges, 4)
    # every chain node peeled; the clique survives with degree 4
    assert set(got) == {0, 1, 2, 3, 4}
    assert set(got.values()) == {4}


def test_kcore_k2_keeps_cycles_drops_tails(spark):
    ring = _sym([(i, (i + 1) % 6) for i in range(6)] + [(0, 100), (100, 101)])
    df = spark.createDataFrame(ring, "src long, dst long")
    got = {r["node"]: r["core_degree"] for r in kcore(df, 2, 4).collect()}
    assert set(got) == set(range(6)) and set(got.values()) == {2}


def test_kcore_converged_detects_fixed_point(spark):
    # a long path needs one peel per edge from each end: 1 round is
    # NOT the fixed point for k=2, 10 rounds is
    path = _sym([(i, i + 1) for i in range(8)])
    df = spark.createDataFrame(path, "src long, dst long")
    assert not converged(df, k=2, n_rounds=1)
    assert converged(df, k=2, n_rounds=10)


def test_kcore_histogram(spark):
    clique = _sym([(a, b) for a in range(5) for b in range(5) if a < b])
    df = spark.createDataFrame(clique, "src long, dst long")
    hist = core_size_histogram(kcore(df, 3, 3)).collect()
    assert [(r["core_degree"], r["n_nodes"]) for r in hist] == [(4, 5)]


def test_kcore_sf001_contract_rounds_reach_fixed_point(spark, sf_dir):
    """The registered query's (k=8, 6 rounds) contract: one more peel
    changes nothing at the shipped test SF."""
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.pagerank import copurchase_edges

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    assert converged(edges, k=8, n_rounds=6)


def test_kcore_copurchase_matches_oracle(spark, sf_dir, tmp_path):
    """The registered query equals its unrolled DuckDB twin under the
    oracle checker's memory limit: the twin's per-round CTEs must stay
    materialized, or DuckDB inlines 2^rounds copies of the edge build
    and runs out of memory."""
    import duckdb

    from movie_rankings_spark.catalog import TABLES, table_path
    from movie_rankings_spark.plans.all_queries import ORACLES, QUERIES
    from tools.check_oracle import DUCKDB_CONFIG, compare

    con = duckdb.connect(
        config={**DUCKDB_CONFIG, "temp_directory": str(tmp_path)}
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    want = con.execute(ORACLES["kcore_copurchase"]).df()
    got = QUERIES["kcore_copurchase"](spark, sf_dir).toPandas()
    assert compare(got, want) == []


# --- Adamic–Adar -------------------------------------------------------------


def _py_adamic_adar(edges, max_degree):
    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    deg = {n: len(ns) for n, ns in nbrs.items()}
    scores: Counter = Counter()
    common: Counter = Counter()
    for z, ns in nbrs.items():
        if not (2 <= deg[z] <= max_degree):
            continue
        w = round(W_SCALE / math.log(deg[z]))
        for u in ns:
            for v in ns:
                if u < v:
                    scores[(u, v)] += w
                    common[(u, v)] += 1
    es = set(edges)
    return {
        p: (scores[p], common[p]) for p in scores if p not in es
    }


def test_adamic_adar_matches_python_reference(spark):
    # shared-neighbour structure: hub 0 connects 1..4; 1-2 linked
    edges = _sym([(0, i) for i in range(1, 5)] + [(1, 2), (5, 1), (5, 3)])
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (r["score_x1e9"], r["n_common"])
        for r in adamic_adar_topk(df, k=100, max_degree=64).collect()
    }
    assert got == _py_adamic_adar(edges, 64)


def test_adamic_adar_excludes_existing_and_caps_hubs(spark):
    edges = _sym([(0, i) for i in range(1, 6)] + [(1, 2)])
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = adamic_adar_topk(df, k=100, max_degree=4).collect()
    # hub 0 has degree 5 > cap 4 -> no wedges through it; every
    # remaining center has degree < 2 except 1 and 2 (degree 2)
    pairs = {(r["node_a"], r["node_b"]) for r in rows}
    assert (1, 2) not in pairs  # existing edge excluded
    for r in rows:
        assert r["n_common"] >= 1


def test_adamic_adar_ordering_deterministic(spark):
    edges = _sym([(0, i) for i in range(1, 5)] + [(9, 1), (9, 2)])
    df = spark.createDataFrame(edges, "src long, dst long")
    a = [tuple(r) for r in adamic_adar_topk(df, k=5).collect()]
    b = [tuple(r) for r in adamic_adar_topk(df.repartition(7), k=5).collect()]
    assert a == b


# --- cross-source overlap ----------------------------------------------------


def test_source_overlap_exact_counts(spark):
    rows = [
        (1, "a b c d", "s1"),
        (2, "a b c e", "s2"),  # shares shingle "a b c" with doc 1
        (3, "x y z w", "s3"),  # disjoint
        (4, "a b c d", "s1"),  # duplicate within s1: sets, not bags
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap_matrix(df).collect()
    }
    # s1 shingles: {a b c, b c d}; s2: {a b c, b c e}; s3: {x y z, y z w}
    r = got[("s1", "s2")]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (2, 2, 1)
    assert r["jaccard"] == 1 / 3 and r["containment"] == 0.5
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


def test_source_overlap_identical_sources(spark):
    rows = [(1, "p q r s", "a"), (2, "p q r s", "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = source_overlap_matrix(df).collect()[0]
    assert r["jaccard"] == 1.0 and r["containment"] == 1.0


# --- sorted neighborhood -----------------------------------------------------


def test_sorted_neighborhood_finds_prefix_neighbors(spark):
    # near-dups share the 24-char prefix -> adjacent in key order
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base + " iota"),  # high jaccard with 1, adjacent keys
        (3, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    got = sorted_neighborhood_pairs(df, window=5, threshold=0.5).collect()
    assert [(r["doc_lo"], r["doc_hi"]) for r in got] == [(1, 2)]
    assert got[0]["jaccard"] >= 0.5


def test_sorted_neighborhood_window_limits_pairs(spark):
    # 12 identical docs: window=3 caps each doc's candidates at the
    # 3 that follow it in (key, doc_id) order
    rows = [(i, "same text every time okay") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted_neighborhood_pairs(df, window=3, threshold=0.5).collect()
    pairs = {(r["doc_lo"], r["doc_hi"]) for r in got}
    expect = {
        (i, j) for i in range(12) for j in range(i + 1, min(i + 4, 12))
    }
    assert pairs == expect


def test_sorted_neighborhood_deterministic_under_repartition(spark):
    rows = [(i, f"doc number {i % 4} words shared body text") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, sorted_neighborhood_pairs(df, 6, 0.5).collect()))
    b = sorted(
        map(
            tuple,
            sorted_neighborhood_pairs(df.repartition(11), 6, 0.5).collect(),
        )
    )
    assert a == b


# --- ROC curve ---------------------------------------------------------------


def test_roc_curve_reference(spark, sf_dir):
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.classifier import hashed_bow_scores

    docs = load_table(spark, sf_dir, "documents")
    rows = roc_curve(docs, F.col("lang") == "en").collect()
    scored = {
        r["doc_id"]: r["logit_x100"]
        for r in hashed_bow_scores(docs).collect()
    }
    labels = {
        r["doc_id"]: r["lang"] == "en"
        for r in docs.select("doc_id", "lang").collect()
    }
    P = sum(labels.values())
    N = len(labels) - P
    assert len(rows) == len(set(scored.values()))
    for r in rows:
        tp = sum(
            1 for d, s in scored.items() if s >= r["threshold"] and labels[d]
        )
        fp = sum(
            1 for d, s in scored.items() if s >= r["threshold"] and not labels[d]
        )
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, P - tp, N - fp)
        assert r["tpr"] == tp / P and r["fpr"] == fp / N
        assert r["precision"] == tp / (tp + fp)
    # monotone: thresholds desc => tpr/fpr nondecreasing
    tprs = [r["tpr"] for r in rows]
    fprs = [r["fpr"] for r in rows]
    assert tprs == sorted(tprs) and fprs == sorted(fprs)
