"""Connected components: exactness vs a union-find reference."""

from __future__ import annotations

from movie_rankings_spark.operators.components import (
    connected_components,
    dedup_components,
)
from movie_rankings_spark.plans import all_queries


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def test_components_match_union_find_on_chain_and_cliques(spark):
    # a 5-chain (diameter 4 — forces multiple rounds), a triangle,
    # an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    want = _union_find(edges)
    assert got == want


def test_components_raise_on_nonconvergence(spark):
    # a 200-node path is not a star after 2 rounds; the budget must
    # refuse loudly instead of returning half-merged groups
    import pytest

    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not reach a fixed point"):
        connected_components(df, max_rounds=2)


def test_dedup_components_on_real_pairs(spark, sf_dir):
    pairs = all_queries.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    edge_list = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    want_roots = _union_find(edge_list)
    comps = {}
    for node, root in want_roots.items():
        comps.setdefault(root, []).append(node)
    want = {(min(m), len(m)) for m in comps.values()}

    got = {
        (r["rep_doc_id"], r["n_members"])
        for r in dedup_components(pairs).collect()
    }
    assert got == want


class TestStarComponents:
    def _labels(self, df):
        return {r["node"]: r["component"] for r in df.collect()}

    def test_long_path_converges_in_log_rounds(self, spark):
        """A 200-node path has diameter 199 — min-label propagation
        would need 199 rounds; the star rounds must finish well within
        the default 30."""
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
        )
        labels = self._labels(connected_components(edges))
        assert set(labels.values()) == {0} and len(labels) == 200

    def test_random_graph_matches_union_find(self, spark):
        import random

        rng = random.Random(5)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = self._labels(connected_components(df))
        parent = list(range(60))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        for a, b in edges:
            for n in (a, b):
                want[n] = find(n)
        # normalize union-find roots to component minima
        comp_min = {}
        for n, r in want.items():
            comp_min[r] = min(comp_min.get(r, n), n)
        want = {n: comp_min[r] for n, r in want.items()}
        assert got == want
