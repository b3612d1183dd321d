"""Join-based PageRank (round 3): hand-checkable graphs + invariants.

The operator is rows-only in the registry (iterative float), so these
tests carry the correctness weight: exact agreement with a numpy
power-iteration reference, mass conservation, and dangling-node
treatment.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from movie_rankings_spark.operators.pagerank import (
    copurchase_edges,
    pagerank,
    personalized_pagerank,
)


def _numpy_pagerank(edges, n_nodes, damping=0.85, iters=10):
    """Dense power-iteration reference with uniform dangling
    redistribution — the same recurrence the operator implements."""
    ranks = np.full(n_nodes, 1.0 / n_nodes)
    out_deg = np.zeros(n_nodes)
    for s, _ in edges:
        out_deg[s] += 1
    for _ in range(iters):
        mass = np.zeros(n_nodes)
        for s, d in edges:
            mass[d] += ranks[s] / out_deg[s]
        dangling = 1.0 - mass.sum()
        ranks = (1 - damping) / n_nodes + damping * (mass + dangling / n_nodes)
    return ranks


def _run(spark, edges, n_nodes, iters=10):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iterations=iters).collect()}
    ref = _numpy_pagerank(edges, n_nodes, iters=iters)
    return got, ref


class TestPagerank:
    def test_matches_numpy_reference_on_cycle_with_chord(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (0, 2)]
        got, ref = _run(spark, edges, 3)
        for node, rank in got.items():
            assert abs(rank - ref[node]) < 1e-9, (node, rank, ref[node])

    def test_dangling_node_mass_redistributed(self, spark):
        # node 2 has no out-edges: its mass must spread uniformly,
        # not vanish — ranks still sum to 1
        edges = [(0, 1), (1, 2)]
        got, ref = _run(spark, edges, 3)
        assert abs(sum(got.values()) - 1.0) < 1e-9
        for node, rank in got.items():
            assert abs(rank - ref[node]) < 1e-9

    def test_star_center_outranks_leaves(self, spark):
        # undirected star: center 0 <-> leaves 1..4
        edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
        got, _ = _run(spark, edges, 5)
        assert got[0] > max(got[i] for i in range(1, 5)) * 2
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_equals_ppr_seeded_with_every_node(self, spark):
        # no dangling nodes: restarting onto every node IS the uniform
        # teleport, so both public functions must give the same ranks
        # out of the loop they share
        edges = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 3), (3, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.createDataFrame([(i,) for i in range(4)], "node long")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        ppr = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(df, seeds).collect()
        }
        assert got.keys() == ppr.keys() == set(range(4))
        for node, rank in got.items():
            assert abs(rank - ppr[node]) < 1e-12, (node, rank, ppr[node])

    def test_copurchase_edges_symmetric_and_bounded(self, spark):
        li = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 11), (2, 12), (3, 10), (3, 12)],
            "l_orderkey long, l_partkey long",
        )
        e = {(r["src"], r["dst"]) for r in copurchase_edges(li).collect()}
        # order 1: {10,11} both ways (duplicate line collapsed);
        # order 2: singleton, no edges; order 3: {10,12} both ways
        assert e == {(10, 11), (11, 10), (10, 12), (12, 10)}

    def test_mega_basket_dropped(self, spark):
        rows = [(1, p) for p in range(40)] + [(2, 100), (2, 101)]
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        e = {(r["src"], r["dst"]) for r in copurchase_edges(li, max_basket=30).collect()}
        assert e == {(100, 101), (101, 100)}
