"""k-core decomposition by iterative peeling (Seidman 1983; the
distributed formulation of Montresor et al. 2013) — the fourth
iterative-graph operator next to connected components, PageRank and
label propagation.

The k-core is the maximal subgraph in which every node has degree
≥ k — the standard "dense nucleus" extraction (spam/community cores,
graph sparsification before expensive per-node work). Peeling computes
it: repeatedly delete every node whose current degree is below k;
what survives when no node is deletable is exactly the k-core.

Each peel round, as DataFrame ops:

- degree: one map-side-combined groupBy over the live edge list
  (edges are symmetric — both directions present — so out-degree IS
  degree);
- survivors: the ≥ k filter on that |nodes|-row aggregate;
- shrink: two LEFT SEMI joins keep only edges whose src AND dst
  survive. The edge list only ever SHRINKS, so per-round cost is
  bounded by the previous round's edge count and the loop does
  strictly less work as it proceeds (the components.py star-contract
  property).

Determinism: pure integer logic — degrees, a threshold, semi-joins —
so a fixed round count yields one well-defined survivor set that an
independent engine reproduces exactly (the unrolled DuckDB twin in
plans/frontier_queries.py). The round count is part of the query
contract (the label_propagation convention); peeling converges in at
most |nodes| rounds but almost always in a handful — callers assert
the fixed point via ``converged`` below, and tests pin it at the
shipped SFs. At 100 TB: state is O(|nodes|), per-round cost two
semi-join shuffles of a shrinking edge list, lineage truncated per
round with a ROTATING localCheckpoint (caching.rotating_checkpoint:
the previous round's materialized edge copy is unpersisted as soon as
the new one exists — otherwise n_rounds full edge copies stay pinned,
the r8 sf1 GC-thrash finding; reliable checkpoint at cluster scale).

Reference scope: the reference (top_movies.py) has no graph tier;
north-star [EXT] alongside pagerank/triangles/communities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.caching import rotating_checkpoint


def kcore(
    edges: DataFrame,
    k: int,
    n_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Nodes surviving ``n_rounds`` peels with their degree in the
    surviving subgraph: (node, core_degree). Edges must be symmetric
    (both directions; copurchase_edges already is). With enough
    rounds this IS the k-core; use :func:`converged` to check the
    fixed point was reached."""
    from movie_rankings_spark.operators.adaptive import state_hint

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ckpt = rotating_checkpoint(edges.sparkSession)
    e = ckpt(e)
    # upper bound on every round's survivor table for the adaptive
    # broadcast decision (r10) — the live node set only shrinks
    n_nodes = e.select("src").distinct().count()
    for _ in range(n_rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        # r10: the survivor set is node-sized vs the edge list — the
        # two semi-joins take the adaptive broadcast, values unchanged
        e = (
            e.join(state_hint(keep, n_nodes), "src", "left_semi")
            .join(
                state_hint(
                    keep.select(F.col("src").alias("dst")), n_nodes
                ),
                "dst",
                "left_semi",
            )
            .select("src", "dst")
        )
        # truncate lineage (the pagerank/LPA loop convention) AND free
        # the previous round's materialized edge copy — keeping all
        # n_rounds copies alive was the r8 sf1 GC-thrash finding
        e = ckpt(e)
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.col("src").alias("node"), "core_degree"
    )


def converged(edges: DataFrame, k: int, n_rounds: int = 6) -> bool:
    """True iff one more peel changes nothing — i.e. ``n_rounds`` was
    enough and the survivor set is the true k-core. Runs both depths;
    meant for tests/validation, not the hot path."""
    a = kcore(edges, k, n_rounds)
    b = kcore(edges, k, n_rounds + 1)
    return (
        a.unionByName(b).subtract(a.intersect(b)).limit(1).count() == 0
    )


def core_size_histogram(core: DataFrame) -> DataFrame:
    """(core_degree, n_nodes) over the surviving subgraph, ordered —
    the compact audit a dashboard reads; bounded by max degree."""
    return (
        core.groupBy("core_degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("core_degree")
    )


def kcore_oracle_sql(k: int, n_rounds: int, edges_cte: str) -> str:
    """Unrolled DuckDB twin of ``n_rounds`` peels over the edge list
    produced by ``edges_cte`` (a WITH body defining relation ``e``
    with columns src, dst — both directions). Output matches
    core_size_histogram over kcore(): (core_degree, n_nodes). Every
    round's CTEs are MATERIALIZED: each e{r} is read twice by the
    next round, and DuckDB's inlining would otherwise expand 2^rounds
    copies of the edge build."""
    parts = [f"WITH {edges_cte},\ne0 AS MATERIALIZED (SELECT src, dst FROM e)"]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
k{r} AS MATERIALIZED (
  SELECT src FROM e{r - 1} GROUP BY src HAVING COUNT(*) >= {k}
),
e{r} AS MATERIALIZED (
  SELECT t.src, t.dst FROM e{r - 1} t
  WHERE t.src IN (SELECT src FROM k{r})
    AND t.dst IN (SELECT src FROM k{r})
)"""
        )
    parts.append(
        f"""
SELECT core_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS core_degree
  FROM e{n_rounds} GROUP BY src
) GROUP BY core_degree ORDER BY core_degree"""
    )
    return "".join(parts)
