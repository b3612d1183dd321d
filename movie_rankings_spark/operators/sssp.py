"""Single-source (multi-seed) shortest paths / BFS hop distance — the
Pregel hello-world, as DataFrame ops: the sixth graph operator next to
CC, PageRank, LPA, k-core, triangles and Adamic–Adar.

"How many co-purchase hops is every part from the promoted seed set?"
is the product-surface query (recommendation radius, blast-radius /
influence analysis); on an entity graph it is the classic
related-records walk.

Each relaxation round, as DataFrame ops:

- candidates: the current FRONTIER (nodes whose distance improved last
  round) equi-joined to the edge list ships dist+1 to each neighbour;
- relax: union with the current state, one map-side-combined
  groupBy-min per node.

Joining only the frontier (not the full distance table) is the
standard delta optimization: total join work across ALL rounds is
O(Σ frontier sizes) = O(|edges|) for BFS, not rounds × |edges|. The
frontier shrinks to empty at convergence; a fixed round bound is the
query contract (the LPA/k-core convention) and ``n_rounds`` ≥ graph
diameter reaches the fixed point — pinned via :func:`converged` in
tests.

Determinism: distances are pure integers (hop counts), min is
order-independent — the unrolled DuckDB twin hash-matches. At 100 TB:
state is O(|nodes|), per-round cost one frontier-sized equi-join +
one aggregate; lineage truncated per round (localCheckpoint →
reliable checkpoint at cluster scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """(node, dist) for every node within ``n_rounds`` hops of any
    seed; unreached nodes are absent. ``seeds`` is a 1-column frame of
    seed node ids (dist 0). Edges directed; pass both directions for
    an undirected graph (copurchase_edges already is)."""
    return _bfs(edges, seeds, n_rounds, src, dst, seed_col)


def _bfs(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int,
    src: str,
    dst: str,
    seed_col: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The frontier relaxation loop :func:`bfs_distances` and
    :func:`harmonic_centrality` share: (*keys, node, dist) with the
    minimum hop count per (*keys, node). Every state column starts as
    the seed id, so ``keys=("seed",)`` runs one BFS per seed."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist_tracked()
    e.count()  # materialize: every round's frontier join reads it
    dist = seeds.select(
        *[F.col(seed_col).alias(k) for k in (*keys, "node")],
        F.lit(0).cast("int").alias("dist"),
    ).localCheckpoint()
    from movie_rankings_spark.operators.adaptive import state_hint

    frontier = dist
    for r in range(1, n_rounds + 1):
        # r10: the emptiness probe becomes an exact count — same
        # one action per round, and the measured size now drives the
        # adaptive broadcast of the (node-sized, usually much smaller)
        # frontier into the edge join (operators/adaptive.py).
        n_frontier = frontier.count()
        if n_frontier == 0:
            break  # converged: nothing was discovered last round
        # BFS invariant: a node's final distance IS the round it first
        # appears, so the frontier is simply `dist == r` on the new
        # state — the delta optimization WITHOUT a cand-vs-dist
        # self-join (which Spark's checkpoint attribute mapping
        # handles poorly on shared lineage)
        cand = state_hint(frontier, n_frontier).join(
            e, frontier["node"] == e["src"]
        ).select(
            *keys,
            F.col("dst").alias("node"),
            (F.col("dist") + 1).alias("dist"),
        )
        dist = (
            dist.unionByName(cand)
            .groupBy(*keys, "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        frontier = dist.filter(F.col("dist") == r)
    e.unpersist()
    return dist


def converged(
    edges: DataFrame, seeds: DataFrame, n_rounds: int = 6
) -> bool:
    """True iff one more round changes nothing (``n_rounds`` covered
    the reachable diameter). Tests/validation helper."""
    a = bfs_distances(edges, seeds, n_rounds)
    b = bfs_distances(edges, seeds, n_rounds + 1)
    return a.unionByName(b).subtract(a.intersect(b)).limit(1).count() == 0


def hop_histogram(dist: DataFrame) -> DataFrame:
    """(dist, n_nodes) ordered — the compact reach report; bounded by
    the round count."""
    return (
        dist.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


def bfs_oracle_sql(
    n_rounds: int, edges_cte: str, seeds_sql: str
) -> str:
    """Unrolled DuckDB twin: ``n_rounds`` min-relaxations from the
    seed set. ``edges_cte`` defines relation ``e`` (src, dst);
    ``seeds_sql`` is a query producing 1 column ``node``. Output
    matches hop_histogram: (dist, n_nodes)."""
    parts = [
        f"WITH {edges_cte},\n"
        f"d0 AS (SELECT node, 0 AS dist FROM ({seeds_sql}))"
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
d{r} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{r - 1} d JOIN e ON d.node = e.src
  ) GROUP BY node
)"""
        )
    parts.append(
        f"""
SELECT CAST(dist AS INTEGER) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM d{n_rounds} GROUP BY dist ORDER BY dist"""
    )
    return "".join(parts)


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Bounded-radius harmonic centrality of a seed set: HC(s) =
    Σ_{v: 1 ≤ d(s,v) ≤ n_rounds} 1/d(s,v) — "how close is this hub to
    EVERYTHING?", the closeness-family score that handles disconnected
    graphs gracefully (unreached nodes contribute 0, not ∞). Exact
    all-nodes harmonic centrality needs an all-pairs BFS; the
    productionized form is centrality OF a bounded pivot set (here the
    seeds), which is one multi-source BFS with the seed id carried in
    the state — per-round work is one frontier equi-join + one
    (seed, node) min aggregate, state O(|seeds|·|nodes|).

    Exactness: hop distances are integers; the reciprocal sum is made
    order-independent by summing 60/d (exact BIGINT for every d ≤ 6 —
    60 = lcm(1..6); the n_rounds ≤ 6 contract is asserted) and
    dividing once: hc = hc_num / 60. The unrolled DuckDB twin
    hash-matches.

    Output: (seed, n_reached, hc_num, hc) ordered by seed.
    """
    if n_rounds > 6:
        raise ValueError("n_rounds > 6 breaks the exact 60/d sum")
    dist = _bfs(edges, seeds, n_rounds, src, dst, seed_col, keys=("seed",))
    reached = dist.filter(F.col("dist") >= 1)
    hc_num = F.sum(
        (F.lit(60) / F.col("dist")).cast("long")
    ).cast("long")
    return (
        reached.groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            hc_num.alias("hc_num"),
        )
        .select(
            "seed",
            "n_reached",
            "hc_num",
            (F.col("hc_num").cast("double") / F.lit(60.0)).alias("hc"),
        )
        .orderBy("seed")
    )


def harmonic_oracle_sql(
    n_rounds: int, edges_cte: str, seeds_sql: str
) -> str:
    """Unrolled DuckDB twin of harmonic_centrality: the bfs_oracle_sql
    relaxation carried per seed, then the exact 60/d reciprocal sum."""
    parts = [
        f"WITH {edges_cte},\n"
        f"d0 AS (SELECT node AS seed, node, 0 AS dist FROM ({seeds_sql}))"
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
d{r} AS (
  SELECT seed, node, MIN(dist) AS dist FROM (
    SELECT seed, node, dist FROM d{r - 1}
    UNION ALL
    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
    FROM d{r - 1} d JOIN e ON d.node = e.src
  ) GROUP BY seed, node
)"""
        )
    parts.append(
        f"""
SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(CAST(60 / dist AS BIGINT)) AS BIGINT) AS hc_num,
       CAST(SUM(CAST(60 / dist AS BIGINT)) AS DOUBLE) / 60.0 AS hc
FROM d{n_rounds} WHERE dist >= 1 GROUP BY seed ORDER BY seed"""
    )
    return "".join(parts)
