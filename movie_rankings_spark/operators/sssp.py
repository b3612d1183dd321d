"""Single-source (multi-seed) shortest paths / BFS hop distance — the
Pregel hello-world, as DataFrame ops: the sixth graph operator next to
CC, PageRank, LPA, k-core, triangles and Adamic–Adar.

"How many co-purchase hops is every part from the promoted seed set?"
is the product-surface query (recommendation radius, blast-radius /
influence analysis); on an entity graph it is the classic
related-records walk.

Each relaxation round, as DataFrame ops:

- candidates: the state left-joined to the edge list on
  ``node = src AND dist = r - 1`` — only the FRONTIER (nodes first
  reached last round) matches, and ships dist+1 to each neighbour;
- relax: each joined row yields itself and its candidate, then one
  map-side-combined groupBy-min per node.

Matching only the frontier is the standard delta optimization: total
edge-join work across ALL rounds is O(Σ frontier out-degrees) =
O(|edges|) for BFS, not rounds × |edges|. A fixed round bound is the
query contract (the LPA/k-core convention) and ``n_rounds`` ≥ graph
diameter reaches the fixed point — pinned via :func:`converged` in
tests.

The bounded-round loop is ONE lazy plan: no per-round count, persist
or checkpoint, so building it runs no Spark job. With no
``LogicalRDD`` leaves AQE sees real sizes and picks broadcast or
shuffle joins itself, and exchange reuse computes the edge side once.

Determinism: distances are pure integers (hop counts), min is
order-independent — the unrolled DuckDB twin hash-matches. At 100 TB:
state is O(|nodes|), per-round cost one pass of the state through the
edge join + one aggregate. In a shuffle join the non-frontier rows
share the null join key, so they land in one partition; AQE's skew
join splits that partition (left-outer streams the left side).
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
    """The relaxation :func:`bfs_distances` and
    :func:`harmonic_centrality` share: (*keys, node, dist) with the
    minimum hop count per (*keys, node). Every state column starts as
    the seed id, so ``keys=("seed",)`` runs one BFS per seed.

    Each round reads the previous state exactly once, so the lazy plan
    grows linearly with ``n_rounds``; ``state ∪ (frontier ⋈ edges)``
    would read it twice and double the plan every round."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    dist = seeds.select(
        *[F.col(seed_col).alias(k) for k in (*keys, "node")],
        F.lit(0).cast("int").alias("dist"),
    )
    for r in range(1, n_rounds + 1):
        # BFS invariant: a node's final distance IS the round it first
        # appears, so the frontier is `dist == r - 1`. The join key is
        # `node = src AND dist = r - 1` as one equi-key: a non-frontier
        # row has a null key and skips the probe. Every joined row
        # yields (node, dist) at pos 0 and, when it matched,
        # (dst, dist + 1) at pos 1.
        frontier = F.when(F.col("dist") == r - 1, F.col("node"))
        dist = (
            dist.join(e, frontier == F.col("src"), "left")
            .select(*keys, "dist", F.posexplode(F.array("node", "dst")))
            .filter((F.col("pos") == 0) | F.col("col").isNotNull())
            .groupBy(*keys, F.col("col").alias("node"))
            .agg(F.min(F.col("dist") + F.col("pos")).alias("dist"))
        )
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
