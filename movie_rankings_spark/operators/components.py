"""Connected components over near-duplicate pair edges — the step
that turns pairwise dedup output into dedup GROUPS (keep one
representative per component, drop the rest).

Algorithm: alternating small-star / large-star rounds (Kiveris et
al., "Connected Components in MapReduce and Beyond"). Each round is
two aggregate+join shuffles on node id over a shrinking edge list, no
driver-side graph, and the rounds converge in O(log n) whatever the
graph's DIAMETER: a 10⁶-node path finishes in ~20 rounds, where
min-label propagation would need 10⁶. Every component is labeled by
its minimum node id, which for string ids (the fuzzy-title alias
graph) is the lexicographically smallest title.

Iterative = not SQL-expressible in one statement; the registered
queries are oracled by a DuckDB recursive-CTE transitive closure, and
exactness is asserted against a union-find reference in
tests/test_components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """(u, v) with u > v, self-loops dropped, deduped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame, n_nodes: int) -> DataFrame:
    """Connect every strictly-larger neighbor of u to the minimum of
    u's closed neighborhood. No collect_list: the neighborhood min is
    an aggregate joined back per edge, so hubs cost a wide group,
    never a giant array. ``n_nodes`` bounds the mins table for the
    adaptive state broadcast (r10, operators/adaptive.py)."""
    from movie_rankings_spark.operators.adaptive import state_hint

    b = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = b.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
    mins = state_hint(mins, n_nodes)
    out = (
        b.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canon(out)


def _small_star(edges: DataFrame, n_nodes: int) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to
    the minimum of u's smaller neighborhood."""
    from movie_rankings_spark.operators.adaptive import state_hint

    n = _canon(edges)
    mins = n.groupBy("u").agg(F.min("v").alias("mn"))
    mins = state_hint(mins, n_nodes)
    via_nbrs = n.join(mins, "u").select(
        F.col("v").alias("u"), F.col("mn").alias("v")
    )
    via_self = mins.select("u", F.col("mn").alias("v"))
    return _canon(via_nbrs.union(via_self))


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 30,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable from the node.

    Each round is two aggregate+join shuffles over the (shrinking)
    edge list; lineage is cut per round with a ROTATING
    localCheckpoint (caching.rotating_checkpoint — the previous
    round's materialized edge copy is freed once the new one exists;
    keeping every round's copy pinned was the r8 kcore sf1 GC-thrash
    class, and the star loop checkpoints the same edge-sized state).
    Convergence = the canonical edge set is a fixed point (checked by
    count + order-free hash sum, then confirmed exactly); at the
    fixed point every edge is (node, component-min)."""
    from movie_rankings_spark.caching import rotating_checkpoint

    ckpt = rotating_checkpoint(edges.sparkSession)
    e = ckpt(_canon(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ))
    # node-sized and read AFTER the loop: materialize it OUTSIDE the
    # rotation now, before round 1 frees the initial edge checkpoint
    # it reads (an eager checkpoint of its own)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .checkpoint_tracked(eager=True)
    )
    n_nodes = nodes.count()

    def _sig(df: DataFrame) -> tuple[int, int]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-free, overflow-free under ANSI (a summed
            # hash would overflow long)
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return r["n"], r["h"]

    sig = _sig(e)
    converged = False
    for _ in range(max_rounds):
        e2 = ckpt(_small_star(_large_star(e, n_nodes), n_nodes))
        sig2 = _sig(e2)
        e = e2
        if sig2 == sig:
            converged = True
            break
        sig = sig2
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixed point in "
            f"{max_rounds} rounds; raise max_rounds"
        )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(
        labels.select(F.col("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labels.union(roots)


def dedup_components(pairs: DataFrame) -> DataFrame:
    """Cluster near-dup pairs: one row per component with the kept
    representative (min doc id) and the member count. Documents not in
    any pair are implicitly their own singleton cluster and need no
    row here — the dedup'd corpus is (all docs) minus (members that
    are not representatives)."""
    cc = connected_components(pairs)
    return (
        cc.groupBy("component")
        .agg(
            F.min("node").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("rep_doc_id", "n_members")
    )
