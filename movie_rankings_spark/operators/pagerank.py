"""Join-based PageRank (Page et al. 1999) — the second iterative-graph
operator next to connected components (operators/components.py).

Each power iteration is one co-partitioned equi-join (contributions =
rank/out-degree shipped along edges) plus one partial-aggregated
groupBy — the classic Pregel-style message pass expressed as
DataFrame ops. No driver-side graph: edges and ranks live as
DataFrames end-to-end, and a rotating localCheckpoint per round
bounds lineage. Global and personalized PageRank run the same loop
(:func:`_power_iterate`) and differ only in their initial rank and
update expression. At 100 TB the per-round cost is one shuffle
of the edge table keyed by src (static — AQE reuses the layout) and
one of the contribution table keyed by dst; rank state is
O(|nodes|).

Dangling nodes (no out-edges) follow the standard treatment: their
mass redistributes uniformly, folded in as a per-round scalar (a
1-row aggregate broadcast into the update expression, never a
Window-over-()).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.session import session_conf


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iterations: int = 10,
    shuffle_partitions: int | None = None,
    decimal_mass: bool = False,
) -> DataFrame:
    """(node, rank) after ``n_iterations`` power steps; ranks sum to
    1.0 (within float tolerance). Edges are directed; pass both
    directions for an undirected graph.

    ``shuffle_partitions`` pins the exchange width for the iteration
    (restored afterwards): rank/contribution state is |nodes|-sized —
    often far smaller than the session default sized for fact scans —
    and an iterative loop pays per-task overhead × rounds, so
    right-sizing it matters more here than anywhere else. Leave None
    to inherit the session setting (the 100 TB default).

    ``decimal_mass=True`` quantizes each per-edge contribution to a
    scaled 1e15 INTEGER — round(rank·w·1e15) as BIGINT — before the
    per-destination sum: integer addition is exact and therefore
    ORDER-INDEPENDENT, so the rank vector stops depending on shuffle
    partitioning/merge order and an independent engine running the
    same recurrence reproduces it bit-for-bit — which is what lets
    pagerank_copurchase carry a value-hash DuckDB oracle (r4). Why
    scaled integers and not a decimal cast: engines disagree on
    double→DECIMAL conversion (DuckDB scales IN DOUBLE before
    rounding, the JVM converts the exact binary value — measured
    ~1e-12 relative drift over 10 rounds), whereas round(x·1e15) is
    the SAME double multiply + ties-away rounding everywhere, and
    with mass ≤ 1 every scaled value stays < 2^53 so the unscale
    division is one deterministic rounding. The 5e-16 per-edge
    quantization is immaterial at rank scale; everything else is
    deterministic IEEE double arithmetic."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with session_conf(edges.sparkSession, _shuffle_conf(shuffle_partitions)):
        return _power_iterate(
            e,
            _node_ids(e),
            lambda n: F.lit(1.0 / n),
            lambda n, mass, dangling: (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (mass + F.lit(dangling / n))
            ),
            n_iterations,
            decimal_mass,
        )


def _node_ids(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _shuffle_conf(shuffle_partitions: int | None) -> dict[str, str | None]:
    return {
        "spark.sql.shuffle.partitions": (
            None if shuffle_partitions is None else str(shuffle_partitions)
        )
    }


def _power_iterate(
    e: DataFrame,
    nodes: DataFrame,
    init_rank: Callable[[int], Column],
    update: Callable[[int, Column, float], Column],
    n_iterations: int,
    decimal_mass: bool,
) -> DataFrame:
    """The power-iteration loop :func:`pagerank` and
    :func:`personalized_pagerank` share: (node, rank) after
    ``n_iterations`` rounds over the (src, dst) edges ``e``.

    ``nodes`` has one row per node, keyed ``node``, plus any columns
    ``update`` reads. ``init_rank(n)`` is the starting rank and
    ``update(n, mass, dangling)`` the next one, given the node count,
    the mass that flowed in along edges this round and the mass held
    by dangling nodes."""
    from movie_rankings_spark.caching import rotating_checkpoint
    from movie_rankings_spark.operators.adaptive import state_hint

    nodes = nodes.persist_tracked()
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edge table annotated with 1/deg once — static across rounds
    weighted = e.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    ).persist_tracked()
    weighted.count()
    # dangling nodes (no out-edges) need a per-round mass scalar; a
    # graph without them (any symmetric graph) skips that round-trip
    has_dangling = n > e.select("src").distinct().count()

    ckpt = rotating_checkpoint(e.sparkSession)
    ranks = ckpt(nodes.select("node", init_rank(n).alias("rank")))
    for _ in range(n_iterations):
        # rotating localCheckpoint (not persist): it TRUNCATES the
        # logical plan (persist alone leaves each round's plan nested
        # inside the next — 10 rounds of joins whose AQE tree
        # rendering blows the driver heap) AND frees the previous
        # round's materialized copy, which nothing reads once the new
        # checkpoint exists (the r8 kcore finding). At 100 TB you
        # would checkpoint to reliable storage every few rounds
        # instead; the per-round shape is unchanged.
        c = F.col("rank") * F.col("w")
        if decimal_mass:
            c = F.round(c * F.lit(1e15)).cast("long")
        # r10: the rank state is |nodes| rows vs the edge table's |E| —
        # broadcast it (measured n, operators/adaptive.py) so the round
        # never re-shuffles/sorts the static edge table; identical sums
        # (exact scaled integers), different join strategy only.
        contribs = (
            weighted.join(state_hint(ranks, n), weighted["src"] == ranks["node"])
            .select("dst", c.alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        if has_dangling:
            # contribs feeds BOTH the scalar and the update: checkpoint
            # first or the lineage doubles per round
            contribs = ckpt(contribs)
            total = contribs.agg(F.sum("mass")).collect()[0][0]
            flowed = (
                float(total or 0) / 1e15
                if decimal_mass
                else float(total or 0.0)
            )
            dangling = 1.0 - flowed
        else:
            dangling = 0.0  # all mass flows along edges, exactly
        mass = F.coalesce(F.col("mass").cast("double"), F.lit(0.0)) / (
            F.lit(1e15) if decimal_mass else F.lit(1.0)
        )
        ranks = nodes.join(
            state_hint(contribs, n), nodes["node"] == contribs["dst"], "left"
        ).select(*nodes.columns, update(n, mass, dangling).alias("rank"))
        ranks = ckpt(ranks)
    nodes.unpersist()
    weighted.unpersist()
    return ranks.select("node", "rank")


def copurchase_edges(lineitem: DataFrame, max_basket: int = 30) -> DataFrame:
    """Directed item-item edges: parts sharing an order, both
    directions. Built per order via collect_set + pair explode, so the
    work is bounded by basket size (quadratic in items-per-order,
    never in orders); baskets above ``max_basket`` items are dropped
    as degenerate (the standard guard that keeps a pathological
    mega-basket from emitting millions of pairs)."""
    baskets = (
        lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .filter((F.size("parts") >= 2) & (F.size("parts") <= max_basket))
    )
    pairs = baskets.select(
        F.explode("parts").alias("src"), F.col("parts")
    ).select("src", F.explode("parts").alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    return pairs.distinct()


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    n_iterations: int = 10,
    shuffle_partitions: int | None = None,
    decimal_mass: bool = False,
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank (the random-walk-with-restart variant,
    Haveliwala 2002): the walker teleports to the SEED set instead of
    uniformly, so rank measures proximity to the seeds — "parts
    related to the promoted set", the recommendation/expansion query
    the global rank can't answer.

    Recurrence: rank' = (1−d)·1[v∈S]/|S| + d·Σ contributions.
    Same per-round plan as :func:`pagerank` (one edge join + one
    partial-aggregated groupBy, localCheckpoint lineage truncation);
    the restart vector is a left-semi flag joined once up front.
    ``decimal_mass=True`` gives the same engine-exact integer
    contribution sums, so the DuckDB twin hash-matches the full
    vector. Dangling mass is restarted onto the seeds (the standard
    PPR treatment); a symmetric graph has none."""
    e = edges.select(F.col("src"), F.col("dst"))
    with session_conf(edges.sparkSession, _shuffle_conf(shuffle_partitions)):
        sd = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .persist_tracked()
        )
        n_seeds = sd.count()
        nodes = (
            _node_ids(e)
            # is_seed flag materialized once — the restart vector
            .join(sd.withColumn("_s", F.lit(1)), "node", "left")
            .select("node", F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed"))
        )
        is_seed = F.col("is_seed").cast("double")
        restart = is_seed * F.lit((1.0 - damping) / n_seeds)
        ranks = _power_iterate(
            e,
            nodes,
            lambda n: is_seed / F.lit(float(n_seeds)),
            lambda n, mass, dangling: (
                restart
                + F.lit(damping) * mass
                # dangling mass restarts onto the seeds
                + is_seed
                * F.lit(damping)
                * F.lit(dangling)
                / F.lit(float(n_seeds))
            ),
            n_iterations,
            decimal_mass,
        )
        sd.unpersist()
        return ranks


def hits_bipartite(
    edges: DataFrame,
    n_iter: int = 4,
    top_k: int = 15,
) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities over a DIRECTED edge
    list — registered on the customer→part purchase graph, where the
    asymmetry means something: hub customers buy broadly across
    authoritative parts; authoritative parts are bought by hub
    customers. (On a symmetric co-purchase graph HITS degenerates to
    degree centrality — the bipartite orientation is the point.)

    Power iteration with L1 normalization per half-step:
    a_k(v) = Σ_{u→v} h_{k−1}(u) / Σ… , h_k(u) = Σ_{u→v} a_k(v) / Σ….
    Exactness (the pagerank q15 convention): per-edge contributions
    quantize to round(score·10¹⁵) BIGINTs, so the order-sensitive
    sums are exact integers; each normalized score is ONE division
    of two exact integers (mass_v / total_mass) — no float sum
    anywhere, and the oracle unrolls the identical recurrence.

    Output: 2·top_k rows — role ('authority' | 'hub'), node, score,
    rank — authorities first, ordered by (role, rank)."""
    if n_iter < 1:
        raise ValueError(
            f"n_iter must be >= 1, got {n_iter}: the authority table "
            "only exists after the first half-step"
        )
    e = edges.select("src", "dst").distinct().persist_tracked()
    srcs = e.select("src").distinct()
    n_src = srcs.count()
    n_dst = e.select("dst").distinct().count()
    # localCheckpoint per MASS table (r10: was per half-step): each
    # normalized score table references its mass aggregate TWICE
    # (values + the total), so without truncation the logical plan
    # TRIPLES per iteration and the driver OOMs compiling it —
    # checkpointing the mass table cuts the lineage to the
    # materialized rows, and the normalized table is then a cheap
    # two-column projection of that checkpoint that needs no
    # materialization job of its own (2 actions per iteration instead
    # of 4, same values).
    from movie_rankings_spark.caching import rotating_checkpoint
    from movie_rankings_spark.operators.adaptive import state_hint

    ck_am = rotating_checkpoint(edges.sparkSession)
    ck_hm = rotating_checkpoint(edges.sparkSession)
    h = srcs.select(
        "src", F.lit(1.0 / float(n_src)).alias("h")
    ).checkpoint_tracked(eager=True)
    sc = F.lit(1e15)
    a = None
    for _ in range(n_iter):
        # r10: score state is node-sized vs the static edge table —
        # adaptive broadcast (operators/adaptive.py), values unchanged.
        am = (
            e.join(state_hint(h, n_src), "src")
            .groupBy("dst")
            .agg(
                F.sum(F.round(F.col("h") * sc).cast("long"))
                .cast("decimal(38,0)")
                .alias("mass")
            )
        )
        am = ck_am(am)
        at = am.agg(F.sum("mass").cast("decimal(38,0)").alias("tot"))
        a = am.crossJoin(F.broadcast(at)).select(
            "dst",
            (
                F.col("mass").cast("double") / F.col("tot").cast("double")
            ).alias("a"),
        )
        hm = (
            e.join(state_hint(a, n_dst), "dst")
            .groupBy("src")
            .agg(
                F.sum(F.round(F.col("a") * sc).cast("long"))
                .cast("decimal(38,0)")
                .alias("mass")
            )
        )
        hm = ck_hm(hm)
        ht = hm.agg(F.sum("mass").cast("decimal(38,0)").alias("tot"))
        h = hm.crossJoin(F.broadcast(ht)).select(
            "src",
            (
                F.col("mass").cast("double") / F.col("tot").cast("double")
            ).alias("h"),
        )
    auth = a.select(
        F.lit("authority").alias("role"),
        F.col("dst").alias("node"),
        F.col("a").alias("score"),
    )
    hubs = h.select(
        F.lit("hub").alias("role"),
        F.col("src").alias("node"),
        F.col("h").alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("role").orderBy(
        F.col("score").desc(), F.col("node").asc()
    )
    return (
        auth.unionByName(hubs)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("role", "node", "score", F.col("rank").cast("int").alias("rank"))
        .orderBy("role", "rank")
    )
