"""Markov-chain steady state over a transition-count table.

Reference parity: no Markov surface exists in the reference
(top_movies.py); this closes the loop the sessionize tier opens —
session_transition_matrix estimates P(next | current), and the
stationary distribution π = πP is the long-run occupancy that matrix
implies (the "where do users end up spending their time" readout next
to PageRank's graph-occupancy cousin, operators/pagerank.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def markov_steady_state(
    counts: DataFrame,
    states: "list[str]",
    cur_col: str = "cur_type",
    next_col: str = "next_type",
    n_col: str = "n_transitions",
    n_iter: int = 20,
) -> DataFrame:
    """Stationary distribution of the first-order chain defined by a
    (current, next, count) table over a FIXED state list: row-
    normalize to P, then π ← πP for ``n_iter`` power iterations from
    the uniform start — the long-run occupancy the transition matrix
    implies.

    Shape: the counts table is |states|²-bounded; densification is a
    broadcast grid left-join, row sums a bounded re-aggregate, and
    the whole iteration ONE codegen'd fold over a literal iteration
    sequence, each step rebuilding the k-vector with explicit
    left-associated dot products against the 25-slot flattened P
    array — no driver loop, no per-iteration job, no collect.

    Contract: every state must appear as a transition SOURCE (row
    sums > 0 — true for any recurrent chain observed in data);
    otherwise its P row is all-NULL and π propagates NULL.

    Exactness: P entries are single divisions of exact longs; each
    iteration is the identical IEEE sequence in both engines (fixed
    literal start 1/k, explicit add association), replayed by a
    recursive-CTE oracle over 25 scalar P columns ⇒ value-hash exact.

    Output: |states| rows — state, pi_stationary, share_source
    (empirical source occupancy rowsum/total, the model-free
    comparison column) — ordered by state.
    """
    k = len(states)
    spark = counts.sparkSession
    grid = local_frame(
        spark,
        [(a, b, i, j)
         for i, a in enumerate(states)
         for j, b in enumerate(states)],
        "cur string, nxt string, ci int, ni int",
    )
    c = counts.select(
        F.col(cur_col).alias("cur"),
        F.col(next_col).alias("nxt"),
        F.col(n_col).cast("long").alias("n"),
    )
    dens = (
        grid
        .join(F.broadcast(c), ["cur", "nxt"], "left")
        .select(
            "cur", "ci", "ni", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
        .persist_tracked()  # row sums + matrix row read this
    )
    rs = dens.groupBy("cur").agg(F.sum("n").cast("long").alias("rn"))
    cells = dens.join(F.broadcast(rs), "cur").select(
        "ci",
        "ni",
        F.try_divide(
            F.col("n").cast("double"), F.col("rn").cast("double")
        ).alias("p"),
    )
    one = cells.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ci", "ni", "p"))),
            lambda x: x["p"],
        ).alias("parr")
    )
    pi0 = F.array(*[F.lit(1.0 / k) for _ in range(k)])

    def step(acc, _):
        def entry(i):
            terms = [
                F.element_at(acc, j + 1)
                * F.element_at(F.col("parr"), j * k + i + 1)
                for j in range(k)
            ]
            return reduce(lambda u, v: u + v, terms)

        return F.array(*[entry(i) for i in range(k)])

    folded = one.select(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(n_iter)), pi0, step
        ).alias("pi")
    )
    st = local_frame(
        spark,
        [(i, s) for i, s in enumerate(states)], "idx int, state string"
    )
    tot = rs.agg(F.sum("rn").cast("long").alias("tot"))
    emp = rs.crossJoin(F.broadcast(tot)).select(
        F.col("cur").alias("state"),
        F.try_divide(
            F.col("rn").cast("double"), F.col("tot").cast("double")
        ).alias("share_source"),
    )
    return (
        F.broadcast(st)
        .crossJoin(folded)
        .select(
            "state", F.element_at("pi", F.col("idx") + 1).alias(
                "pi_stationary"
            )
        )
        .join(F.broadcast(emp), "state")
        .orderBy("state")
    )
