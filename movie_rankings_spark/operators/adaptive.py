"""Scale-adaptive physical hints shared by the iterative operators.

The Pregel-style loops (pagerank, components, k-core, LPA, HITS...)
join a NODE-SIZED state table against an EDGE-SIZED static table
every round. (The bounded-round BFS in sssp.py needs no hint: it
never checkpoints, so AQE sees real sizes and picks the join itself.)
Left to the planner, the state side's size is unknown after a
localCheckpoint (LogicalRDD has no stats), so every round pays a
shuffle+sort of the edge table to sort-merge-join a state table that
is orders of magnitude smaller. Each operator already
counts its nodes up front; this helper turns that measured size into
the deliberate join-strategy pick of the optimization guide (§3.1
"broadcast the side that fits", §2.4 "a broadcast join replaces a
shuffle of the large side"): broadcast the state while it provably
fits, keep the shuffle join when it does not.

Join RESULTS are identical either way — the hint changes the physical
strategy, never the values — so oracle hashes are untouched.

A (long, double) state row frames to ~16 bytes + overhead, so the
5,000,000-row budget is ~100-200 MB built — inside normal executor
budgets and far below Spark's 8 GB / 512M-row broadcast cap. At
100 TB graph scale (billions of nodes) the count exceeds the budget
and every operator keeps its co-partitioned shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_STATE_ROWS = 5_000_000


def state_hint(df: DataFrame, n_rows: int) -> DataFrame:
    """``F.broadcast(df)`` when the measured state row count fits the
    broadcast budget; ``df`` unchanged otherwise."""
    return F.broadcast(df) if n_rows <= BROADCAST_STATE_ROWS else df
