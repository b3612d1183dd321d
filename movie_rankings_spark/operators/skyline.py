"""2-D skyline / Pareto frontier (Börzsönyi et al. 2001, "The Skyline
Operator") without a global sort or an all-pairs join.

A row is on the skyline iff no other row dominates it — here:
``x`` to MINIMIZE, ``y`` to MAXIMIZE, and b dominates a iff
(b.x ≤ a.x ∧ b.y ≥ a.y) with at least one strict. The textbook
formulation is a quadratic NOT EXISTS self-join (exactly what the
DuckDB oracle runs); the 2-D structure admits a linear form — a row
survives iff its y strictly exceeds every y at strictly smaller x and
equals the max y at its own x — which needs only a prefix-max over
x-ascending groups.

A bare ``Window.orderBy(x)`` would plan Exchange SinglePartition, so
the prefix-max runs as the repo's bucketed two-pass
(operators/statistics.py::quantile_rank_map convention):

1. collapse to per-x group maxima — one map-side-combinable groupBy
   (|distinct x| rows, the only data the frontier math ever touches);
2. approx_percentile bounds place bucket boundaries over x (the
   sketch only PLACES boundaries — dominance below stays exact);
3. within-bucket prefix max via a window PARTITIONED by bucket, plus
   driver prefix-max over the ≤ |buckets| per-bucket maxima,
   broadcast back — exact global "max y at strictly smaller x" for
   every group, fully parallel;
4. one join back to the fact keeps every row (ties included) whose
   (x, y) sits on the frontier.

Scale: the fact table is scanned once for step 1 and once for the
final semi-join — both pushdown-friendly column scans; everything
between runs on the |distinct x| aggregate. No CartesianProduct, no
SinglePartition exchange, nothing driver-side beyond |buckets| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """All rows of ``df`` on the (min x, max y) Pareto frontier —
    duplicates and x/y ties that are merely EQUAL (not dominated)
    are kept, matching the NOT-EXISTS semantics.

    NULL contract: rows with NULL x or y are excluded UP FRONT, here
    and in the oracle (skyline_oracle_sql) alike. Dominance is not
    defined against NULL — the plain NOT-EXISTS form would silently
    KEEP a NULL row (every comparison evaluates to NULL ⇒ never
    dominated) while the join plan silently DROPPED it; filtering
    both sides makes the contract identical on both engines."""
    spark = df.sparkSession
    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    n = buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(int(n), 4096))

    g = df.groupBy(F.col(x_col).alias("_sk_x")).agg(
        F.max(F.col(y_col)).alias("_sk_gy")
    )
    if n > 1:
        bounds = df.agg(
            F.percentile_approx(
                x_col, F.lit([i / n for i in range(1, n)]), F.lit(10_000)
            ).alias("b")
        ).collect()[0]["b"]
    else:
        bounds = []
    bounds = sorted(set(bounds or []))
    # no boundaries (single bucket / constant column) -> everything in
    # bucket 0, matching the offsets loop below (a [-inf] sentinel
    # would send every row to bucket 1 and the join would drop them)
    bucket = (
        F.size(F.filter(F.lit(bounds), lambda b: F.col("_sk_x") > b))
        if bounds
        else F.lit(0)
    )
    gb = g.withColumn("_bucket", bucket).persist_tracked()
    # per-bucket max gy, prefix-maxed on the driver (≤ n rows)
    bmax = {
        r["_bucket"]: r["m"]
        for r in gb.groupBy("_bucket").agg(F.max("_sk_gy").alias("m")).collect()
    }
    prefix, best = [], None
    for b in range(len(bounds) + 1):
        prefix.append((b, best))
        cur = bmax.get(b)
        if cur is not None and (best is None or cur > best):
            best = cur
    off = local_frame(
        spark,
        prefix, f"_bucket int, _before {df.schema[y_col].dataType.simpleString()}"
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy("_sk_x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        gb.withColumn("_inb", F.max("_sk_gy").over(w))
        .join(F.broadcast(off), "_bucket")
        .withColumn("_pmax", F.greatest(F.col("_inb"), F.col("_before")))
        .filter(F.col("_pmax").isNull() | (F.col("_sk_gy") > F.col("_pmax")))
        .select("_sk_x", "_sk_gy")
    )
    # gb stays cached until the action: the plan above consumes it in
    # two branches (driver bmax + the frontier filter) and the final
    # join executes lazily after this returns
    return df.join(
        frontier,
        (df[x_col] == frontier["_sk_x"]) & (df[y_col] == frontier["_sk_gy"]),
    ).drop("_sk_x", "_sk_gy")


def skyline_oracle_sql(
    x_sql: str, y_sql: str, table: str, select_sql: str, order_sql: str
) -> str:
    """The quadratic NOT-EXISTS reference form (the semantics the
    linear plan must reproduce). NULL x/y rows are excluded up front,
    matching skyline_2d's NULL contract — without the explicit filter
    the NOT-EXISTS form would keep NULL rows (never dominated, every
    comparison NULL) that the join plan drops."""
    return f"""
SELECT {select_sql}
FROM {table} a
WHERE a.{x_sql} IS NOT NULL AND a.{y_sql} IS NOT NULL
  AND NOT EXISTS (
  SELECT 1 FROM {table} b
  WHERE b.{x_sql} <= a.{x_sql} AND b.{y_sql} >= a.{y_sql}
    AND (b.{x_sql} < a.{x_sql} OR b.{y_sql} > a.{y_sql})
)
ORDER BY {order_sql}
"""
