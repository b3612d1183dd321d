"""Exact global prefix sums without a global sort: the one two-pass
scan behind every exact rank, cumulative count and global ordinal in
the operators.

A bare ``Window.orderBy(v)`` plans as ``Exchange SinglePartition`` and
funnels the whole input through one task. The operators instead run
the parallel prefix sum of Blelloch, "Prefix Sums and Their
Applications" (1990), over contiguous key ranges:

1. **Placement.** Every row gets a bucket id that is monotone in the
   order: all rows of bucket b precede all rows of bucket b + 1.
   :func:`sketch_bucket` places buckets at ``percentile_approx``
   bounds of a column; callers with a key of known distribution
   (an md5 prefix) or an explicit range partition
   (``spark_partition_id`` after ``repartitionByRange``) bring their
   own bucket column.
2. **Totals.** One aggregate collects each bucket's total of every
   summand (at most one row per bucket reaches the driver), and the
   driver prefix-sums them into per-bucket offsets.
3. **Running sums.** A ``ROWS UNBOUNDED PRECEDING`` window partitioned
   by bucket and ordered within it, plus the bucket's offset (a
   broadcast ``local_frame``), is the inclusive global prefix sum of
   every row; all buckets run in parallel.

Exactness: the sketch only places boundaries. Each row lands in
exactly one bucket and bucket ids follow the order, so offset +
in-bucket running sum is the exact global prefix sum wherever the
bounds fall; a bad sketch costs balance, never correctness. Sketch
placement is a function of the value, so equal values share a bucket,
and an empty or single-bucket sketch puts every row in bucket 0.
Per-row sums are deterministic when the order is unique within a
bucket: callers run over distinct-value tables or end the order with
a unique key.

Bounds are taken over the frame being bucketed, which for the
statistics operators is the persisted distinct-value table: the
windows run over its rows, so balancing |V| per bucket is the right
load balance, and the sketch reads the cache, not the fact.

At 100 TB: the fact is aggregated once; the driver holds at most
``MAX_BUCKETS`` offsets; the window shuffle is hash-partitioned on the
bucket id, so each task sorts about 1/buckets of the rows; nothing is
ever a single-partition exchange. ``spark.sql.shuffle.partitions``
sets the bucket count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame

#: most buckets one scan places (and offsets the driver collects)
MAX_BUCKETS = 4096


def bucket_count(spark: SparkSession) -> int:
    """The session's bucket count: ``spark.sql.shuffle.partitions``
    clamped to [1, MAX_BUCKETS]."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n, MAX_BUCKETS))


def sketch_bucket(df: DataFrame, col: str) -> Column:
    """Bucket id of ``df[col]``: how many distinct ``percentile_approx``
    bounds of the column lie strictly below the value. Runs one
    collect (the sketch) unless the session asks for one bucket; without
    bounds (one bucket, an empty or all-NULL column) it is 0 for every
    row."""
    n = bucket_count(df.sparkSession)
    bounds = []
    if n > 1:
        bounds = df.agg(
            F.percentile_approx(
                col, F.lit([i / n for i in range(1, n)]), F.lit(10_000)
            ).alias("b")
        ).collect()[0]["b"]
    bounds = sorted(set(bounds or []))
    if not bounds:
        return F.lit(0)
    return F.size(F.filter(F.lit(bounds), lambda b: F.col(col) > b))


def running_sums(
    df: DataFrame, bucket: Column, order: list, sums: dict[str, Column]
) -> tuple[DataFrame, dict[str, int]]:
    """``df`` plus, for each ``name -> summand`` of ``sums``, a bigint
    column ``name``: the inclusive sum of the summand over every row at
    or before this one in (bucket, ``order``) order. Also returns each
    name's grand total, known on the driver from the totals collect,
    for callers to embed as a literal. Summands are integral. One
    collect (the totals); rows whose bucket is NULL are dropped."""
    names = list(sums)
    rows = df.withColumn("_bucket", bucket.cast("int"))
    totals = {
        r["_bucket"]: r
        for r in rows.groupBy("_bucket")
        .agg(*[F.sum(sums[k]).alias(k) for k in names])
        .collect()
        if r["_bucket"] is not None
    }
    offsets, running = [], dict.fromkeys(names, 0)
    for b in sorted(totals):
        offsets.append((b, *running.values()))
        for k in names:
            running[k] += totals[b][k]
    off = local_frame(
        df.sparkSession,
        offsets,
        ", ".join(["_bucket int", *[f"_off_{i} long" for i in range(len(names))]]),
    )
    w = Window.partitionBy("_bucket").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = rows.select(
        "*", *[F.sum(sums[k]).over(w).alias(f"_run_{i}") for i, k in enumerate(names)]
    ).join(F.broadcast(off), "_bucket")
    cum = [
        (F.col(f"_off_{i}") + F.col(f"_run_{i}")).cast("long").alias(k)
        for i, k in enumerate(names)
    ]
    return out.select(*df.columns, *cum), {k: int(v) for k, v in running.items()}
