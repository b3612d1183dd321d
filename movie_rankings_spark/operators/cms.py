"""Count-min sketch word-frequency estimation, oracle-exact.

The mergeable frequency sketch that pairs with the HLL cardinality
rollup: a d×w counter grid answers "how often does token X occur"
within ε·N overestimate using O(d·w) space, regardless of corpus or
vocabulary size — the structure behind streaming heavy-hitter and
frequency services at 100 TB where the exact vocabulary table is
itself huge.

Build: one explode of the token stream over the d hash rows →
groupBy (row, bucket) count with map-side combine — shuffle is
O(d·w), never vocabulary-sized. Partial sketches from different
partitions/days merge by cell-wise addition (same groupBy), which is
what makes it a sketch and not a sample.

Probe: est(x) = min over rows of cell(row, bucket_row(x)) — an
equi-join of the probe set against the sketch, then a MIN aggregate.
Estimates are DETERMINISTIC given the hash family; hashing is the
md5-slice portable hash (the simhash/classifier convention), so DuckDB
reproduces every cell and every estimate bit-for-bit — the registered
query is value-hash checked, unusual for a sketch.

Reference scope: north-star [EXT] sketch tier (reference has none).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import words


def _bucket(col, seed: int, width: int):
    """Portable row hash: first 8 hex digits of md5(key ':' seed)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f":{seed}"))), 1, 8), 16, 10
        ).cast("long")
        % width
    )


def cms_build(tokens: DataFrame, col: str, depth: int, width: int) -> DataFrame:
    """The sketch as a (row, bucket, n) table — d·w cells max."""
    counted = tokens.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    return cms_build_from_counts(counted, col, "n", depth, width)


def cms_build_from_counts(
    counts: DataFrame, col: str, n_col: str, depth: int, width: int
) -> DataFrame:
    """Sketch from a pre-aggregated (key, count) table: the d-way
    explode and d×w cell reduction run over VOCAB rows, not the raw
    stream — the shape that matters when the same counts table feeds
    other consumers (one corpus scan total)."""
    cells = counts.select(
        F.col(n_col).alias("_n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket(F.col(col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    )
    return cells.groupBy("c.row", "c.bucket").agg(F.sum("_n").alias("n"))


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, col: str, depth: int, width: int
) -> DataFrame:
    """min-over-rows estimate for each probe key. The probe side
    explodes to d rows/key and equi-joins the sketch on (row,
    bucket); the sketch side is at most d·w rows — broadcastable."""
    pb = probes.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket(F.col(col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c"),
    ).select(col, "c.row", "c.bucket")
    return (
        pb.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(col)
        .agg(F.min("n").alias("cms_est"))
    )


def cms_join_size_report(
    left: DataFrame,
    right: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Sketch-based equi-join CARDINALITY estimate — the planning
    primitive that decides, before any shuffle is paid, whether
    ``left ⋈ right ON col`` is safe to run at 100 TB (the classic
    AMS/CMS inner-product application; for left = right it estimates
    the self-join size Σ n_k², the skew number behind shuffle blow-up).

    est = min over hash rows i of Σ_bucket L[i,b]·R[i,b]: each term is
    the true join size plus non-negative collision mass, so est ≥
    exact always, with E[overestimate] ≤ |L|·|R|/w per row — the join
    never runs, only two O(d·w) sketches meet. Build shuffle is
    key-distinct-sized with map-side combine; the product+min runs on
    d·w-row tables.

    md5-slice bucketing keeps every cell and the estimate itself
    DuckDB-reproducible (the cms_word_frequency convention), so the
    registered report — exact_join_size, cms_est, overestimate — is
    value-hash checked end to end. The exact side is computed here
    too (one count-aggregate per input + a key equi-join of the two
    vocab-sized count tables); at 100 TB a consumer skips it and keeps
    only the estimate. Output: one row."""
    key = F.col(col).cast("string").alias("_k")
    # per-key count tables are vocab-sized and feed the sketch build
    # AND the exact side — persist so each input is scanned once; the
    # self-join case (left is right) builds ONE table and one sketch
    lc = (
        left.select(key)
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_nl"))
        .persist_tracked()
    )
    if right is left:
        rc = lc.select("_k", F.col("_nl").alias("_nr"))
    else:
        rc = (
            right.select(key)
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_nr"))
            .persist_tracked()
        )
    sk_l = cms_build_from_counts(lc, "_k", "_nl", depth, width)
    sk_r = (
        sk_l
        if right is left
        else cms_build_from_counts(rc, "_k", "_nr", depth, width)
    )
    # inner-join of the two cell tables drops hash rows with NO
    # colliding buckets — for near-disjoint inputs that row's dot is
    # 0 (the best estimate), so a depth-row spine restores it; min
    # over an incomplete row set would overestimate
    spine = local_frame(
        left.sparkSession,
        [(i,) for i in range(depth)], "row int"
    )
    dots = (
        sk_l.withColumnRenamed("n", "_cl")
        .join(sk_r.withColumnRenamed("n", "_cr"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("_cl") * F.col("_cr")).alias("_dot"))
    )
    est = (
        spine.join(dots, "row", "left")
        .agg(
            F.min(F.coalesce(F.col("_dot"), F.lit(0)))
            .cast("long")
            .alias("cms_est")
        )
    )
    exact = (
        lc.join(rc, "_k")
        .agg(
            # disjoint key sets: SUM over zero rows is NULL, size is 0
            F.coalesce(F.sum(F.col("_nl") * F.col("_nr")), F.lit(0))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "cms_est",
        (F.col("cms_est") - F.col("exact_join_size")).alias("overestimate"),
    )


def cms_word_frequency_report(
    docs: DataFrame, depth: int = 4, width: int = 512, min_count: int = 200
) -> DataFrame:
    """Build a CMS over the corpus token stream, probe it with every
    word whose TRUE count ≥ min_count, and report word, true_n,
    cms_est, overestimate (est − true ≥ 0 always; ≤ 2N/w with
    probability 1 − 2^−d per the CMS bound)."""
    # ONE corpus scan: the word-count table (vocab-sized, persisted)
    # feeds the sketch build, the truth side, and the probe — without
    # the cache each branch would rescan the token stream.
    toks = docs.select(F.explode(words(F.col("text"))).alias("word"))
    counted = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_n")).persist_tracked()
    sketch = cms_build_from_counts(counted, "word", "true_n", depth, width)
    truth = counted.filter(F.col("true_n") >= min_count)
    est = cms_estimate(sketch, truth.select("word"), "word", depth, width)
    return truth.join(est, "word").select(
        "word",
        "true_n",
        "cms_est",
        (F.col("cms_est") - F.col("true_n")).alias("overestimate"),
    )
