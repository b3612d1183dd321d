"""Streaming sketch maintenance: the count-min cells table kept
up-to-date by a document file stream (SURVEY.md §2i × A13), and its
two siblings over the event stream — per-(type, day, bucket) user-id
bitmaps and per-(type, day, bin) histogram cells.

This is how frequency/cardinality services actually run at 100 TB:
the serving store holds the O(d·w) SKETCH, not the vocabulary; each
ingest batch folds its cell partials in by a monoid merge (CMS and
histogram cells add, bitmaps OR — the CMS property is pinned by the
merge test in tests/test_cms.py). Each table is a versioned
exactly-once table (streaming/ingest.py::fold_stream); each
maintenance call returns the published table. A replayed batch
overwrites its own version, never double-adds.

Because every merge is commutative+associative, the maintained table
after draining N micro-batches is BIT-IDENTICAL to the one-shot batch
build — which lets each registered query reuse the exact DuckDB
oracle of its batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.functions.text import words
from movie_rankings_spark.operators.cms import cms_build
from movie_rankings_spark.streaming.ingest import fold_stream


def _merge(keys: tuple[str, ...], agg: str, col: str):
    """The monoid merge of two cell tables: ``agg(col)`` per ``keys``."""
    return lambda a, b: (
        a.unionByName(b).groupBy(*keys).agg(F.expr(f"{agg}({col})").alias(col))
    )


def stream_cms_maintenance(
    docs_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame | None:
    """Drain the document stream (availableNow), folding each
    micro-batch's CMS cell partials into the versioned cells table."""
    return fold_stream(
        docs_stream,
        table_dir,
        checkpoint_dir,
        lambda batch: cms_build(
            batch.select(F.explode(words(F.col("text"))).alias("word")),
            "word",
            depth,
            width,
        ),
        _merge(("row", "bucket"), "sum", "n"),
    )


def stream_bitmap_maintenance(
    events_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> DataFrame | None:
    """The EXACT twin of the CMS maintenance above: per-(event_type,
    day, bucket) user-id BITMAPS kept current by the event stream.
    Bitmap OR is commutative, associative AND idempotent — a replayed
    batch cannot even double-count a bit, the strongest exactly-once
    story in the streaming tier — so the maintained table is
    bit-identical to the batch build and distinct-user rollups read
    from it are EXACT (bitmap_users_rollup's oracle applies)."""
    return fold_stream(
        events_stream,
        table_dir,
        checkpoint_dir,
        lambda batch: batch.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("buck"),
        ).agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
        ),
        _merge(("event_type", "day", "buck"), "bitmap_or_agg", "bm"),
    )


def stream_histogram_maintenance(
    events_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    lo: float = 0.0,
    step: float = 25.0,
    n_bins: int = 20,
) -> DataFrame | None:
    """Third member of the maintained-artifact family (CMS cells,
    bitmaps): the per-(event_type, day, bin) fixed-bin HISTOGRAM kept
    current by the event stream. Cell addition is a commutative
    monoid, so after draining the maintained daily table is
    bit-identical to the one-shot batch build
    (operators/statistics.py::histogram_mergeable_rollup's daily
    stage) and the exact batch rollup oracle applies to any level
    merged from it."""
    v = F.col("value")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(step)).cast("int")),
    )
    return fold_stream(
        events_stream,
        table_dir,
        checkpoint_dir,
        lambda batch: batch.filter(v.isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n")),
        _merge(("event_type", "day", "bin"), "sum", "n"),
    )
