"""Streaming upsert materialization — maintain a latest-wins snapshot
table from a changelog stream via ``foreachBatch`` (the CDC MERGE
pattern on plain parquet).

Per micro-batch: compact the batch to its own snapshot
(operators/changelog.py), merge it with the previous version, and
publish a NEW versioned directory, flipping a pointer file last. The
merge (argmax over versions + n_versions addition) is associative and
commutative, so the result is independent of how the changelog splits
into batches.

Exactly-once under crash replay comes from the shared versioned
table (streaming/ingest.py::fold_stream): batch N merges against the
newest version STRICTLY BELOW N, so a replayed batch rebuilds its own
version instead of double-applying itself.

On a lakehouse table format (Delta/Iceberg) the publish step becomes
``MERGE INTO`` and the pointer is the table log; the batch-compact +
associative-merge shape — shuffle the batch SNAPSHOT, never the
accumulated history — is identical. State lives in the table, not the
stream: unlike a stateful-aggregation materialization, stream state
here is zero, so a 100 TB key space costs executor memory nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.operators.changelog import latest_snapshot
from movie_rankings_spark.streaming.ingest import fold_stream


def merge_snapshots(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Combine two latest-wins snapshots: per key, the maximal
    version's payload and the SUM of n_versions (each side already
    counted its own changelog rows)."""
    ver = F.struct(*[F.col(c) for c in version_cols])
    merged = a.unionByName(b).groupBy(*keys).agg(
        F.max(ver).alias("_ver"),
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), ver).alias("_pay"),
        F.sum("n_versions").alias("n_versions"),
    )
    return merged.select(
        *keys,
        *[F.col(f"_ver.{c}").alias(c) for c in version_cols],
        *[F.col(f"_pay.{c}").alias(c) for c in payload_cols],
        F.col("n_versions").cast("long").alias("n_versions"),
    )


def stream_upsert(
    changelog: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame | None:
    """Drain the changelog stream into ``table_dir`` as a maintained
    latest-wins snapshot (availableNow) and return the published
    snapshot. Call repeatedly as new files land; the checkpoint skips
    already-applied batches."""
    cols = (keys, version_cols, payload_cols)
    return fold_stream(
        changelog,
        table_dir,
        checkpoint_dir,
        lambda batch: latest_snapshot(batch, *cols),
        lambda a, b: merge_snapshots(a, b, *cols),
    )
