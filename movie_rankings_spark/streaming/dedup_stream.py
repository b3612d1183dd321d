"""Streaming incremental dedup: new documents arrive as files; every
micro-batch is near-dup-checked against the PERSISTED corpus LSH
index via foreachBatch (SURVEY.md §2i × the dedup tier — the
operational form of `dedup_incremental_batch`).

Production shape this mirrors: the corpus's MinHash band table and
shingle-set table are written ONCE when the corpus commits (they are
the stored index — `operators/dedup.py::banded_buckets` /
`shingle_sets`); a landing-zone file stream delivers each new ingest
batch; per micro-batch the cost is batch×bands index lookups plus
exact verification of the (tiny) candidate set. The checkpoint makes
file processing exactly-once and each batch's pairs overwrite that
batch's own directory (streaming/ingest.py::append_stream), so even a
batch replayed after a crash leaves the pairs table equal to the
one-shot batch answer — which is what lets the registered query
reuse the exact batch ORACLE, rare for a streaming operator.

State: none in the streaming engine itself (the per-batch work is
stateless against the index), so there is no watermark to size; the
engine only tracks processed files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from movie_rankings_spark.operators.dedup import (
    banded_buckets,
    incremental_pairs_against_index,
    minhash_signatures,
    shingle_sets,
)
from movie_rankings_spark.streaming.ingest import append_stream

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def write_corpus_index(
    corpus: DataFrame,
    index_dir: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Materialize the stored dedup index: band buckets + shingle
    sets. In production this runs when a corpus snapshot commits and
    is APPENDED to as batches are accepted."""
    rows = num_hashes // bands
    banded_buckets(
        minhash_signatures(corpus, num_hashes, shingle_n), bands, rows
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "bands"))
    shingle_sets(corpus, shingle_n).write.mode("overwrite").parquet(
        os.path.join(index_dir, "sets")
    )


def stream_incremental_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Drain the landing-zone stream (availableNow), writing each
    micro-batch's verified near-dup pairs under ``out_dir``, and
    return every pair written there."""
    spark = docs_stream.sparkSession

    def pairs(batch_df: DataFrame) -> DataFrame:
        c_idx = spark.read.parquet(os.path.join(index_dir, "bands"))
        c_sets = spark.read.parquet(os.path.join(index_dir, "sets"))
        return incremental_pairs_against_index(
            batch_df, c_idx, c_sets, threshold, num_hashes, bands, shingle_n
        )

    return append_stream(docs_stream, out_dir, checkpoint_dir, pairs)
