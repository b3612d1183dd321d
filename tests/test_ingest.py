"""Exactly-once incremental ingestion: re-runs are no-ops, new files
append without reprocessing old ones."""

from __future__ import annotations

import shutil

from movie_rankings_spark.catalog import table_path
from movie_rankings_spark.streaming.ingest import ingest_to_parquet, read_file_stream

SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def test_ingest_is_exactly_once_and_incremental(spark, sf_dir, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    src = table_path(sf_dir, "events")
    shutil.copyfile(src, landing / "batch1.parquet")
    n_src = spark.read.schema(SCHEMA).parquet(str(landing)).count()

    def run():
        ingest_to_parquet(
            read_file_stream(spark, str(landing), SCHEMA), out, ckpt
        )
        return spark.read.parquet(out).count()

    assert run() == n_src
    # re-run with no new files: checkpoint skips everything (no dups)
    assert run() == n_src

    # a new file lands: only it is ingested on the next run
    small = (
        spark.read.schema(SCHEMA)
        .parquet(str(landing / "batch1.parquet"))
        .limit(50)
    )
    small.write.parquet(str(tmp_path / "stage"))
    staged = [
        p for p in (tmp_path / "stage").iterdir() if p.suffix == ".parquet"
    ]
    shutil.copyfile(staged[0], landing / "batch2.parquet")
    assert run() == n_src + 50
