"""Exactly-once incremental ingestion: re-runs are no-ops, new files
append without reprocessing old ones."""

from __future__ import annotations

import shutil

import pytest

from movie_rankings_spark.catalog import table_path
from movie_rankings_spark.streaming.ingest import (
    checkpoint_manager,
    drain,
    ingest_to_parquet,
    read_file_stream,
)

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

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


@pytest.mark.parametrize(
    "checkpoint_dir, default_fs",
    [
        ("/tmp/ckpt", "file:///"),
        ("relative/ckpt", "file:///"),
        ("file:/tmp/ckpt", "file:///"),
        ("file:///tmp/ckpt", "hdfs://namenode:8020"),
    ],
)
def test_local_checkpoints_use_the_filesystem_manager(checkpoint_dir, default_fs):
    assert checkpoint_manager(checkpoint_dir, default_fs) == FS_MANAGER


@pytest.mark.parametrize(
    "checkpoint_dir, default_fs",
    [
        ("hdfs://namenode:8020/ckpt", "file:///"),
        ("s3a://bucket/ckpt", "file:///"),
        ("/ckpt", "hdfs://namenode:8020"),
    ],
)
def test_remote_checkpoints_keep_sparks_default(checkpoint_dir, default_fs):
    assert checkpoint_manager(checkpoint_dir, default_fs) is None


def test_stream_runs_with_the_manager_and_restores_the_conf(spark, sf_dir, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copyfile(table_path(sf_dir, "events"), landing / "batch1.parquet")
    before = dict(spark.conf.getAll)
    seen = []
    drain(
        read_file_stream(spark, str(landing), SCHEMA),
        str(tmp_path / "ckpt"),
        lambda batch, _: seen.append(batch.sparkSession.conf.get(MANAGER_CONF, None)),
    )
    assert seen and set(seen) == {FS_MANAGER}
    assert dict(spark.conf.getAll) == before
