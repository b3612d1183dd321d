from __future__ import annotations

import datetime
import os

from movie_rankings_spark.operators.changelog import latest_snapshot
from movie_rankings_spark.streaming.upsert import stream_upsert

_SCHEMA = "key long, ts timestamp, seq long, val string"
_KW = dict(keys=["key"], version_cols=["ts", "seq"], payload_cols=["val"])


def _ts(day: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, day)


def _write(spark, rows, path):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _run(spark, landing, run_dir):
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    return stream_upsert(
        stream,
        table_dir=os.path.join(run_dir, "table"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        **_KW,
    )


def _as_dict(df):
    return {r.key: (r.ts, r.seq, r.val, r.n_versions) for r in df.collect()}


def test_stream_upsert_is_incremental_and_matches_batch(spark, tmp_path):
    landing = str(tmp_path / "landing")
    run_dir = str(tmp_path / "run")
    part1 = [
        (1, _ts(1), 1, "a"),
        (1, _ts(2), 2, "b"),
        (2, _ts(1), 3, "x"),
    ]
    _write(spark, part1, landing)
    snap1 = _as_dict(_run(spark, landing, run_dir))
    batch1 = _as_dict(latest_snapshot(spark.createDataFrame(part1, _SCHEMA), **_KW))
    assert snap1 == batch1
    assert snap1[1][2] == "b" and snap1[1][3] == 2

    # re-run with no new files: checkpoint skips everything, table unchanged
    snap1b = _as_dict(_run(spark, landing, run_dir))
    assert snap1b == snap1

    # a late file lands: only it is applied, result == full-batch compaction
    part2 = [
        (1, _ts(3), 4, "c"),  # newer version for key 1
        (3, _ts(1), 5, "z"),  # brand-new key
    ]
    _write(spark, part2, landing)
    snap2 = _as_dict(_run(spark, landing, run_dir))
    batch_all = _as_dict(
        latest_snapshot(spark.createDataFrame(part1 + part2, _SCHEMA), **_KW)
    )
    assert snap2 == batch_all
    assert snap2[1][2] == "c" and snap2[1][3] == 3
    assert snap2[3][2] == "z"


def test_version_pruning_bounds_table(spark, tmp_path):
    landing = str(tmp_path / "landing")
    run_dir = str(tmp_path / "run")
    for day in (1, 2, 3):
        _write(spark, [(1, _ts(day), day, f"v{day}")], landing)
    _run(spark, landing, run_dir)
    table = os.path.join(run_dir, "table")
    versions = [d for d in os.listdir(table) if d.startswith("v")]
    assert len(versions) <= 2  # merge base + published head
