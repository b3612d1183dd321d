"""Streaming tier tests: stream/batch equivalence (beyond the oracle
gate) and stateful dedup within watermark on a planted-duplicate
stream."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from movie_rankings_spark.streaming import events as ev


def _batch_daily_counts(spark, sf_dir):
    from movie_rankings_spark.catalog import load_table

    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
                 "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
    )


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream_out = ev.run_to_batch(
        ev.tumbling_daily_counts(ev.events_stream(spark, sf_dir))
    )
    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in _batch_daily_counts(spark, sf_dir).collect()}
    assert s == b


def test_run_to_batch_leaves_no_sink_view(spark, sf_dir):
    """The memory sink's stream_<uuid> view is dropped before
    run_to_batch returns; the returned frame keeps its rows."""
    def sink_views():
        return {
            t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")
        }

    before = sink_views()
    out = ev.run_to_batch(
        ev.tumbling_daily_counts(ev.events_stream(spark, sf_dir))
    )
    assert sink_views() == before
    want = sorted(map(tuple, _batch_daily_counts(spark, sf_dir).collect()))
    assert sorted(map(tuple, out.collect())) == want
    # a new aggregate over the frame still reads the sink's rows
    assert out.agg(F.sum("n_events")).first()[0] == sum(r[2] for r in want)


def test_dedup_within_watermark_removes_planted_dups(spark, tmp_path):
    src_dir = str(tmp_path / "dup_stream")
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 10:00:05", 1, "view", 1.0, "{}"),  # dup id, within wm
        (2, "2024-01-01 10:01:00", 1, "click", 2.0, "{}"),
        (3, "2024-01-01 10:02:00", 2, "view", 3.0, "{}"),
        (3, "2024-01-01 10:02:00", 2, "view", 3.0, "{}"),  # exact dup row
        (4, "2024-01-01 10:03:00", 2, "purchase", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    deduped = ev.dedup_within_watermark(stream, watermark="1 hour")
    out = ev.run_to_batch(deduped, output_mode="append")
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [1, 2, 3, 4]


def test_session_counts_merge_within_gap(spark, tmp_path):
    src_dir = str(tmp_path / "session_stream")
    rows = [
        (1, "2024-01-01 10:00:00", 7, "view", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 7, "view", 1.0, "{}"),  # same session
        (3, "2024-01-01 11:30:00", 7, "view", 1.0, "{}"),  # gap > 30m → new
        (4, "2024-01-01 10:00:00", 8, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = ev.run_to_batch(ev.session_counts(stream))
    got = {
        (r["user_id"], r["n_events"]) for r in out.collect()
    }
    assert got == {(7, 2), (7, 1), (8, 1)}


def test_user_lifetime_stats_matches_batch_agg(spark, sf_dir):
    """The applyInPandasWithState operator's final emissions must equal
    the plain batch aggregate (count + exact-decimal sum + arg-max)."""
    from pyspark.sql import Window

    out = ev.run_to_batch(
        ev.user_lifetime_stats(ev.events_stream(spark, sf_dir)),
        output_mode="update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6), r["last_event_type"])
        for r in out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    from movie_rankings_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
            F.max_by("event_type", "ts").alias("t"),
        )
    )
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6), r["t"]) for r in batch.collect()
    }
    assert got == want


def test_stream_dedup_exact_distinct(spark, sf_dir):
    out = ev.run_to_batch(
        ev.dedup_user_event_types(ev.events_stream(spark, sf_dir)),
        output_mode="append",
    )
    assert out.count() == out.select("user_id", "event_type").distinct().count()


def test_stream_incremental_dedup_equals_batch_and_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """The streamed pairs table must equal the one-shot batch
    incremental dedup, and re-draining the same checkpoint must not
    duplicate rows (exactly-once file processing) — not even when the
    last batch is replayed because its commit never landed."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.dedup import incremental_neardup_pairs
    from movie_rankings_spark.plans.streaming_queries import _stage_dedup_stream
    from movie_rankings_spark.streaming.dedup_stream import (
        DOCS_SCHEMA,
        stream_incremental_dedup,
    )

    src_dir, idx_dir = _stage_dedup_stream(spark, sf_dir)
    out, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return stream_incremental_dedup(stream, idx_dir, out, ckpt)

    first = drain().collect()
    streamed = {
        (r["batch_doc"], r["corpus_doc"], round(r["jaccard"], 12)) for r in first
    }
    docs = load_table(spark, sf_dir, "documents")
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 30, 1)
    batch_ans = {
        (r["batch_doc"], r["corpus_doc"], round(r["jaccard"], 12))
        for r in incremental_neardup_pairs(
            docs.filter(hb.isin("0", "1")), docs.filter(~hb.isin("0", "1"))
        ).collect()
    }
    assert streamed == batch_ans and len(streamed) > 0
    assert drain().count() == len(first)  # same checkpoint: no new rows
    _drop_last_commit(ckpt)
    # the last batch runs again under its own batch_id
    assert sorted(map(tuple, drain().collect())) == sorted(map(tuple, first))


def test_stream_cms_cells_equal_batch_sketch(spark, sf_dir, tmp_path):
    """After draining 3 micro-batches, the maintained cells table is
    bit-identical to the one-shot sketch; re-draining the checkpoint
    changes nothing."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.operators.cms import cms_build
    from movie_rankings_spark.plans.streaming_queries import _stage_split
    from movie_rankings_spark.streaming.dedup_stream import DOCS_SCHEMA
    from movie_rankings_spark.streaming.sketch_stream import stream_cms_maintenance

    src = _stage_split(spark, sf_dir, "documents", "doc_id", 3)
    cells_dir, ckpt = str(tmp_path / "cells"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream_cms_maintenance(stream, cells_dir, ckpt, depth=3, width=64)

    maintained = {(r["row"], r["bucket"]): r["n"] for r in drain().collect()}
    toks = (
        spark.read.parquet(src)
        .select(F.explode(F.split("text", " ")).alias("word"))
    )
    batch = {
        (r["row"], r["bucket"]): r["n"]
        for r in cms_build(toks, "word", 3, 64).collect()
    }
    assert maintained == batch and len(batch) > 0
    again = {(r["row"], r["bucket"]): r["n"] for r in drain().collect()}
    assert again == batch


def test_stream_bitmaps_equal_batch_and_or_is_idempotent(spark, sf_dir, tmp_path):
    """Maintained daily bitmaps == batch-built bitmaps cell-for-cell;
    re-draining (idempotent OR) changes nothing."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.plans.streaming_queries import _stage_split
    from movie_rankings_spark.streaming import events as ev
    from movie_rankings_spark.streaming.sketch_stream import stream_bitmap_maintenance

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    bm_dir, ckpt = str(tmp_path / "bm"), str(tmp_path / "ckpt")

    def drain():
        return stream_bitmap_maintenance(
            ev.read_events_stream(spark, src, maxFilesPerTrigger=1), bm_dir, ckpt
        )

    maintained = {
        (r["event_type"], str(r["day"]), r["buck"]): bytes(r["bm"])
        for r in drain().collect()
    }
    batch = {
        (r["event_type"], str(r["day"]), r["buck"]): bytes(r["bm"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("buck"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
        .collect()
    }
    assert maintained == batch and len(batch) > 0
    again = {
        (r["event_type"], str(r["day"]), r["buck"]): bytes(r["bm"])
        for r in drain().collect()
    }
    assert again == batch


def test_session_conf_restores_unsets_and_skips_none(spark):
    """session_conf (the scope run_to_batch and the RocksDB stream
    queries set their confs with) leaves the session as it found it."""
    import pytest

    from movie_rankings_spark.session import session_conf

    set_key = "spark.sql.shuffle.partitions"
    absent = "spark.mrs.test.absent"
    skipped = "spark.mrs.test.skipped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(absent, None) is None
    try:
        with session_conf(spark, {set_key: "3", absent: "x", skipped: None}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(absent) == "x"
            assert spark.conf.get(skipped, None) is None  # not set
            spark.conf.set(skipped, "inner")
        assert spark.conf.get(set_key) == before
        assert spark.conf.get(absent, None) is None
        assert spark.conf.get(skipped) == "inner"  # nor restored
    finally:
        spark.conf.unset(skipped)

    with pytest.raises(ZeroDivisionError):
        with session_conf(spark, {set_key: "5", absent: "y"}):
            1 / 0
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(absent, None) is None


def test_rocksdb_state_store_provider_equals_batch(spark, sf_dir):
    """The RocksDB state-store provider — the backend whose state
    capacity is disk-bounded, i.e. the 100 TB configuration — must
    run the watermarked windowed aggregate and produce exactly the
    in-memory provider's (= batch) result."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.session import session_conf
    from movie_rankings_spark.streaming import events as ev

    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    with session_conf(spark, rocksdb):
        out = ev.run_to_batch(
            ev.tumbling_daily_counts(ev.events_stream(spark, sf_dir))
        )
        got = {
            (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in out.collect()
        }

    e = load_table(spark, sf_dir, "events")
    want = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in e.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_restart_resumes_aggregation_state(spark, sf_dir, tmp_path):
    """Stop-and-restart continuity: drain half the input files, stop,
    let more files arrive, re-drain the SAME checkpoint — the final
    complete-mode aggregate must equal the batch answer over ALL
    files (state restored, early files not reprocessed)."""
    import shutil

    from pyspark.sql import functions as F

    from movie_rankings_spark.plans.streaming_queries import _stage_split
    from movie_rankings_spark.streaming.events import read_events_stream

    staged = _stage_split(spark, sf_dir, "events", "event_id", 4)
    parts = sorted(
        p.name for p in __import__("pathlib").Path(staged).glob("part-*")
    )
    assert len(parts) == 4
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def drain(qname):
        stream = read_events_stream(spark, str(src))
        totals = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
        )
        q = (
            totals.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["event_type"]): r["n"]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }

    for p in parts[:2]:
        shutil.copy(f"{staged}/{p}", src / p)
    first = drain("restart_t1")

    for p in parts[2:]:
        shutil.copy(f"{staged}/{p}", src / p)
    second = drain("restart_t2")

    full = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(staged)
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert second == full
    partial_total = sum(first.values())
    assert 0 < partial_total < sum(full.values())


def test_stream_histogram_cells_equal_batch_daily(spark, sf_dir, tmp_path):
    """After draining 4 micro-batches, the maintained per-(type, day,
    bin) histogram cells are bit-identical to the one-shot batch daily
    build (cell addition is a commutative monoid); re-draining the
    checkpoint changes nothing, and neither does replaying the last
    batch because its commit never landed."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.plans.streaming_queries import _stage_split
    from movie_rankings_spark.streaming import events as ev
    from movie_rankings_spark.streaming.sketch_stream import (
        stream_histogram_maintenance,
    )

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    cells_dir, ckpt = str(tmp_path / "cells"), str(tmp_path / "ckpt")

    def drain():
        stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
        cells = stream_histogram_maintenance(
            stream, cells_dir, ckpt, lo=0.0, step=25.0, n_bins=20
        )
        return {
            (r["event_type"], str(r["day"]), r["bin"]): r["n"]
            for r in cells.collect()
        }

    maintained = drain()
    e = spark.read.parquet(src)
    v = F.col("value")
    bin_ = F.least(
        F.lit(19), F.greatest(F.lit(0), F.floor(v / F.lit(25.0)).cast("int"))
    )
    batch = {
        (r["event_type"], str(r["day"]), r["bin"]): r["n"]
        for r in e.filter(v.isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert maintained == batch and len(batch) > 0
    assert drain() == batch
    _drop_last_commit(ckpt)
    assert drain() == batch  # the last batch runs again under its own batch_id


def _drop_last_commit(ckpt):
    """Make the checkpoint look as if the job died after the last
    batch's write but before Spark committed it."""
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for name in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))


def test_split_stage_follows_its_source(spark, sf_dir, tmp_path, monkeypatch):
    """A staged landing zone belongs to one source file: two datasets
    that share the directory name sf0.001 but not their events stage
    separately, and rewriting a dataset's events in place restages it,
    so a split-staged stream query answers for the events it was given."""
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from movie_rankings_spark.catalog import table_path
    from movie_rankings_spark.plans.streaming_queries import (
        _HIST_STREAM_ORACLE,
        stream_histogram_rollup,
    )
    from movie_rankings_spark.streaming import ingest

    monkeypatch.setattr(ingest, "_STAGE_ROOT", str(tmp_path / "stages"), raising=False)
    events = pq.read_table(table_path(sf_dir, "events"))
    even = events.filter(pc.equal(pc.bit_wise_and(events["event_id"], 1), 0))
    ds_a, ds_b = tmp_path / "dsA" / "sf0.001", tmp_path / "dsB" / "sf0.001"
    ds_a.mkdir(parents=True)
    ds_b.mkdir(parents=True)
    shutil.copyfile(table_path(sf_dir, "events"), table_path(str(ds_a), "events"))
    pq.write_table(even, table_path(str(ds_b), "events"))

    def check(ds):
        got = sorted(map(tuple, stream_histogram_rollup(spark, str(ds)).collect()))
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{table_path(str(ds), 'events')}')"
            )
            assert got == sorted(con.execute(_HIST_STREAM_ORACLE).fetchall())
        return sum(r[2] for r in got)

    n_all = check(ds_a)
    n_even = check(ds_b)
    assert 0 < n_even < n_all
    pq.write_table(even, table_path(str(ds_a), "events"))  # rewritten in place
    assert check(ds_a) == n_even
