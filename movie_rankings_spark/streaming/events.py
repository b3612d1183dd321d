"""Streaming operators over the events stream (SURVEY.md §2i [EXT]).

The events parquet doubles as a file-source stream; every operator
here is written against an unbounded `readStream` DataFrame and
executed with an availableNow trigger for tests/oracles — identical
code would run against a Kafka source at scale, the only change being
the `readStream.format(...)` line.

Semantics:
  * tumbling / sliding windows — `F.window`, epoch-aligned, so batch
    `date_trunc`/`time_bucket` reproduce them exactly (the oracle
    relies on this).
  * session windows — `F.session_window` with a 30 min gap; the batch
    twin is the classic lag/cumsum sessionization.
  * watermarks bound state for append sinks; aggregation demos run in
    `complete` mode so availableNow emits every window (append mode
    would hold back windows newer than the final watermark).
  * stateful dedup — `dropDuplicatesWithinWatermark` keyed on
    event_id.
  * stream-stream join — watermarked two-sided time-bound inner join
    (view→purchase attribution); state evicted past watermark+horizon.

Scale notes: window aggregates shuffle on (window ⊗ group key) with
partial aggregation; session windows shuffle on user_id and merge
per-key state — both bounded by the watermark horizon, so state size
is O(active keys × horizon), independent of stream length.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import events_ts_micros, file_meta, table_path
from movie_rankings_spark.session import session_conf
from movie_rankings_spark.streaming.ingest import (
    read_file_stream,
    run_available_now,
    stage,
)

EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

EVENTS_RAW_SCHEMA_NANOS_LONG = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

_CHECKPOINT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
    "checkpoints",
)


def read_events_stream(
    spark: SparkSession, src_dir: str, **reader_options
) -> DataFrame:
    """File-source stream over an events parquet directory, ts
    normalized to plain micros TIMESTAMP.

    The source column is TIMESTAMP(NANOS) (driver file) or whatever a
    restage wrote; the user-supplied stream schema must match how this
    Spark build surfaces it, so check the ts type in the batch
    reader's memoized schema (catalog.file_meta: one inference job per
    directory state) — micro-truncated TIMESTAMP_NTZ on 4.1+, raw nanos
    BIGINT on builds honoring nanosAsLong — and normalize ts exactly as
    the batch catalog does, so stream results match batch oracles."""
    from pyspark.sql import types as T

    probe = file_meta(spark, src_dir).schema["ts"].dataType
    nanos = isinstance(probe, T.LongType)
    schema = EVENTS_RAW_SCHEMA_NANOS_LONG if nanos else EVENTS_RAW_SCHEMA
    return events_ts_micros(
        read_file_stream(spark, src_dir, schema, **reader_options)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream (file source), ts as micros
    TIMESTAMP — identical column semantics to the batch catalog.

    The file source lists a DIRECTORY and the driver ships events as a
    single parquet file, so it is staged (a plain copy, no Spark job)
    into a landing directory — in production the directory new files
    arrive into."""
    src = table_path(sf_dir, "events")
    landing = stage(
        src,
        "events",
        lambda dst: shutil.copyfile(src, os.path.join(dst, "events.parquet")),
    )
    return read_events_stream(spark, landing)


def tumbling_daily_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-day, per-type counts + exact value sums."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """24 h windows sliding every 6 h (each event lands in 4)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows (gap-merged)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exact dedup on event_id, state bounded by watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dedup_user_event_types(events: DataFrame) -> DataFrame:
    """Streaming stateful dedup: first event per (user_id, event_type).
    Unbounded-state dropDuplicates — exact distinct semantics over the
    whole stream, so the batch twin is COUNT(DISTINCT ...). The
    watermark-bounded variant (dedup_within_watermark) is the 100 TB
    shape; this one exists for exact cross-engine checking."""
    return events.dropDuplicates(["user_id", "event_type"])


#: output/state schemas for user_lifetime_stats
_USER_STATS_OUT = (
    "user_id long, n_events long, sum_value double, last_event_type string"
)
_USER_STATS_STATE = "n long, sum_micros long, last_ts long, last_type string"


def user_lifetime_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, exact value sum, latest event type). The value sum
    accumulates integer micro-units with HALF_UP rounding — the same
    arithmetic as CAST(value AS DECIMAL(18,6)) on the SQL engines, so
    results hash-match the batch oracle.

    State per key is four scalars — O(active users), independent of
    stream length; the operator emits one row per user per micro-batch
    with the running totals (downstream takes the latest)."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    micro = Decimal("0.000001")

    def update(key, pdf_iter, state):
        if state.exists:
            n, sum_micros, last_ts, last_type = state.get
        else:
            n, sum_micros, last_ts, last_type = 0, 0, -1, ""
        for pdf in pdf_iter:
            n += len(pdf)
            for v in pdf["value"]:
                sum_micros += int(
                    (Decimal(repr(float(v))) / micro).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
            # ts arrives as int64 micros inside the state function
            idx = pdf["ts"].astype("int64").idxmax()
            ts_us = int(pdf["ts"].astype("int64").loc[idx])
            if ts_us > last_ts:
                last_ts = ts_us
                last_type = str(pdf["event_type"].loc[idx])
        state.update((n, sum_micros, last_ts, last_type))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [sum_micros / 1_000_000.0],
                "last_event_type": [last_type],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_STATS_OUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def view_purchase_pairs(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "12 hours",
    watermark: str = "24 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: attribute each purchase to the
    same user's preceding views within ``horizon`` (the classic
    attribution join). Both sides carry a watermark and the join has a
    two-sided time bound, so each side's buffered state is evicted
    once the other side's watermark passes ``ts + horizon`` — state is
    O(events within watermark+horizon), independent of stream length.

    Inner-join results append as soon as both rows have arrived; the
    watermark only gates state cleanup, so availableNow emits every
    matched pair. With ``how='left_outer'`` an unmatched view emits a
    null-purchase row once the watermark proves no future purchase
    can match (view_ts + horizon < watermark) — views newer than that
    stay buffered and emit nothing, which the batch oracle reproduces
    with an explicit max_ts - watermark - horizon cutoff. At 100 TB
    the join shuffles both streams on user_id — the same hash
    co-partitioning a batch join would use."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
            ),
            how,
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "purchase_ts"
            ),
        )
    )


def run_to_batch(
    df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into
    an in-memory table and return it as a batch DataFrame. The sink's
    temp view is dropped before returning; the frame keeps its rows.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream (restored afterwards): a streaming job freezes its state
    partition count into the checkpoint, so production jobs size it
    explicitly rather than inheriting the batch default — and each
    stateful operator instantiates one state store PER partition
    (joins: four), so over-partitioning small-state streams pays pure
    store overhead (32→8 halves wall-time on the JVM-state queries
    here). Pass None to keep the session default — right for Python
    stateful operators whose per-partition work wants the
    parallelism."""
    spark = df.sparkSession
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(_CHECKPOINT_ROOT, name)
    os.makedirs(_CHECKPOINT_ROOT, exist_ok=True)
    partitions = None if state_partitions is None else str(state_partitions)
    try:
        with session_conf(spark, {"spark.sql.shuffle.partitions": partitions}):
            run_available_now(
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode),
                ckpt,
            )
    finally:
        # the checkpoint is single-use by construction (fresh name,
        # availableNow run to completion, memory sink holds the rows):
        # keeping it would only accumulate — ~1 GB over a few hundred
        # bench/test runs (r9, the _scratch leak class).
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def enrich_with_static(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: the unbounded side joins a batch dimension
    (re-read per micro-batch, broadcast when small) — the standard way
    to attach slowly-changing attributes to a stream without stateful
    join machinery. Downstream aggregates per dimension attribute."""
    return (
        events.join(F.broadcast(user_dim), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def running_topk_users(events: DataFrame, k: int = 10) -> DataFrame:
    """Continuously-maintained leaderboard: top-k users by lifetime
    event value. Complete-output-mode aggregation (no watermark — the
    state is one row per user, bounded by |users|, the canonical
    complete-mode use) followed by the streaming-legal global sort +
    limit re-emitted per trigger. Sums stay DECIMAL so the leaderboard
    is exact and tie-breaks (user_id asc) deterministic."""
    totals = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )
    return totals.orderBy(F.desc("total_value"), F.asc("user_id")).limit(k)


def session_counts_dynamic(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows with a DYNAMIC per-event gap
    (F.session_window with a Column gap — the Spark 4 surface):
    purchases hold the session open for 60 minutes, everything else
    30 — the engagement-weighted sessionization product analytics
    actually ships. Each event spans [ts, ts+gap(event)); overlapping
    spans per user merge, so an event landing exactly at the current
    session's furthest end starts a NEW session (half-open windows —
    the batch oracle's running-max >= predicate mirrors this)."""
    gap = F.when(
        F.col("event_type") == "purchase",
        F.expr("make_interval(0, 0, 0, 0, 0, 60, 0)"),
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
        )
    )
