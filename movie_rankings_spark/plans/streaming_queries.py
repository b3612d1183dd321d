"""Streaming-tier registrations. Each query executes a REAL
Structured Streaming job (availableNow trigger → memory sink) and
returns the materialized result, so the correctness gate exercises the
streaming engine itself; the oracles are the batch-SQL equivalents
(stream/batch equivalence is the semantics being asserted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table, local_frame, table_path
from movie_rankings_spark.plans.registry import REGISTRY
from movie_rankings_spark.scratch import scratch_dir
from movie_rankings_spark.session import session_conf
from movie_rankings_spark.streaming import events as ev
from movie_rankings_spark.streaming.ingest import read_file_stream, stage

_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("stream_tumbling_daily", _TUMBLING_ORACLE)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.run_to_batch(ev.tumbling_daily_counts(ev.events_stream(spark, sf_dir)))
    return out.orderBy("day", "event_type")


_SLIDING_ORACLE = """
WITH k AS (SELECT unnest([0, 1, 2, 3]) AS k),
w AS (
  SELECT time_bucket(INTERVAL 6 HOURS, ts) - k.k * INTERVAL 6 HOURS AS ws
  FROM events CROSS JOIN k
)
SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, COUNT(*) AS n_events
FROM w GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("stream_sliding_6h", _SLIDING_ORACLE)
def stream_sliding_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.run_to_batch(ev.sliding_window_counts(ev.events_stream(spark, sf_dir)))
    return out.orderBy("window_start")


_SESSION_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM x
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@REGISTRY.register("stream_session_windows", _SESSION_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = ev.run_to_batch(ev.session_counts(ev.events_stream(spark, sf_dir)))
    return out.orderBy("user_id", "session_start")


_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


@REGISTRY.register("stream_dedup_user_types", _DEDUP_ORACLE)
def stream_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates on (user, type), exact
    unbounded-state form) executed as a real stream; the surviving rows
    are counted in batch, which must equal COUNT(DISTINCT ...)."""
    out = ev.run_to_batch(
        ev.dedup_user_event_types(ev.events_stream(spark, sf_dir)),
        output_mode="append",
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


_USER_STATS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       arg_max(event_type, ts) AS last_event_type
FROM events GROUP BY user_id ORDER BY user_id
"""


@REGISTRY.register("stream_user_lifetime_stats", _USER_STATS_ORACLE)
def stream_user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running stats emitted per micro-batch; the latest emission per user
    (max n_events) must equal the batch groupBy — exact-decimal value
    sums make the comparison bit-stable."""
    from pyspark.sql import Window

    out = ev.run_to_batch(
        ev.user_lifetime_stats(ev.events_stream(spark, sf_dir)),
        output_mode="update",
        state_partitions=None,  # Python-state op: keep full parallelism
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


_STATIC_JOIN_ORACLE = """
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE c.c_custkey < 150
GROUP BY 1 ORDER BY 1
"""


@REGISTRY.register("stream_static_join_segments", _STATIC_JOIN_ORACLE)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as a stream joined to the static customer dimension
    (stream-static broadcast join), aggregated per market segment —
    checked against the equivalent batch join."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 150)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    out = ev.run_to_batch(
        ev.enrich_with_static(ev.events_stream(spark, sf_dir), dim)
    )
    return out.orderBy("segment")


_STREAM_STREAM_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOURS
ORDER BY v.user_id, view_id, purchase_id
"""


@REGISTRY.register("stream_stream_view_purchase", _STREAM_STREAM_ORACLE)
def stream_stream_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (view→purchase attribution
    within 12 h per user), both sides real readStream instances —
    checked pair-for-pair against the equivalent batch self-join."""
    views = ev.events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = ev.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = ev.run_to_batch(
        ev.view_purchase_pairs(views, purchases), output_mode="append"
    )
    return out.orderBy("user_id", "view_id", "purchase_id")


_STREAM_OUTER_ORACLE = """
WITH bounds AS (SELECT MAX(ts) AS max_ts FROM events),
v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
matched AS (
  SELECT v.user_id, v.view_id, p.purchase_id,
         strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
         strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
  FROM v JOIN p ON p.user_id = v.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOURS
),
unmatched AS (
  SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS purchase_id,
         strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
         CAST(NULL AS VARCHAR) AS purchase_ts
  FROM v, bounds
  WHERE NOT EXISTS (
          SELECT 1 FROM p WHERE p.user_id = v.user_id
            AND p.purchase_ts >= v.view_ts
            AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOURS)
    AND v.view_ts + INTERVAL 2 HOURS < bounds.max_ts - INTERVAL 1 HOUR
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
ORDER BY user_id, view_id, purchase_id
"""


@REGISTRY.register("stream_stream_outer_attribution", _STREAM_OUTER_ORACLE)
def stream_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every matched (view, purchase)
    pair plus a null-purchase row for each view the watermark has
    PROVEN unmatched (view_ts + horizon < final watermark = max_ts -
    delay). Views newer than that are still buffered when the stream
    drains and emit nothing — the oracle reproduces the cutoff
    explicitly, making the watermark semantics themselves part of the
    checked contract."""
    views = ev.events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = ev.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = ev.run_to_batch(
        ev.view_purchase_pairs(
            views, purchases, horizon="2 hours", watermark="1 hour",
            how="left_outer",
        ),
        output_mode="append",
    )
    return out.orderBy("user_id", "view_id", "purchase_id")


_WM_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


@REGISTRY.register("stream_dedup_watermark_bounded", _WM_DEDUP_ORACLE)
def stream_dedup_watermark_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shape stateful dedup: dropDuplicatesWithinWatermark
    keyed on event_id, state evicted past the 1 h horizon — executed as
    a real availableNow stream. event_ids are unique within any 1 h
    window of the corpus, so the surviving rows equal the distinct set
    and the batch oracle is exact."""
    out = ev.run_to_batch(
        ev.dedup_within_watermark(ev.events_stream(spark, sf_dir), "1 hour"),
        output_mode="append",
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


# --- streaming upsert materialization (CDC MERGE via foreachBatch) ---------

# same oracle as the batch changelog compaction: the stream maintains
# the identical latest-wins snapshot, batch-by-batch
from movie_rankings_spark.plans.relational_ext_queries import (  # noqa: E402
    _SNAPSHOT_ORACLE,
)


def _stage_split(
    spark: SparkSession, sf_dir: str, table: str, key: str, n: int
) -> str:
    """The table hash-split on ``key`` into n landing-zone files, so an
    availableNow + maxFilesPerTrigger=1 stream sees n micro-batches
    (events.ts keeps whatever type this Spark build surfaces —
    read_events_stream re-probes it)."""
    src = table_path(sf_dir, table)
    return stage(
        src,
        f"{table}_split{n}",
        lambda dst: spark.read.parquet(src)
        .repartition(n, key)
        .write.mode("overwrite")
        .parquet(dst),
    )


def _stage_time_split_events(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> str:
    """Split the events table into n parquet files by EVENT-TIME RANGE
    (ntile over ts, event_id) with strictly increasing mtimes, so the
    file-source stream (maxFilesPerTrigger=1) delivers micro-batches
    in event-time order — the arrival discipline the timer-based
    session processor needs (a hash split makes every batch span the
    full time range, so the watermark jumps to max after batch 1 and
    timer firings race later events)."""
    import os
    import shutil

    from pyspark.sql import Window

    src = table_path(sf_dir, "events")

    def write(dst: str) -> None:
        sliced = spark.read.parquet(src).withColumn(
            "_slice", F.ntile(n).over(Window.orderBy("ts", "event_id"))
        )
        for i in range(1, n + 1):
            tmp = os.path.join(dst, f"_tmp_{i}")
            sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            final = os.path.join(dst, f"slice_{i:02d}.parquet")
            os.rename(os.path.join(tmp, part), final)
            shutil.rmtree(tmp)
            # strictly increasing mtimes: FileStreamSource orders by
            # (modification time, path); both orders agree here
            os.utime(final, (1_700_000_000 + i, 1_700_000_000 + i))

    return stage(src, f"events_timesplit{n}", write)


_TWS_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w <= 21600000000
              THEN 0 ELSE 1 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
), agg AS (
  SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,
         CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
  FROM sess GROUP BY 1, 2
), mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events)
SELECT a.user_id, a.session_seq, a.n_events, a.start_us, a.last_us
FROM agg a CROSS JOIN mx
WHERE a.session_seq < (SELECT MAX(b.session_seq) FROM agg b
                       WHERE b.user_id = a.user_id)
   OR (a.last_us // 1000) + 21600000 + 1000 <= (mx.max_us // 1000)
ORDER BY 1, 2
"""


@REGISTRY.register("stream_tws_session_timeout", _TWS_SESSION_ORACLE)
def stream_tws_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through transformWithStateInPandas with
    EVENT-TIME TIMERS + state TTL (r7 — the last untouched typed-state
    features; streaming/stateful.py::SessionTimeoutProcessor): a
    session with a successor event is closed by the input path; a
    session whose user goes quiet is closed by ``handleExpiredTimer``
    when the watermark passes last_event + 6 h + slack; the session
    ValueState carries a 24 h processing-time TTL (eviction semantics
    unit-tested separately with a 1 ms TTL). Input staged as 3
    event-time-ordered micro-batches so timer firings are consistent
    with batch sessionization; every closed session is emitted exactly
    once and a user's trailing unexpired session is withheld — the
    oracle applies the identical cut, so the check is hash-exact."""
    from movie_rankings_spark.streaming.stateful import sessionize_tws

    src = _stage_time_split_events(spark, sf_dir, n=3)
    with session_conf(spark, _ROCKSDB_STATE):
        stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
        out = ev.run_to_batch(
            sessionize_tws(stream),
            output_mode="append",
            state_partitions=None,  # Python-state op: keep parallelism
        )
    return out.orderBy("user_id", "session_seq")


@REGISTRY.register("stream_upsert_snapshot", _SNAPSHOT_ORACLE)
def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins snapshot MAINTAINED by a stream: the event
    changelog arrives as 4 micro-batches (maxFilesPerTrigger=1) and
    foreachBatch merges each batch's compacted snapshot into a
    versioned parquet table (streaming/upsert.py). The merge is
    associative+commutative, so the maintained table equals the batch
    compaction — which is exactly what the shared oracle asserts."""
    import os

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    run_dir = scratch_dir("upsert")
    from movie_rankings_spark.streaming.upsert import stream_upsert

    stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
    snap = stream_upsert(
        stream,
        table_dir=os.path.join(run_dir, "table"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        keys=["user_id", "event_type"],
        version_cols=["ts", "event_id"],
        payload_cols=["value", "props"],
    )
    return snap.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.col("props").alias("last_props"),
        "n_versions",
    ).orderBy("user_id", "event_type")


_TWS_LIFETIME_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_micro
FROM events GROUP BY user_id ORDER BY user_id
"""

_ROCKSDB_STATE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


@REGISTRY.register("stream_transform_with_state", _TWS_LIFETIME_ORACLE)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime stats through transformWithStateInPandas —
    the Spark 4 typed-state API (ValueState + MapState, RocksDB
    backend; streaming/stateful.py). The changelog arrives as 2
    micro-batches (maxFilesPerTrigger=1; r7: 4 -> 2 — the oracle
    tests state CARRY-OVER, which one batch boundary exercises, and
    each TWS micro-batch pays the pure-Python-protobuf state-server
    round-trips that made these the suite's two slowest entries),
    state carries across them,
    and every accumulator is an integer, so the final snapshot (max
    n_events per user) equals the batch groupBy — the full-oracle
    check the old applyInPandasWithState twin
    (stream_user_lifetime_stats) also gets.

    Registration is unconditional (r6): the state-server wire
    protocol's google.protobuf dependency is satisfied either by a
    real installation or by the vendored pure-Python runtime
    (vendor/README.md) that movie_rankings_spark.__init__ activates
    on import."""
    from pyspark.sql import Window

    from movie_rankings_spark.streaming.stateful import user_lifetime_tws

    src = _stage_split(spark, sf_dir, "events", "event_id", 2)
    with session_conf(spark, _ROCKSDB_STATE):
        stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
        out = ev.run_to_batch(
            user_lifetime_tws(stream),
            output_mode="update",
            state_partitions=None,  # Python-state op: keep parallelism
        )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


_TWS_LASTK_ORACLE = """
WITH r AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(MAX(CASE WHEN rn = 1 THEN ts_us END) AS BIGINT) AS ts1,
       CAST(MAX(CASE WHEN rn = 1 THEN event_id END) AS BIGINT) AS id1,
       CAST(MAX(CASE WHEN rn = 2 THEN ts_us END) AS BIGINT) AS ts2,
       CAST(MAX(CASE WHEN rn = 2 THEN event_id END) AS BIGINT) AS id2,
       CAST(MAX(CASE WHEN rn = 3 THEN ts_us END) AS BIGINT) AS ts3,
       CAST(MAX(CASE WHEN rn = 3 THEN event_id END) AS BIGINT) AS id3
FROM r GROUP BY user_id ORDER BY user_id
"""


@REGISTRY.register("stream_tws_lastk_events", _TWS_LASTK_ORACLE)
def stream_tws_lastk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 most-recent events through
    transformWithStateInPandas with a LISTSTATE (r6 — the typed-state
    feature the lifetime query doesn't touch: a bounded per-key list
    maintained across micro-batches, only k survivors ever stored).
    2 micro-batches (r7: 4 -> 2, same rationale as the lifetime
    query), RocksDB provider; the kept set is a total order
    by (ts DESC, event_id DESC), so the final snapshot equals the
    batch window — full oracle (streaming/stateful.py::
    LastKEventsProcessor)."""
    from pyspark.sql import Window

    from movie_rankings_spark.streaming.stateful import user_lastk_tws

    src = _stage_split(spark, sf_dir, "events", "event_id", 2)
    with session_conf(spark, _ROCKSDB_STATE):
        stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
        out = ev.run_to_batch(
            user_lastk_tws(stream),
            output_mode="update",
            state_partitions=None,  # Python-state op: keep parallelism
        )
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("user_id")
    )


# --- streaming incremental dedup against the stored LSH index ---------------

# same oracle as the batch incremental dedup: the stream's appended
# pairs table equals the one-shot batch answer (micro-batches
# partition the ingest slice; pairs are disjoint across batches)
from movie_rankings_spark.plans.llm_queries import _INCR_ORACLE  # noqa: E402


def _stage_dedup_stream(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The md5-split ingest slice (hb 0/1) as TWO landing-zone files →
    two micro-batches; the rest of the corpus materialized as the
    stored LSH index."""
    from movie_rankings_spark.streaming.dedup_stream import write_corpus_index

    src = table_path(sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents")
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 30, 1)
    src_dir = stage(
        src,
        "docs_batch",
        lambda dst: docs.filter(hb.isin("0", "1"))
        .repartition(2, "doc_id")
        .write.mode("overwrite")
        .parquet(dst),
    )
    idx_dir = stage(
        src,
        "docs_index",
        lambda dst: write_corpus_index(docs.filter(~hb.isin("0", "1")), dst),
    )
    return src_dir, idx_dir


@REGISTRY.register("stream_dedup_incremental", _INCR_ORACLE)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest dedup: new documents land as files, each
    micro-batch (maxFilesPerTrigger=1) is near-dup-checked against
    the PERSISTED corpus LSH index and its verified pairs written
    under the batch's id — streaming/dedup_stream.py. Per-batch cost is batch×bands index
    lookups + exact verification of candidates; exactly-once file
    processing and replay-safe batch writes make the pairs table equal
    the batch query, so the exact batch oracle applies verbatim."""
    import os

    from movie_rankings_spark.streaming.dedup_stream import (
        DOCS_SCHEMA,
        stream_incremental_dedup,
    )

    src_dir, idx_dir = _stage_dedup_stream(spark, sf_dir)
    run_dir = scratch_dir("dedup_stream")
    stream = read_file_stream(spark, src_dir, DOCS_SCHEMA, maxFilesPerTrigger=1)
    pairs = stream_incremental_dedup(
        stream,
        index_dir=idx_dir,
        out_dir=os.path.join(run_dir, "pairs"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
    )
    return pairs.orderBy("batch_doc", "corpus_doc")


# --- streaming CMS sketch maintenance ---------------------------------------

# same oracle as the batch CMS report: cell addition is a commutative
# monoid, so the maintained table after N micro-batches is identical
# to the one-shot sketch
from movie_rankings_spark.plans.llm_queries import _CMS_ORACLE  # noqa: E402


@REGISTRY.register("stream_cms_maintained", _CMS_ORACLE)
def stream_cms_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS word-frequency report answered from a sketch MAINTAINED
    by a stream (streaming/sketch_stream.py): documents arrive as 3
    micro-batches, each folds its O(d·w) cell partials into a
    versioned cells table (exactly-once via per-batch versions + an
    atomic pointer). Cell addition is commutative, so the maintained
    sketch — and therefore every probe estimate — is bit-identical to
    the batch build, and the exact batch oracle applies."""
    import os

    from movie_rankings_spark.operators.cms import cms_estimate
    from movie_rankings_spark.streaming.dedup_stream import DOCS_SCHEMA
    from movie_rankings_spark.streaming.sketch_stream import (
        stream_cms_maintenance,
    )

    src_dir = _stage_split(spark, sf_dir, "documents", "doc_id", 3)
    run_dir = scratch_dir("cms_stream")
    stream = read_file_stream(spark, src_dir, DOCS_SCHEMA, maxFilesPerTrigger=1)
    cells = stream_cms_maintenance(
        stream,
        table_dir=os.path.join(run_dir, "cells"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        depth=4,
        width=512,
    )
    docs = spark.read.parquet(src_dir)
    truth = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .filter(F.col("true_n") >= 200)
    )
    est = cms_estimate(cells, truth.select("word"), "word", 4, 512)
    return (
        truth.join(est, "word")
        .select(
            "word",
            "true_n",
            "cms_est",
            (F.col("cms_est") - F.col("true_n")).alias("overestimate"),
        )
        .orderBy("word")
    )


# --- streaming bitmap maintenance (exact distinct rollup from a stream) -----

# same oracle as the batch bitmap rollup: bitmap OR is commutative,
# associative and IDEMPOTENT, so the maintained daily-bitmap table is
# bit-identical to the batch build
from movie_rankings_spark.plans.relational_queries import (  # noqa: E402
    _BITMAP_ROLLUP_ORACLE,
)


@REGISTRY.register("stream_bitmap_users_rollup", _BITMAP_ROLLUP_ORACLE)
def stream_bitmap_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_users_rollup answered from bitmaps MAINTAINED by the
    event stream (streaming/sketch_stream.py): 4 micro-batches OR
    their per-(type, day, bucket) partials into a versioned table —
    idempotent at the BIT level, so even a replayed batch cannot
    drift the count — then the exact distinct rollup reads the
    maintained table, never the events again."""
    import os

    from movie_rankings_spark.streaming.sketch_stream import (
        stream_bitmap_maintenance,
    )

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    run_dir = scratch_dir("bm_stream")
    stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
    daily = stream_bitmap_maintenance(
        stream,
        table_dir=os.path.join(run_dir, "bm"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
    ).persist_tracked()
    daily_counts = (
        daily.groupBy("event_type", "day")
        .agg(F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("d"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("d").alias("sum_daily_distinct"),
        )
    )
    merged = (
        daily.groupBy("event_type", "buck")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(
            F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias(
                "distinct_users_merged"
            )
        )
    )
    return (
        daily_counts.join(merged, "event_type")
        .select(
            "event_type", "n_days", "sum_daily_distinct", "distinct_users_merged"
        )
        .orderBy("event_type")
    )


_RUNNING_TOPK_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id ASC LIMIT 10
"""


@REGISTRY.register("stream_running_topk_users", _RUNNING_TOPK_ORACLE)
def stream_running_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained top-10 leaderboard (streaming/events.py
    ::running_topk_users): complete-mode per-user totals + the
    streaming-legal global sort+limit, re-emitted per trigger. The
    batch-SQL oracle asserts the final emission equals the exact
    batch top-k — stream/batch equivalence for a query whose state
    (one row per user) never expires."""
    out = ev.run_to_batch(
        ev.running_topk_users(ev.events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    return out.orderBy(F.desc("total_value"), F.asc("user_id"))


_SESSION_DYN_ORACLE = """
WITH x AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) + CASE WHEN event_type = 'purchase'
                             THEN 3600000000 ELSE 1800000000 END AS end_us
  FROM events
),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN MAX(end_us) OVER w IS NULL
                   OR epoch_us(ts) >= MAX(end_us) OVER w
              THEN 1 ELSE 0 END AS new_s
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM y
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@REGISTRY.register("stream_session_dynamic_gap", _SESSION_DYN_ORACLE)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows as a REAL stream
    (streaming/events.py::session_counts_dynamic): purchase events
    hold sessions open 60 min vs 30 for the rest. The batch oracle
    reproduces merge semantics with a running-max-of-ends window
    (an event reaching exactly the furthest end starts a new
    session — half-open [ts, ts+gap) spans)."""
    out = ev.run_to_batch(
        ev.session_counts_dynamic(ev.events_stream(spark, sf_dir))
    )
    return out.orderBy("user_id", "session_start")


_CHAINED_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@REGISTRY.register("stream_dedup_then_window", _CHAINED_ORACLE)
def stream_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators in one query (the Spark 4
    capability): watermarked dropDuplicatesWithinWatermark on
    event_id — the exactly-once guard against an at-least-once
    upstream replaying events — feeding a watermarked tumbling
    aggregate. Two independent state stores in one micro-batch
    pipeline; complete output mode emits every window (append would
    withhold windows the final watermark hasn't closed — 5 of 150
    here). The batch oracle holds because event_id is unique in the
    source (the dedup is the guard against an at-least-once upstream,
    not a reducer) and the aggregate must be unaffected by its
    presence."""
    s = ev.events_stream(spark, sf_dir)
    chained = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        )
    )
    out = ev.run_to_batch(chained, output_mode="complete")
    return out.orderBy("day", "event_type")


# --- streaming histogram maintenance (mergeable daily cells) ----------------

_HIST_STREAM_ORACLE = """
WITH daily AS (
  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
         least(19, greatest(0, CAST(floor(value / 25.0) AS INT))) AS bin,
         COUNT(*) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT grp, bin,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_daily_cells
FROM daily GROUP BY grp, bin ORDER BY grp, bin
"""


@REGISTRY.register("stream_histogram_rollup", _HIST_STREAM_ORACLE)
def stream_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_rollup_events answered from daily cells MAINTAINED by
    the event stream (streaming/sketch_stream.py::
    stream_histogram_maintenance): 4 micro-batches fold their
    per-(type, day, bin) count partials into a versioned table; cell
    addition is commutative, so the maintained table is bit-identical
    to the batch daily build and the exact batch rollup oracle
    applies — events are never rescanned for the rollup."""
    import os

    from movie_rankings_spark.streaming.sketch_stream import (
        stream_histogram_maintenance,
    )

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    run_dir = scratch_dir("hist_stream")
    stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1)
    daily = stream_histogram_maintenance(
        stream,
        table_dir=os.path.join(run_dir, "cells"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        lo=0.0,
        step=25.0,
        n_bins=20,
    )
    return (
        daily.groupBy(F.col("event_type").alias("grp"), "bin")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_daily_cells"),
        )
        .orderBy("grp", "bin")
    )


# --- streaming PSI drift monitor --------------------------------------------

_PSI_STREAM_ORACLE = """
WITH r AS (
  SELECT least(19, greatest(0, CAST(floor(value / 25.0) AS INT))) AS bin,
         CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'live' END AS side
  FROM events WHERE value IS NOT NULL
), obs AS (
  SELECT bin,
         CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
           AS cr,
         CAST(SUM(CASE WHEN side = 'live' THEN 1 ELSE 0 END) AS BIGINT)
           AS cl
  FROM r GROUP BY bin
), frame AS (
  SELECT CAST(unnest(generate_series(0, 19)) AS INT) AS bin
), filled AS (
  SELECT f.bin,
         CAST(COALESCE(o.cr, 0) AS BIGINT) AS ref_n,
         CAST(COALESCE(o.cl, 0) AS BIGINT) AS live_n
  FROM frame f LEFT JOIN obs o USING (bin)
), tot AS (
  SELECT CAST(SUM(ref_n) AS BIGINT) AS nr,
         CAST(SUM(live_n) AS BIGINT) AS nl
  FROM filled
)
SELECT bin, ref_n, live_n,
       CAST(ref_n + 1 AS DOUBLE) / CAST(nr + 20 AS DOUBLE) AS p_ref,
       CAST(live_n + 1 AS DOUBLE) / CAST(nl + 20 AS DOUBLE) AS p_live,
       CAST(CAST(
         (CAST(ref_n + 1 AS DOUBLE) / CAST(nr + 20 AS DOUBLE)
          - CAST(live_n + 1 AS DOUBLE) / CAST(nl + 20 AS DOUBLE))
         * CAST(CAST(ln(
             (CAST(ref_n + 1 AS DOUBLE) / CAST(nr + 20 AS DOUBLE))
             / (CAST(live_n + 1 AS DOUBLE) / CAST(nl + 20 AS DOUBLE))
           ) AS DECIMAL(18,9)) AS DOUBLE)
         AS DECIMAL(28,15)) AS DOUBLE) AS psi_contrib
FROM filled CROSS JOIN tot ORDER BY bin
"""


@REGISTRY.register("stream_psi_monitor", _PSI_STREAM_ORACLE)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-monitoring drift gate ON A STREAM: the live split of
    events (odd event_id) flows through 4 micro-batches into the
    maintained per-(type, day, bin) histogram cells
    (streaming/sketch_stream.py::stream_histogram_maintenance); their
    bin totals are compared against the static reference split (even
    event_id, read as a batch) with the shared PSI arithmetic
    (operators/drift.py::psi_bins) — drift_train_val_psi's streaming
    sibling and the fourth consumer of the maintained-artifact family.

    Oracle-exact end to end: cell addition is a commutative monoid so
    the maintained table is bit-identical to the batch build of the
    same split, and the PSI formula is the shared quantized-log
    expression — the whole report value-hashes against a pure batch
    DuckDB twin. The live corpus is never rescanned for the report.
    """
    import os

    from movie_rankings_spark.operators.drift import psi_bins
    from movie_rankings_spark.streaming.sketch_stream import (
        stream_histogram_maintenance,
    )

    src = _stage_split(spark, sf_dir, "events", "event_id", 4)
    run_dir = scratch_dir("psi_stream")
    stream = ev.read_events_stream(spark, src, maxFilesPerTrigger=1).filter(
        F.col("event_id") % 2 == 1
    )
    live = (
        stream_histogram_maintenance(
            stream,
            table_dir=os.path.join(run_dir, "cells"),
            checkpoint_dir=os.path.join(run_dir, "ckpt"),
            lo=0.0,
            step=25.0,
            n_bins=20,
        )
        .groupBy("bin")
        .agg(F.sum("n").cast("long").alias("cl"))
    )
    events = load_table(spark, sf_dir, "events")
    v = F.col("value")
    bin_ = F.least(
        F.lit(19),
        F.greatest(F.lit(0), F.floor((v - F.lit(0.0)) / F.lit(25.0)).cast("int")),
    )
    ref = (
        events.filter(v.isNotNull() & (F.col("event_id") % 2 == 0))
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cr"))
    )
    frame = local_frame(spark, [(i,) for i in range(20)], "bin int")
    filled = (
        frame.join(ref, "bin", "left")
        .join(live, "bin", "left")
        .select(
            "bin",
            F.coalesce("cr", F.lit(0)).cast("long").alias("ref_n"),
            F.coalesce("cl", F.lit(0)).cast("long").alias("live_n"),
        )
    )
    return psi_bins(filled, n_bins=20)
