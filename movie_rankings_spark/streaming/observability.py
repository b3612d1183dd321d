"""Streaming observability: a StreamingQueryListener that captures
per-microbatch progress (rows read, batch duration, state-store
metrics, watermark) into queryable records — the ops surface a
production streaming deployment stands on (lag dashboards, SLO
alerts, state-size capacity planning).

Spark publishes all of this through
``spark.streams.addListener(StreamingQueryListener)``; this module
turns the event stream into (a) an in-memory log usable from tests /
notebooks and (b) a DataFrame constructor so the metrics can be
joined, windowed and alerted on with the SAME engine that runs the
pipelines — metrics-as-data, no side system required.

Scale notes: listener callbacks run on the driver and receive
already-aggregated per-batch metrics (O(1) per microbatch, never
per-row), so capturing them is free at any input rate; a production
deployment would replace ``records()``'s in-memory list with a
foreachBatch append to a metrics table — same schema, same queries.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from movie_rankings_spark.catalog import local_frame

#: schema of one captured microbatch progress record
PROGRESS_SCHEMA = (
    "query_id string, run_id string, batch_id long, "
    "input_rows long, processed_rows_per_sec double, "
    "batch_duration_ms long, watermark string, "
    "state_rows long, state_bytes long"
)


class ProgressCapture(StreamingQueryListener):
    """Collects every QueryProgressEvent into a thread-safe list of
    plain dicts matching PROGRESS_SCHEMA."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._records: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    # -- listener callbacks (driver-side, O(1) per microbatch) -----------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self._lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # json round-trip: the py4j proxy's fields vary across Spark
        # versions; the json contract is stable and documented
        d = json.loads(p.json) if hasattr(p, "json") else {}
        state = (d.get("stateOperators") or [{}])[0]
        rec = {
            "query_id": str(d.get("id", "")),
            "run_id": str(d.get("runId", "")),
            "batch_id": int(d.get("batchId", -1)),
            "input_rows": int(d.get("numInputRows", 0)),
            "processed_rows_per_sec": float(
                d.get("processedRowsPerSecond", 0.0) or 0.0
            ),
            "batch_duration_ms": int(
                (d.get("durationMs") or {}).get("triggerExecution", 0)
            ),
            "watermark": str((d.get("eventTime") or {}).get("watermark", "")),
            "state_rows": int(state.get("numRowsTotal", 0) or 0),
            "state_bytes": int(state.get("memoryUsedBytes", 0) or 0),
        }
        with self._lock:
            self._records.append(rec)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass  # idle ticks carry no batch metrics

    # -- metrics-as-data -------------------------------------------------
    def records(self) -> list[dict]:
        with self._lock:
            return list(self._records)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The captured progress log as a DataFrame — join it, window
        it, alert on it with the same engine."""
        rows = self.records()
        if not rows:
            return local_frame(spark, [], PROGRESS_SCHEMA)
        return local_frame(spark, rows, PROGRESS_SCHEMA)


def batch_health_summary(progress: DataFrame) -> DataFrame:
    """Per-query health rollup over a captured progress log: batches,
    total input rows, max batch duration, last state size — the table
    an SLO alert reads. Pure aggregate; works identically on the
    in-memory capture or a persisted metrics table."""
    from pyspark.sql import functions as F

    return (
        progress.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("input_rows").alias("total_input_rows"),
            F.max("batch_duration_ms").alias("max_batch_ms"),
            F.max("state_rows").alias("max_state_rows"),
        )
        .orderBy("query_id")
    )
