"""SparkSession factory.

Local-mode friendly but cluster-shaped: AQE enabled (runtime coalesce +
skew-join handling), explicit shuffle partitioning (sized to cores, not
the 200 default), Arrow enabled for every pandas boundary, UTC session
timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "movie-rankings-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Honors the driver-harness env vars:
      SPARK_GRAFT_CPUS  — local[] core count (default: all cores)
      SPARK_DRIVER_MEMORY — driver heap (local mode = the only heap)
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: when one join side is small and
        # selective, inject a bloom filter of its join keys into the big
        # side's scan (semi-join reduction without a broadcast). The
        # default size thresholds (10MB creation / 10GB application
        # side) only fire at real scale; tests/test_plan_shapes.py pins
        # the injection with the thresholds lowered.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # On Spark builds where TIMESTAMP(NANOS) parquet is rejected,
        # surface it as raw nanos BIGINT (catalog.events_ts_micros then
        # truncates to micros). Inert on 4.1+, which reads NANOS
        # natively as micro-truncated TIMESTAMP_NTZ.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def session_conf(
    spark: SparkSession, conf: dict[str, str | None]
) -> Iterator[None]:
    """Scope session confs to a block: set every key whose value is not
    None, and on exit — error or not — put each back as it was, unsetting
    the keys that had no value before."""
    keys = [k for k, v in conf.items() if v is not None]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, conf[k])
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
