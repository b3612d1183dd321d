"""Table catalog over the driver's synthetic parquet tables.

Schemas documented in FIXTURES.md §B. All reads are plain
``spark.read.parquet`` so Catalyst gets native filter pushdown and
column pruning for free — never pre-materialize or cache here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: scans below this on-disk size never fan out (dimension tables —
#: region/nation/supplier — are broadcast-side everywhere; an extra
#: exchange would be pure overhead)
_FANOUT_MIN_BYTES = int(os.environ.get("MRS_SCAN_FANOUT_MIN_BYTES", "65536"))

#: hash-repartition key per table: a (near-)unique id, so the spread
#: is even; HASH partitioning (not round-robin) because it is
#: deterministic per row (retry-safe with no sort-before-repartition
#: pass — round-robin pays a single-threaded local sort of the whole
#: scan first) and downstream ops keyed the same way reuse it
_FANOUT_KEY = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


#: memoized scan-partition probes: (path, size, mtime_ns, target) -> n_parts.
#: A plan-shape fact, not data — probing costs a full analyze/plan
#: cycle (df.rdd), which the r10 blanket fan-out paid on EVERY
#: load_table call of every query.
_SCAN_PARTS_CACHE: dict[tuple[str, int, int, int], int] = {}


def _fanout_small_scan(df: DataFrame, path: str, key: str | None) -> DataFrame:
    """Widen an UNSPLITTABLE small scan to the session's core count
    (r10; guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read", §6 scan parallelism).

    The bench parquet files are written as a SINGLE row group, and a
    parquet scan can only split at row-group boundaries — so no
    maxPartitionBytes / minPartitionNum setting can widen it, and
    every scan-side projection, filter, explode, regex, hash and
    partial aggregate runs in ONE task while the other 31 cores idle.

    r11: OPT-IN per call site (``load_table(..., fanout=True)``), not
    blanket. The r10 blanket version taxed ~200 light queries with an
    Exchange + a per-load plan probe (driver geomean 0.863 vs r9) and
    suppressed runtime bloom-filter injection engine-wide (the
    exchange sits between scan and join, breaking InjectRuntimeFilter's
    application-side precondition). The r11 full-bench A/B
    (MRS_SCAN_FANOUT=1 vs 0, /tmp/bench_AB_fanout{1,0}.json, see
    OPTIMIZATION_r11.md) measured every registered query both ways;
    only the ~33 queries whose scan-side work is CPU-heavy enough to
    win ≥15% opted in.

    Gated on the MEASURED scan partitioning: the exchange is added
    only when the scan yields fewer splits than the session has cores,
    so on real deployments — many files / many row groups — this is
    the identity and the plan is byte-for-byte what it was. Values are
    partitioning-independent by this engine's exactness conventions
    (decimal/integer aggregates, order-stated windows), re-verified
    for every registered query against the DuckDB oracle.
    MRS_SCAN_FANOUT=0 disables every fan-out, =all restores the r10
    blanket behaviour (both are A/B knobs)."""
    try:
        st = os.stat(path)
    except OSError:
        return df
    if st.st_size < _FANOUT_MIN_BYTES:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # mtime: a file rewritten at the same size must be probed again
    memo_key = (path, st.st_size, st.st_mtime_ns, target)
    n_parts = _SCAN_PARTS_CACHE.get(memo_key)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        _SCAN_PARTS_CACHE[memo_key] = n_parts
    if n_parts >= target:
        return df
    if key is not None:
        return df.repartition(target, df[key])
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    mode = os.environ.get("MRS_SCAN_FANOUT", "1")
    if mode == "0" or not (fanout or mode == "all"):
        return df
    return _fanout_small_scan(df, table_path(sf_dir, name), _FANOUT_KEY.get(name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) in parquet. Depending on the Spark
    build, that column surfaces as either raw nanos BIGINT (older 4.x
    honoring spark.sql.legacy.parquet.nanosAsLong, set in session.py)
    or natively as TIMESTAMP_NTZ truncated to micros (4.1+, where the
    legacy conf is inert). Both paths normalize to a plain TIMESTAMP at
    microsecond precision — bit-identical to DuckDB's epoch_us(ts), so
    oracle comparisons agree regardless of build."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = table_path(sf_dir, "events")
    raw = spark.read.parquet(path)
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    fanout_tables: frozenset[str] = frozenset(),
) -> None:
    """Register every table as a temp view for the SQL surface.
    ``fanout_tables`` opt specific views into the small-scan fan-out
    (same per-call-site contract as ``load_table``)."""
    for name in TABLES:
        load_table(
            spark, sf_dir, name, fanout=name in fanout_tables
        ).createOrReplaceTempView(name)
