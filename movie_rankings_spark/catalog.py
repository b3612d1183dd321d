"""Table catalog over the driver's synthetic parquet tables.

Schemas documented in FIXTURES.md §B. Every read is a bare parquet
scan, so Catalyst gets native filter pushdown and column pruning for
free — never pre-materialize or cache here. Spark infers each file's
schema once (``file_meta``); later loads pass it back and run no job.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterable
from typing import Any, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

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


class FileMeta(NamedTuple):
    schema: T.StructType
    row_groups: int
    size: int


#: session confs that change the schema Spark infers from a footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: (path, (file, size, mtime_ns) per parquet file, inference confs) -> meta
_FILE_META: dict[tuple, FileMeta] = {}


def file_meta(spark: SparkSession, path: str) -> FileMeta:
    """Spark's inferred schema, row-group count and bytes on disk of the
    parquet file (or directory of part files) at ``path``; only a memo
    miss runs Spark's schema-inference job. Raises OSError if missing."""
    import pyarrow.parquet as pq

    parts = [path]
    if os.path.isdir(path):  # a directory of part files, e.g. a stream source
        parts = sorted(glob.glob(os.path.join(path, "[!_]*.parquet")))
    files = tuple((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in parts)
    key = (path, files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    meta = _FILE_META.get(key)
    if meta is None:
        meta = _FILE_META[key] = FileMeta(
            spark.read.parquet(path).schema,
            sum(pq.read_metadata(f).num_row_groups for f, _, _ in files),
            sum(size for _, size, _ in files),
        )
    return meta


#: scans below this on-disk size never fan out: dimension tables are
#: broadcast-side everywhere, so an extra exchange is pure overhead
_FANOUT_MIN_BYTES = 65536

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


def _fanout_small_scan(df: DataFrame, meta: FileMeta, key: str | None) -> DataFrame:
    """Widen an UNSPLITTABLE small scan to the session's core count
    (guide §2.5 input skew: repartition right after the read; §6).

    Only the byte split holding a row group's midpoint reads its rows,
    and the bench files are a SINGLE row group, so no maxPartitionBytes
    setting can widen the scan: every scan-side projection, filter,
    regex, hash and partial aggregate runs in ONE task. The exchange is
    added only when the file has fewer row groups than the session has
    cores, so on many-row-group data this is the identity.

    OPT-IN per call site (``load_table(..., fanout=True)``): a blanket
    fan-out taxed ~200 light queries with an Exchange and blocked
    runtime bloom-filter injection (OPTIMIZATION_r11.md). Values are
    partitioning-independent by this engine's exactness conventions,
    verified per query against the DuckDB oracle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if meta.size < _FANOUT_MIN_BYTES or meta.row_groups >= target:
        return df
    return df.repartition(target, *([df[key]] if key else []))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    try:
        meta = file_meta(spark, path)
    except OSError:  # missing: the plain read raises Spark's own error
        return spark.read.parquet(path)
    df = spark.read.schema(meta.schema).parquet(path)
    if name == "events":
        df = events_ts_micros(df)
    return _fanout_small_scan(df, meta, _FANOUT_KEY.get(name)) if fanout else df


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: str | T.StructType
) -> DataFrame:
    """A driver-side literal frame: ``rows`` (tuples, Rows or dicts)
    under ``schema`` (a StructType or a DDL string), sent to Spark as
    one Arrow table. The engine's only ``createDataFrame`` call.

    ``createDataFrame(list)`` plans as ``Scan ExistingRDD``: it
    parallelizes the list and reserializes it in a Python-worker
    stage, a fixed ~0.2 s per frame on 4 cores (each Python task
    invalidates the import caches, and a zip-imported pyspark re-reads
    its archive), and a ``LogicalRDD`` carries
    no size statistics, so no join against it is ever broadcast
    automatically. An Arrow table plans as a ``LocalTableScan``: no
    RDD, no Python worker, real size statistics. Rows are verified
    and converted exactly as ``createDataFrame(list)`` does (so a
    naive datetime still means local time), then built column by
    column."""
    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(row))
    arrow = to_arrow_schema(struct)
    columns = [pa.array([r[i] for r in internal], f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.table(columns, schema=arrow), struct)


def events_ts_micros(raw: DataFrame) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) in parquet: raw nanos BIGINT on
    builds honoring spark.sql.legacy.parquet.nanosAsLong (session.py),
    micro-truncated TIMESTAMP_NTZ on 4.1+. Both become a plain micros
    TIMESTAMP, bit-identical to DuckDB's epoch_us(ts)."""
    if isinstance(raw.schema["ts"].dataType, T.LongType):
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
