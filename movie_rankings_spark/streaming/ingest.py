"""The streaming tier's file protocols, each written once: availableNow
drains, the versioned exactly-once table, the batch-keyed append and
landing-zone staging. No other module knows a version-directory
format, the pointer name or the staging marker.

``readStream`` over a directory + ``availableNow`` + a durable
checkpoint gives incremental loads with no bookkeeping of our own:
the checkpoint's file log records which source files each committed
micro-batch read, so re-running the same job skips everything already
ingested. New files landing in the directory are picked up by the
next run.

``foreachBatch`` alone is at-least-once: a batch that wrote its output
but died before Spark committed it is replayed with the SAME
``batch_id``. Every foreachBatch write here is therefore keyed on
``batch_id`` and overwrites, so a replay rebuilds what it wrote
instead of adding to it:

* ``fold_stream`` — a versioned table. Batch N merges its partial into
  the newest version STRICTLY BELOW N (never the pointer), writes
  version N, flips the pointer atomically and prunes below its base,
  so the table holds at most two versions.
* ``append_stream`` — batch N's rows land in the table's version-N
  directory; the table is the union of all of them.

Every query starts through ``run_available_now``. On a local
checkpoint (no URI scheme on a local default filesystem, or
``file:``) it swaps Spark's default checkpoint file manager for the
FileSystem-based one: the default (FileContext-based) passes an
explicit permission on every ``mkdir`` and ``create``, and without
libhadoop's native IO Hadoop's local ``setPermission`` forks a
``chmod`` process for each, tens per checkpoint (offset and commit
logs, state-store deltas, their ``.crc`` files). The guarantee is the
same: both managers write a temp file and rename it into place; on a
local filesystem FileContext's no-overwrite rename is itself a
check-then-rename (``AbstractFileSystem.renameInternal`` checks the
destination, then ``RawLocalFileSystem.rename`` renames), as is the
FileSystem-based one, and POSIX ``rename(2)`` is atomic. Remote
schemes (HDFS, object stores) keep the default and its atomic
overwrite rename.

At 100 TB this is the same job with a cron/Trigger schedule; the only
sizing knob is ``maxFilesPerTrigger`` (bound the per-batch working
set) — the checkpoint log scales with file count, not data volume.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from movie_rankings_spark.caching import release_persisted
from movie_rankings_spark.session import session_conf

#: landing-zone stages live in the checkout's (git-ignored) .tmp
_STAGE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
    "stream_src",
)
#: records the staged source; "_" keeps it out of file sources and globs
_STAGE_MARKER = "_SOURCE"
_POINTER = "_CURRENT"


_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_manager(checkpoint_dir: str, default_fs: str) -> str | None:
    """The checkpoint file manager class for ``checkpoint_dir``: the
    FileSystem-based one when the path is local (``file:``, or no
    scheme on a ``file:`` default filesystem), None (Spark's default)
    for any other scheme."""
    scheme = urlparse(checkpoint_dir).scheme or urlparse(default_fs).scheme
    return _FS_MANAGER if scheme in ("", "file") else None


def run_available_now(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` with an availableNow trigger on ``checkpoint_dir``
    and block until everything currently available is processed.

    A local checkpoint is written through the FileSystem-based
    checkpoint file manager (module docstring: without libhadoop,
    Spark's default forks a ``chmod`` per checkpoint file and
    directory, and both managers give a local checkpoint the same
    check-then-rename commit). The conf is scoped to this run; a
    remote checkpoint keeps Spark's default."""
    spark = writer._spark
    default_fs = spark._jsparkSession.sessionState().newHadoopConf().get(
        "fs.defaultFS", "file:///"
    )
    manager = checkpoint_manager(checkpoint_dir, default_fs)
    with session_conf(spark, {_MANAGER_CONF: manager}):
        writer.option("checkpointLocation", checkpoint_dir).trigger(
            availableNow=True
        ).start().awaitTermination()


def ingest_to_parquet(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """Drain everything currently available into ``out_path`` exactly
    once, tracked by ``checkpoint_path``. Safe to call repeatedly —
    already-ingested source files are skipped via the checkpoint's
    file log, and the parquet sink's own log drops a replayed batch's
    files."""
    run_available_now(
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .outputMode("append"),
        checkpoint_path,
    )


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    apply_batch: Callable[[DataFrame, int], None],
) -> None:
    """Run ``apply_batch(batch_df, batch_id)`` on every micro-batch
    currently available (at-least-once: key the write on batch_id).
    What a batch persists or checkpoints is released when it returns:
    batches run on a callback thread whose registry nothing else
    drains, and a batch's writes are done by then."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            apply_batch(batch_df, batch_id)
        finally:
            release_persisted()

    run_available_now(stream.writeStream.foreachBatch(run_batch), checkpoint_dir)


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version:08d}")


def _versions(table_dir: str) -> list[int]:
    names = os.listdir(table_dir) if os.path.isdir(table_dir) else []
    return sorted(int(d[1:]) for d in names if d[:1] == "v" and d[1:].isdigit())


def fold_stream(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame | None:
    """Drain ``stream`` into the versioned table ``table_dir`` and
    return its published version (None before any): each batch's
    ``partial(batch_df)`` is merged with the base version as
    ``merge(base, partial)``. With an associative, commutative merge
    the table is independent of how the input splits into batches; an
    empty batch republishes its base."""
    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = partial(batch_df)
        base = max((v for v in _versions(table_dir) if v < batch_id), default=None)
        if base is not None:
            out = merge(spark.read.parquet(_version_dir(table_dir, base)), out)
        out.write.mode("overwrite").parquet(_version_dir(table_dir, batch_id))
        tmp = os.path.join(table_dir, _POINTER + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, os.path.join(table_dir, _POINTER))
        for v in _versions(table_dir):
            if base is not None and v < base:
                shutil.rmtree(_version_dir(table_dir, v), ignore_errors=True)

    drain(stream, checkpoint_dir, apply_batch)
    try:
        with open(os.path.join(table_dir, _POINTER)) as f:
            return spark.read.parquet(_version_dir(table_dir, int(f.read())))
    except FileNotFoundError:  # nothing published yet
        return None


def append_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    rows: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``stream``, writing ``rows(batch_df)`` of batch N over
    ``out_dir``'s version-N directory, and return the union of all
    batches' rows. A replayed batch rewrites only its own rows."""
    drain(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: rows(batch_df)
        .write.mode("overwrite")
        .parquet(_version_dir(out_dir, batch_id)),
    )
    reader = stream.sparkSession.read.option("recursiveFileLookup", True)
    return reader.parquet(out_dir)  # version dirs are not key=value partitions


def stage(src: str, name: str, write: Callable[[str], None]) -> str:
    """The landing-zone directory ``name`` derived from the file ``src``
    by ``write(dir)``. One directory per (absolute source path, name);
    it is rebuilt whenever the source's size or mtime differs from the
    one it was built from, into a temporary sibling renamed into
    place, so a reader never sees a half-written stage."""
    src = os.path.abspath(src)
    st = os.stat(src)
    stamp = f"{src} {st.st_size} {st.st_mtime_ns}"
    key = hashlib.sha1(src.encode()).hexdigest()[:12]
    dst = os.path.join(_STAGE_ROOT, f"{name}_{key}")
    try:
        with open(os.path.join(dst, _STAGE_MARKER)) as f:
            if f.read() == stamp:
                return dst
    except FileNotFoundError:
        pass
    os.makedirs(_STAGE_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}_{key}.", dir=_STAGE_ROOT)
    try:
        write(tmp)
        with open(os.path.join(tmp, _STAGE_MARKER), "w") as f:
            f.write(stamp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.isdir(dst):
        os.rename(dst, tmp + ".old")
    os.rename(tmp, dst)
    shutil.rmtree(tmp + ".old", ignore_errors=True)
    return dst


def read_file_stream(
    spark: SparkSession, src_dir: str, schema: str, **options
) -> DataFrame:
    """Unbounded view of a parquet landing directory. Schema is
    mandatory — streaming sources cannot infer, and at scale you would
    not want them to."""
    return spark.readStream.schema(schema).options(**options).parquet(src_dir)
