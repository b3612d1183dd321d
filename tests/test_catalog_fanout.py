"""Catalog contract: the per-file metadata memo and the opt-in scan fan-out.

Spark infers each table file's schema once; later loads pass it back
and plan without a job, and any change to the file (size, mtime) or to
a conf that changes inference is read again. The fan-out is OPT-IN per
call site and gated on the footer's row-group count, not on the
scan's byte splits.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from movie_rankings_spark import catalog
from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.session import session_conf

SF_DIR = "/root/testdata/sf0.001"
#: big enough to clear _FANOUT_MIN_BYTES at sf0.001 (117 KB)
TABLE = "lineitem"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(spark, fn) -> int:
    """Spark jobs run by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def table_dir(tmp_path):
    """A private copy of lineitem, so the memo starts cold for it."""
    shutil.copyfile(os.path.join(SF_DIR, "lineitem.parquet"), tmp_path / "lineitem.parquet")
    return str(tmp_path)


def test_default_load_is_bare_scan(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_opt_in_adds_keyed_repartition(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" in plan
    # keyed (deterministic, retry-safe), not round-robin
    assert "hashpartitioning(l_orderkey" in plan


def test_fanout_skips_dimension_sized_files(spark):
    # region is 1.9 KB — under _FANOUT_MIN_BYTES even when opted in
    plan = _plan(load_table(spark, SF_DIR, "region", fanout=True))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_gate_counts_row_groups_not_byte_splits(spark):
    # 16 KB splits cut the one-row-group file into >= cores splits, yet
    # only the split holding the row group's midpoint reads any rows
    path = catalog.table_path(SF_DIR, TABLE)
    confs = {
        "spark.sql.files.maxPartitionBytes": "16k",
        "spark.sql.files.openCostInBytes": "0",
    }
    with session_conf(spark, confs):
        splits = spark.read.parquet(path).rdd.getNumPartitions()
        assert splits >= spark.sparkContext.defaultParallelism
        assert pq.read_metadata(path).num_row_groups == 1
        plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" in plan


def test_second_load_runs_no_job(spark, table_dir):
    assert _jobs(spark, lambda: load_table(spark, table_dir, TABLE)) >= 1
    assert _jobs(spark, lambda: load_table(spark, table_dir, TABLE, fanout=True)) == 0


def test_memoized_load_matches_plain_read(spark):
    for name in ("orders", "events"):
        plain = spark.read.parquet(catalog.table_path(SF_DIR, name))
        if name == "events":
            plain = catalog.events_ts_micros(plain)
        memo = load_table(spark, SF_DIR, name)
        assert memo.schema == plain.schema
        assert sorted(memo.collect()) == sorted(plain.collect())


def test_fanout_memo_reprobes_rewritten_file(spark, table_dir, monkeypatch):
    # a file rewritten at the same size must not reuse a stale schema
    # or row-group count: the memo key carries the file's mtime
    memo: dict = {}
    monkeypatch.setattr(catalog, "_FILE_META", memo)

    def load():
        load_table(spark, table_dir, TABLE, fanout=True)

    load()
    assert _jobs(spark, load) == 0
    assert len(memo) == 1  # same file: one inference, then memo hits
    path = catalog.table_path(table_dir, TABLE)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _jobs(spark, load) >= 1
    assert len(memo) == 2  # same size, new mtime: inferred again
    assert {files[0][1] for _, files, _ in memo} == {st.st_size}


def test_rewritten_file_shows_new_column(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_extra": [7, 8]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_inference_conf_change_misses_memo(spark, table_dir):
    load_table(spark, table_dir, TABLE)
    with session_conf(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        assert _jobs(spark, lambda: load_table(spark, table_dir, TABLE)) >= 1
    assert _jobs(spark, lambda: load_table(spark, table_dir, TABLE)) == 0


def test_directory_memo_tracks_its_files(spark, tmp_path):
    # a stream source directory: keyed on every part file it holds
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"x": [i]}), src / f"part-{i}.parquet")
    (src / "_SUCCESS").write_text("")
    meta = catalog.file_meta(spark, str(src))
    assert meta.row_groups == 2 and meta.schema.names == ["x"]
    assert _jobs(spark, lambda: catalog.file_meta(spark, str(src))) == 0
    pq.write_table(pa.table({"x": [2]}), src / "part-2.parquet")
    assert catalog.file_meta(spark, str(src)).row_groups == 3


def test_missing_path_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), TABLE)
