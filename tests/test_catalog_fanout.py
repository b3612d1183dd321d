"""r11 scan fan-out contract: OPT-IN per call site, default off.

The r10 blanket fan-out repartitioned every loaded table in every
query (driver geomean 0.863 vs r9) and suppressed runtime bloom-filter
injection engine-wide; r11 made it a per-call-site decision backed by
a full-bench A/B. These tests pin the contract so a future blanket
regression (either direction) is caught structurally.
"""

from __future__ import annotations

import os
import shutil

import pytest

from movie_rankings_spark import catalog
from movie_rankings_spark.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"
#: big enough to clear _FANOUT_MIN_BYTES at sf0.001 (117 KB)
TABLE = "lineitem"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _default_mode(monkeypatch):
    monkeypatch.delenv("MRS_SCAN_FANOUT", raising=False)


def test_default_load_is_bare_scan(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_opt_in_adds_keyed_repartition(spark):
    plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" in plan
    # keyed (deterministic, retry-safe), not round-robin
    assert "hashpartitioning(l_orderkey" in plan


def test_fanout_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("MRS_SCAN_FANOUT", "0")
    plan = _plan(load_table(spark, SF_DIR, TABLE, fanout=True))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_env_blanket_mode(spark, monkeypatch):
    monkeypatch.setenv("MRS_SCAN_FANOUT", "all")
    plan = _plan(load_table(spark, SF_DIR, TABLE))
    assert "REPARTITION_BY_NUM" in plan


def test_fanout_skips_dimension_sized_files(spark):
    # region is 1.9 KB — under _FANOUT_MIN_BYTES even when opted in
    plan = _plan(load_table(spark, SF_DIR, "region", fanout=True))
    assert "REPARTITION_BY_NUM" not in plan


def test_fanout_memo_reprobes_rewritten_file(spark, tmp_path, monkeypatch):
    # a file rewritten at the same size must not reuse a stale
    # partition count: the memo key carries the file's mtime
    path = str(tmp_path / "lineitem.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "lineitem.parquet"), path)
    memo: dict = {}
    monkeypatch.setattr(catalog, "_SCAN_PARTS_CACHE", memo)

    def probe():
        df = spark.read.parquet(path)
        catalog._fanout_small_scan(df, path, "l_orderkey")

    probe()
    probe()
    assert len(memo) == 1  # same file: one probe, then memo hits
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    probe()
    assert len(memo) == 2  # same size, new mtime: probed again
    assert {k[1] for k in memo} == {st.st_size}
