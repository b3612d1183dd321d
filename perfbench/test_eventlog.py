"""Unit test of the event-log parser against a log recorded from an
sf0.001 run (tables from ``datagen`` with seed 3, ``local[2]``), trimmed
to the events and fields the parser reads.

The recording ran, under job groups ``<phase>|<tag>|<query>``:
``q6_forecast_revenue`` once with tag ``w`` and once with tag ``t``,
then ``similarity_cosine_topk_numpy`` (a Python exec node) and
``stream_tumbling_daily`` (one micro-batch whose job runs under the
stream's run id) with tag ``t``. The job counts per group below are
the ones ``statusTracker().getJobIdsForGroup`` reported at recording.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_sf0.001.jsonl")
STREAM_RUN = "48b23e17-2466-4a87-a999-80bfa33ca593"


def _traced(group: str) -> bool:
    return group.startswith(("b|t|", "c|t|")) or group == STREAM_RUN


def test_traced_totals():
    got = eventlog.summarize_file(LOG, _traced)
    assert got["jobs"] == 15
    assert got["jobs.b"] == 1 + 2 + 1
    assert got["jobs.c"] == 2 + 5 + 3
    assert got["stages"] == 16
    assert got["tasks"] == 25
    assert got["scans"] == 5
    assert got["input_bytes"] == 239_711
    assert got["shuffle_read_bytes"] == 19_292
    assert got["shuffle_write_bytes"] == 18_314
    assert got["spill_bytes"] == 0
    assert got["executor_run_s"] == pytest.approx(4.368)
    assert got["executor_cpu_s"] == pytest.approx(1.5575904)
    assert got["gc_s"] == pytest.approx(0.087)
    assert got["python_sent_bytes"] == 138_472
    assert got["python_received_bytes"] == 22_464
    assert got["python_run_s"] == pytest.approx(1.929)


def test_filter_drops_other_groups():
    everything = eventlog.summarize_file(LOG, lambda group: True)
    traced = eventlog.summarize_file(LOG, _traced)
    # the tag-w run of q6 is 1 build job and 2 collect jobs
    assert everything["jobs.b"] - traced["jobs.b"] == 1
    assert everything["jobs.c"] - traced["jobs.c"] == 2
    assert everything["tasks"] > traced["tasks"]
    assert everything["python_sent_bytes"] == traced["python_sent_bytes"]


def test_nothing_kept():
    got = eventlog.summarize_file(LOG, lambda group: False)
    assert not any(got.values())
