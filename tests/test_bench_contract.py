"""Driver-contract guards for bench.py and the registry ordering.

The harness that records bench output keeps only the final ~2000
characters of the run (BENCH_r01/r02 both show `parsed: null` because
the full 92-query JSON line overflowed that window). These tests pin
the printed line under that budget regardless of how many queries the
suite grows to, and pin the correctness-harness ordering contract
(first ~50 dict entries get driver rows).
"""

from __future__ import annotations

import json
import os
import shlex

import pytest

import bench
from movie_rankings_spark.plans import all_queries
from perfbench import eventlog

#: event log of an sf0.001 run, recorded under the same job groups
#: bench.py uses (see perfbench/test_eventlog.py): q6 with tags ``w``
#: and ``t``, the numpy similarity query and one stream with tag ``t``
LOG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "testdata",
    "eventlog_sf0.001.jsonl",
)
STREAM_RUN = "48b23e17-2466-4a87-a999-80bfa33ca593"
TRACED = ("q6_forecast_revenue", "similarity_cosine_topk_numpy", "stream_tumbling_daily")


def _fake_timings() -> dict[str, float]:
    # worst-case widths: three-digit seconds for every query
    return {name: 123.456 for name in bench.HEADLINE_QUERIES}


def test_compact_line_fits_recorder_window():
    line = bench.compact_payload(_fake_timings(), sf=0.1)
    assert len(line) <= bench.COMPACT_BUDGET
    payload = json.loads(line)
    assert payload["metric"] == "headline_suite_seconds"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.1
    assert payload["n_run"] == len(bench.HEADLINE_QUERIES)
    # total covers ALL measured queries even though the printed map is a slice
    assert payload["value"] == round(123.456 * len(bench.HEADLINE_QUERIES), 2)
    assert payload["queries"]  # non-empty slice


def test_compact_line_keeps_tier_representatives():
    line = bench.compact_payload(_fake_timings(), sf=0.1)
    queries = json.loads(line)["queries"]
    # every tier representative that was measured must survive the cut
    for name in bench.COMPACT_PRIORITY:
        assert name in queries, name


def test_compact_payload_handles_tiny_budget(monkeypatch):
    monkeypatch.setattr(bench, "COMPACT_BUDGET", 200)
    line = bench.compact_payload(_fake_timings(), sf=0.1)
    assert len(line) <= 200
    assert json.loads(line)["n_run"] == len(bench.HEADLINE_QUERIES)


def test_headline_queries_all_registered():
    for name in bench.HEADLINE_QUERIES:
        assert name in all_queries.QUERIES, name


def test_registry_head_prioritizes_unseen_queries():
    """The head of the dict (the slice a capped correctness harness
    checks first) must be exactly the queries that lack a driver row
    in CORRECTNESS_r01/r02 — nothing already-verified may displace
    them."""
    head = list(all_queries.QUERIES)[: len(all_queries._UNSEEN_FIRST)]
    for name in all_queries._UNSEEN_FIRST:
        assert name in all_queries.QUERIES, name
        assert name in head, name


def test_registry_queries_and_oracles_align():
    # oracles must be a subset of queries, in a consistent order
    assert set(all_queries.ORACLES) <= set(all_queries.QUERIES)


def test_compact_line_carries_calibration():
    line = bench.compact_payload(_fake_timings(), sf=0.1, calibration=0.4321)
    assert len(line) <= bench.COMPACT_BUDGET
    payload = json.loads(line)
    assert payload["calib"] == 0.4321
    for name in bench.COMPACT_PRIORITY:  # calib must not evict a rep
        assert name in payload["queries"], name


def test_default_bench_out_is_round_stamped(tmp_path):
    # next round after the highest driver artifact, never a fixed name
    for n in (1, 2, 6):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    out = bench._default_bench_out(str(tmp_path), "sf0.1")
    assert out.endswith("BENCH_FULL_r07_sf0.1.json")
    assert bench._default_bench_out(str(tmp_path / "empty"), "sf1").endswith(
        "BENCH_FULL_r00_sf1.json"
    )


def test_loaded_run_quarantined_by_name(tmp_path):
    """r9 (verdict item 6): a run whose calibration exceeds 1.2x the
    BASELINE.md anchor must not claim the round-stamped artifact name."""
    import bench

    (tmp_path / "BENCH_r03.json").write_text("{}")
    (tmp_path / "BASELINE.md").write_text(
        "Calibration anchor (bench.py::calibration_seconds, the fixed\n"
        "lineitem scan+agg): **0.1588s** — divide.\n"
    )
    assert bench._calibration_anchor(str(tmp_path)) == 0.1588
    quiet = bench._default_bench_out(str(tmp_path), "sf0.1", loaded=False)
    loaded = bench._default_bench_out(str(tmp_path), "sf0.1", loaded=True)
    assert quiet.endswith("BENCH_FULL_r04_sf0.1.json")
    assert loaded.endswith("BENCH_FULL_r04_sf0.1_LOADED.json")
    assert bench.CALIBRATION_LOAD_BAND == 1.2


def _summaries(best_rep, stream_runs):
    with open(LOG, encoding="utf-8") as fh:
        return bench.summarize_queries(fh, best_rep, stream_runs)


def test_summarizer_splits_the_log_by_query():
    got = _summaries(dict.fromkeys(TRACED, "t"), {STREAM_RUN: "stream_tumbling_daily"})
    # (build, collect, all) jobs per query, as statusTracker counted
    # them at recording; the stream's micro-batch job runs under its run id
    assert {n: (ev.get("jobs.b", 0), ev.get("jobs.c", 0), ev["jobs"]) for n, ev in got.items()} == {
        "q6_forecast_revenue": (1, 2, 3),
        "similarity_cosine_topk_numpy": (2, 5, 7),
        "stream_tumbling_daily": (1, 3, 5),
    }
    assert got["similarity_cosine_topk_numpy"]["python_run_s"] == pytest.approx(1.929)
    # the split loses and double-counts nothing: it adds up to one
    # summarize() over the same jobs
    whole = eventlog.summarize_file(
        LOG, lambda group: group.startswith(("b|t|", "c|t|")) or group == STREAM_RUN
    )
    for key, value in whole.items():
        assert sum(ev.get(key, 0) for ev in got.values()) == pytest.approx(value), key


def test_summarizer_keeps_only_the_chosen_run():
    tagged_w = _summaries({"q6_forecast_revenue": "w"}, {})["q6_forecast_revenue"]
    tagged_t = _summaries({"q6_forecast_revenue": "t"}, {})["q6_forecast_revenue"]
    assert (tagged_w["jobs.b"], tagged_w["jobs.c"]) == (1, 2)
    assert tagged_w["executor_run_s"] != tagged_t["executor_run_s"]
    # a query that ran no job under the chosen tag summarizes to nothing
    assert not any(_summaries({"q6_forecast_revenue": "9"}, {})["q6_forecast_revenue"].values())


def test_breakdown_fields_and_suite_line():
    got = _summaries(dict.fromkeys(TRACED, "t"), {STREAM_RUN: "stream_tumbling_daily"})
    rows = {
        name: bench.breakdown(ev, 0.5, 1.5, 20.0, (0, 1, 2), cores=2)
        for name, ev in got.items()
    }
    q6 = rows["q6_forecast_revenue"]
    assert set(q6) == {
        "build_s", "collect_s", "build_jobs", "collect_jobs", "jobs", "stages",
        "tasks", "executor_run_s", "executor_cpu_s", "idle_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb", "python_s", "catalyst_ms", "new_views",
        "conf_drift", "new_rdds",
    }
    assert (q6["build_jobs"], q6["collect_jobs"], q6["jobs"]) == (1, 2, 3)
    assert (q6["new_views"], q6["conf_drift"], q6["new_rdds"]) == (0, 1, 2)
    assert q6["idle_s"] == pytest.approx(2.0 - 0.027 / 2)
    assert rows["similarity_cosine_topk_numpy"]["python_s"] == pytest.approx(1.929)
    assert rows["stream_tumbling_daily"]["shuffle_read_mb"] == pytest.approx(0.015, abs=1e-3)
    suite = bench.suite_totals(rows)
    assert set(suite) == {"build_s", "jobs", "executor_cpu_s", "idle_s"}
    assert suite["jobs"] == 15
    assert suite["build_s"] == pytest.approx(1.5)
    assert suite["executor_cpu_s"] == pytest.approx(1.557, abs=1e-3)
    assert suite["idle_s"] == pytest.approx(sum(r["idle_s"] for r in rows.values()))


def test_event_log_confs_go_before_the_submit_args(monkeypatch, tmp_path):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-java-options -Dx=1 pyspark-shell")
    bench._log_events_to(str(tmp_path))
    args = shlex.split(os.environ["PYSPARK_SUBMIT_ARGS"])
    assert args[-3:] == ["--driver-java-options", "-Dx=1", "pyspark-shell"]
    confs = dict(a.split("=", 1) for a in args[1:-3:2])
    assert confs["spark.eventLog.enabled"] == "true"
    assert confs["spark.eventLog.dir"] == "file://" + str(tmp_path)
    assert confs["spark.eventLog.compress"] == "false"


def test_unknown_query_names_are_refused(capsys):
    assert bench.main(["q6_forecast_revenue", "no_such_query"]) == 2
    assert "no_such_query" in capsys.readouterr().err
