"""Parser for a Spark event log (one JSON event per line).

Turns the log of one application into totals over the jobs a caller
selects by job group: jobs by job-group prefix, stages, tasks, executor
run/CPU/GC time, input, shuffle and spill bytes, file-scan nodes in the
executed plans, and the Python-exec SQL metrics (bytes sent to and
returned from Python workers, time spent running them).
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Callable, Iterable

_SQL = "org.apache.spark.sql.execution.ui."
_PLAN_EVENTS = (
    _SQL + "SparkListenerSQLExecutionStart",
    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
)
_PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
    "time to run Python workers": "python_run_s",
}
#: SQL metric type -> factor converting its values to bytes or seconds
_METRIC_SCALE = {"size": 1.0, "timing": 1e-3, "nsTiming": 1e-9}


def _walk(plan: dict) -> Iterable[dict]:
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def summarize(lines: Iterable[str], keep: Callable[[str], bool]) -> dict[str, float]:
    """Totals over the jobs whose job group satisfies ``keep``, their
    stages and tasks, and the SQL executions that ran them.

    ``jobs.<p>`` counts kept jobs whose group is ``<p>|...``. ``scans``
    counts file-scan nodes in each kept execution's final plan (its last
    adaptive update, if any)."""
    events = [json.loads(line) for line in lines]
    out: Counter[str] = Counter()
    stages: set[int] = set()
    executions: set[int] = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        group = props.get("spark.jobGroup.id") or ""
        if not keep(group):
            continue
        out["jobs"] += 1
        if "|" in group:
            out["jobs." + group.split("|", 1)[0]] += 1
        stages.update(ev.get("Stage IDs", ()))
        if "spark.sql.execution.id" in props:
            executions.add(int(props["spark.sql.execution.id"]))

    final_plan: dict[int, dict] = {}
    metric_of: dict[int, tuple[str, float]] = {}  # accumulator id -> (key, scale)
    accums: list[tuple[int, float]] = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind in _PLAN_EVENTS:
            plan = ev.get("sparkPlanInfo") or {}
            if ev["executionId"] in executions:
                final_plan[ev["executionId"]] = plan
            for node in _walk(plan):
                for m in node.get("metrics", ()):
                    key = _PYTHON_METRICS.get(m.get("name"))
                    if key is not None:
                        scale = _METRIC_SCALE.get(m.get("metricType"), 1.0)
                        metric_of[m["accumulatorId"]] = (key, scale)
        elif kind == "SparkListenerStageCompleted":
            out["stages"] += (ev.get("Stage Info") or {}).get("Stage ID") in stages
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
            out["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            out["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            out["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            out["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if "Update" in acc:
                    accums.append((acc["ID"], float(acc["Update"])))
    for acc_id, update in accums:
        if (hit := metric_of.get(acc_id)) is not None:
            out[hit[0]] += update * hit[1]
    out["scans"] = sum(
        node.get("nodeName", "").startswith("Scan ")
        for plan in final_plan.values()
        for node in _walk(plan)
    )
    return dict(out)


def summarize_file(path: str, keep: Callable[[str], bool]) -> dict[str, float]:
    with open(path) as fh:
        return summarize(fh, keep)
