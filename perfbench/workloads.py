"""Workload definitions and the metric catalogue of the benchmark.

A workload is a list of registered queries (``plans.all_queries.QUERIES``)
run at one generated scale factor. The input tables are fixed (drawn
from ``DATA_SEED``); the seed given on the command line draws the query
order of every pass.

``LAYERS`` records, before any measurement, which end-to-end metric
each per-layer metric should move and on which workload it should move
(and on which it should not), so a later speed-up can name its layer.
"""

from __future__ import annotations

from dataclasses import dataclass


#: seed of the generated input tables, the same for every run
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str
    #: passes before timing starts (part of ``setup_s``): the first
    #: loads and compiles code and fills caches, later ones let the JIT
    #: catch up with the short, planning-bound relational queries
    warmup_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            0.1,
            (
                "flagship_tpch",
                "q3_shipping_priority",
                "q6_forecast_revenue",
                "q12_late_shipment_priority",
            ),
            "TPC-H scans, joins and aggregates: catalog, Catalyst, shuffle and "
            "runtime bloom filters; no Python UDFs, loops, checkpoints or streams",
            3,
        ),
        Workload(
            "llm_graph_stream",
            0.01,
            (
                "dedup_exact_groups",
                "flagship_scraped",
                "sssp_copurchase_reach",
                "stream_tumbling_daily",
            ),
            "LLM-pipeline operators at the pandas/Arrow boundary, an iterative graph "
            "loop and an availableNow stream: Python workers, many small jobs, micro-batches",
            2,
        ),
    )
}

#: per-layer metrics printed by a traced run: name -> unit
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.leaked_views": "count",
    "session.conf_drift": "count",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.scans": "count",
    "catalog.input_mb": "MB",
    "plans.build_s": "s",
    "plans.collect_s": "s",
    "plans.build_jobs": "count",
    "plans.collect_jobs": "count",
    "plans.errors": "count",
    "plans.wrong": "count",
    "operators.state_hint_calls": "count",
    "caching.persists": "count",
    "caching.checkpoints": "count",
    "caching.release_s": "s",
    "caching.leaked_rdds": "count",
    "functions.python_sent_mb": "MB",
    "functions.python_received_mb": "MB",
    "functions.python_udf_s": "s",
    "sources.scrape_s": "s",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.batch_s": "s",
    "streaming.fixed_s": "s",
    "streaming.state_mb": "MB",
    "spark.catalyst_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_idle_ratio": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

#: end-to-end metrics printed by an untraced run: name -> unit. ``cpu_s``
#: and ``peak_rss_mb`` are end-to-end quantities too, but their run-to-run
#: spread (IQR/median 0.16-0.20 and 0.14-0.25 over ten runs on 4 cores)
#: is too wide for a regression bound, so traced runs report them, from
#: their untraced passes, without one.
END_TO_END_METRICS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
}

#: layer -> (its metrics, end-to-end metrics they should move,
#: workloads where they should move, workloads where no move is expected)
LAYERS = {
    "session": (
        ("session.start_s", "session.warmup_s"),
        ("setup_s",),
        "all",
        "",
    ),
    "session drift": (
        ("session.leaked_views", "session.conf_drift"),
        ("peak_rss_mb",),
        "llm_graph_stream (memory-sink tables named stream_<uuid> accumulate)",
        "relational",
    ),
    "catalog": (
        ("catalog.load_calls", "catalog.load_s", "catalog.scans", "catalog.input_mb"),
        ("query_p50_s", "wall_s"),
        "relational",
        "llm_graph_stream",
    ),
    "plans": (
        (
            "plans.build_s",
            "plans.collect_s",
            "plans.build_jobs",
            "plans.collect_jobs",
            "plans.errors",
            "plans.wrong",
        ),
        ("wall_s", "fail_ratio"),
        "all; build_jobs on llm_graph_stream",
        "",
    ),
    "operators": (
        ("operators.state_hint_calls",),
        ("wall_s",),
        "llm_graph_stream",
        "relational",
    ),
    "caching": (
        ("caching.persists", "caching.checkpoints", "caching.release_s", "caching.leaked_rdds"),
        ("wall_s", "peak_rss_mb"),
        "llm_graph_stream",
        "relational",
    ),
    "functions": (
        ("functions.python_sent_mb", "functions.python_received_mb", "functions.python_udf_s"),
        ("wall_s", "cpu_s"),
        "llm_graph_stream",
        "relational",
    ),
    "sources": (
        ("sources.scrape_s",),
        ("query_p50_s",),
        "llm_graph_stream",
        "relational",
    ),
    "streaming": (
        (
            "streaming.batches",
            "streaming.empty_batches",
            "streaming.batch_s",
            "streaming.fixed_s",
            "streaming.state_mb",
        ),
        ("wall_s", "peak_rss_mb"),
        "llm_graph_stream",
        "relational",
    ),
    "spark": (
        (
            "spark.catalyst_ms",
            "spark.jobs",
            "spark.stages",
            "spark.tasks",
            "spark.executor_run_s",
            "spark.executor_cpu_s",
            "spark.gc_s",
            "spark.core_idle_ratio",
            "spark.shuffle_read_mb",
            "spark.shuffle_write_mb",
            "spark.spill_mb",
        ),
        ("wall_s", "cpu_s"),
        "jobs and idle time on llm_graph_stream; shuffle on relational",
        "",
    ),
}
