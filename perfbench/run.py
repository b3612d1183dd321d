"""Benchmark of the engine's registered queries, run the way a user runs
them: ``QUERIES[name](spark, dir)`` then ``collect()``, one query after
another from a single driver thread (a closed loop with one client) on
``local[<nproc>]``.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 22 --trace 0

The run generates the workload's tables under ``.perfbench_work/``
(always the same tables), starts the session, warms up with the
workload's warm-up passes over the query list, then repeats passes for
``--seconds``; ``--seed`` draws the query order of every pass. Every
result is compared with the query's DuckDB ``oracle_sql()`` on the same
parquet files.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
untraced passes, then restarts the session with Spark's event log on
and layer probes installed, runs traced passes, and prints the
per-layer metrics (per pass) with the tracing overhead. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import probes  # noqa: E402
from workloads import DATA_SEED, END_TO_END_METRICS, LAYER_METRICS, WORKLOADS  # noqa: E402

_STREAMING_MODULE = "movie_rankings_spark.plans.streaming_queries"


@dataclass
class QueryRun:
    name: str
    build_s: float = 0.0
    collect_s: float = 0.0
    release_s: float = 0.0
    cpu_s: float = 0.0
    error: str | None = None
    wrong: str | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.collect_s


@dataclass
class Pass:
    runs: list[QueryRun] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(r.latency_s + r.release_s for r in self.runs)

    @property
    def cpu_s(self) -> float:
        return sum(r.cpu_s for r in self.runs)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # collect() returns naive datetimes in local time
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args, trace_probes: probes.LayerProbes | None) -> None:
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.data_dir = os.path.join(WORK, "data")
        self.probes = trace_probes
        self.verified: dict[str, list[str]] = {}
        self.failures: dict[str, str] = {}
        self.drift = [0, 0, 0]
        self.catalyst_ms = 0.0
        self.expected = None
        self.unchecked: list[tuple[QueryRun, object, list]] = []
        self.spark = None

    # -- session -------------------------------------------------------
    def start(self) -> float:
        from movie_rankings_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.jvm_pid = probes.jvm_pid(self.spark)
        return time.perf_counter() - t0

    def restart_traced(self) -> None:
        """Stop the session and start a new one in the same JVM with the
        event log on, set from here through JVM system properties."""
        jvm = self.sc._jvm
        self.spark.stop()
        for key, value in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + os.path.join(WORK, "eventlog")),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            jvm.java.lang.System.setProperty(key, value)
        self.start()

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- oracle ----------------------------------------------------------
    def load_expectations(self, oracles: dict[str, str]) -> None:
        """DuckDB result of every query's ``oracle_sql()`` on the same parquet."""
        import duckdb

        from movie_rankings_spark.catalog import TABLES, table_path

        con = duckdb.connect(config={"memory_limit": "2GB"})
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(self.data_dir, t)}')"
            )
        self.expected = {
            n: con.execute(oracles[n]).df() for n in self.workload.queries if n in oracles
        }
        con.close()

    def check(self, name: str, df, rows) -> str | None:
        """None when ``rows`` match the oracle, else the reason. Results
        equal to ones already verified are not compared again."""
        from tools.check_oracle import compare

        seen = sorted(map(repr, rows))
        if self.verified.get(name) == seen:
            return None
        if name in self.expected:
            problems = compare(_to_pandas(rows, df.schema), self.expected[name])
            if problems:
                return "; ".join(problems)
        self.verified[name] = seen
        return None

    # -- passes ------------------------------------------------------------
    def run_query(self, name: str, tag: str) -> QueryRun:
        """Build and collect one query under job groups ``b|<tag>|<name>``
        and ``c|<tag>|<name>``; tag ``t`` marks a traced pass."""
        from movie_rankings_spark.caching import release_persisted

        run = QueryRun(name)
        traced = tag == "t"
        if traced:
            before = probes.session_snapshot(self.spark)
        cpu0 = probes.tree_cpu_s(self.jvm_pid) if self.probes else 0.0
        df = rows = None
        t0 = time.perf_counter()
        try:
            self.sc.setJobGroup(f"b|{tag}|{name}", name)
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"c|{tag}|{name}", name)
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            t2 = time.perf_counter()
            t1 = t1 if df is not None else t2
            run.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        run.build_s, run.collect_s = t1 - t0, t2 - t1
        t3 = time.perf_counter()
        release_persisted()
        run.release_s = time.perf_counter() - t3
        if self.probes:
            run.cpu_s = probes.tree_cpu_s(self.jvm_pid) - cpu0
        if traced and df is not None:
            self.catalyst_ms += _catalyst_ms(df)
        if traced:
            for i, d in enumerate(probes.drift(before, probes.session_snapshot(self.spark))):
                self.drift[i] += d
        if rows is not None and self.expected is None:
            self.unchecked.append((run, df, rows))
        elif rows is not None:
            run.wrong = self.check(name, df, rows)
        self.sc.setJobGroup("perfbench", "between queries")
        self.record_failure(run)
        return run

    def record_failure(self, run: QueryRun) -> None:
        reason = run.error or run.wrong
        if reason and run.name not in self.failures:
            self.failures[run.name] = ("error: " if run.error else "wrong: ") + reason

    def check_unchecked(self) -> None:
        """Check the results kept while the expectations did not exist."""
        for run, df, rows in self.unchecked:
            run.wrong = self.check(run.name, df, rows)
            self.record_failure(run)
        self.unchecked.clear()

    def run_pass(self, tag: str) -> Pass:
        order = self.rng.sample(self.workload.queries, len(self.workload.queries))
        return Pass([self.run_query(n, tag) for n in order])

    def run_passes(self, seconds: float, tag: str) -> list[Pass]:
        """Whole passes, started until ``seconds`` have gone by."""
        passes: list[Pass] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self.run_pass(tag))
        return passes


def _to_pandas(rows, schema):
    """The frame ``DataFrame.toPandas()`` returns for these collected
    rows, built through Arrow the way it builds it, without running the
    query again."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        names=[f"col_{i}" for i in range(len(schema.fields))],
    )
    pdf = table.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    pdf.columns = schema.names
    if not schema.fields:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone="UTC", struct_in_pandas="dict",
                error_on_duplicated_field_names=False,
            )(pser)
            for (_, pser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def _catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the query's plan."""
    it = df._jdf.queryExecution().tracker().phases().values().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next().durationMs()
    return total


def _failed(passes: list[Pass]) -> int:
    return sum(1 for p in passes for r in p.runs if r.error or r.wrong)


def _end_to_end(bench: Bench, setup_s: float, passes: list[Pass]) -> dict[str, float]:
    per_query: dict[str, list[float]] = {}
    for r in (r for p in passes for r in p.runs if not r.error):
        per_query.setdefault(r.name, []).append(r.latency_s)
    medians = [statistics.median(v) for v in per_query.values()]
    print(f"query_p50_s samples={sum(map(len, per_query.values()))} queries={len(medians)}")
    print("query median_s " + " ".join(f"{n}={statistics.median(v):.3f}" for n, v in per_query.items()))
    print("pass wall_s " + " ".join(f"{p.wall_s:.3f}" for p in passes))
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall_s for p in passes),
        # median over queries of each query's median latency: one slow
        # sample cannot move it to a neighbouring query's latency
        "query_p50_s": statistics.median(medians) if medians else float("nan"),
    }


def _per_layer(
    bench: Bench,
    start_s: float,
    warmup_s: float,
    untraced: list[Pass],
    untraced_rss_mb: float,
    traced: list[Pass],
    records: list[dict],
) -> dict[str, float]:
    import eventlog

    # streams run their jobs under their run id as job group
    stream_runs = {r["run_id"] for r in records}
    logs = os.listdir(os.path.join(WORK, "eventlog"))
    ev = eventlog.summarize_file(
        os.path.join(WORK, "eventlog", logs[0]),
        lambda group: group.startswith(("b|t|", "c|t|")) or group in stream_runs,
    )
    n = len(traced)
    runs = [r for p in traced for r in p.runs]
    wall = sum(p.wall_s for p in traced) / n
    batch_s = sum(r["batch_duration_ms"] for r in records) / 1e3 / n
    state_bytes: dict[str, int] = {}
    for r in records:
        state_bytes[r["run_id"]] = max(state_bytes.get(r["run_id"], 0), r["state_bytes"])
    stream_wall = sum(
        r.latency_s for r in runs if bench.queries[r.name].__module__ == _STREAMING_MODULE
    ) / n
    c, s = bench.probes.counts, bench.probes.seconds
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "session.leaked_views": bench.drift[0] / n,
        "session.conf_drift": bench.drift[1] / n,
        "catalog.load_calls": c["catalog.load"] / n,
        "catalog.load_s": s["catalog.load"] / n,
        "catalog.scans": ev.get("scans", 0) / n,
        "catalog.input_mb": ev.get("input_bytes", 0) / 1e6 / n,
        "plans.build_s": sum(r.build_s for r in runs) / n,
        "plans.collect_s": sum(r.collect_s for r in runs) / n,
        "plans.build_jobs": ev.get("jobs.b", 0) / n,
        "plans.collect_jobs": ev.get("jobs.c", 0) / n,
        "plans.errors": sum(1 for r in runs if r.error) / n,
        "plans.wrong": sum(1 for r in runs if r.wrong) / n,
        "operators.state_hint_calls": c["operators.state_hint"] / n,
        "caching.persists": c["caching.persists"] / n,
        "caching.checkpoints": c["caching.checkpoints"] / n,
        "caching.release_s": sum(r.release_s for r in runs) / n,
        "caching.leaked_rdds": bench.drift[2] / n,
        "functions.python_sent_mb": ev.get("python_sent_bytes", 0) / 1e6 / n,
        "functions.python_received_mb": ev.get("python_received_bytes", 0) / 1e6 / n,
        "functions.python_udf_s": ev.get("python_run_s", 0) / n,
        "sources.scrape_s": s["sources.scrape"] / n,
        "streaming.batches": len(records) / n,
        "streaming.empty_batches": sum(1 for r in records if r["input_rows"] == 0) / n,
        "streaming.batch_s": batch_s,
        "streaming.fixed_s": stream_wall - batch_s if stream_wall else 0.0,
        "streaming.state_mb": sum(state_bytes.values()) / 1e6 / n,
        "spark.catalyst_ms": bench.catalyst_ms / n,
        "spark.jobs": ev.get("jobs", 0) / n,
        "spark.stages": ev.get("stages", 0) / n,
        "spark.tasks": ev.get("tasks", 0) / n,
        "spark.executor_run_s": ev.get("executor_run_s", 0) / n,
        "spark.executor_cpu_s": ev.get("executor_cpu_s", 0) / n,
        "spark.gc_s": ev.get("gc_s", 0) / n,
        "spark.core_idle_ratio": 1 - ev.get("executor_run_s", 0) / n / (wall * cores),
        "spark.shuffle_read_mb": ev.get("shuffle_read_bytes", 0) / 1e6 / n,
        "spark.shuffle_write_mb": ev.get("shuffle_write_bytes", 0) / 1e6 / n,
        "spark.spill_mb": ev.get("spill_bytes", 0) / 1e6 / n,
        "cpu_s": statistics.median(p.cpu_s for p in untraced),
        "peak_rss_mb": untraced_rss_mb,
        "trace.wall_s": statistics.median(p.wall_s for p in traced),
    }
    m["trace.overhead_s"] = m["trace.wall_s"] - statistics.median(p.wall_s for p in untraced)
    return m


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "movie_rankings_spark", "session.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    context = {
        "workload": args.workload,
        "sf": WORKLOADS[args.workload].sf,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": os.getloadavg()[0],
        "git_commit": _git_commit(),
    }
    _prepare_env()
    trace_probes = probes.LayerProbes() if args.trace else None
    bench = Bench(args, trace_probes)
    datagen.write_tables(bench.data_dir, bench.workload.sf, DATA_SEED)

    t_setup = time.perf_counter()
    if trace_probes is not None:
        trace_probes.install()
    import pyspark

    from movie_rankings_spark.plans.all_queries import ORACLES, QUERIES

    bench.queries = QUERIES
    t_start = time.perf_counter()
    try:
        start_s = bench.start()
        t_warm = time.perf_counter()
        warm = [bench.run_pass("w") for _ in range(bench.workload.warmup_passes)]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        for p in warm:
            print("warmup " + " ".join(f"{r.name}={r.latency_s:.2f}" for r in p.runs))
        print(f"setup import_s={t_start - t_setup:.3f} start_s={start_s:.3f} warmup_s={warmup_s:.3f}")
        t_oracle = time.perf_counter()
        bench.load_expectations(ORACLES)
        bench.check_unchecked()
        print(f"oracle_s={time.perf_counter() - t_oracle:.3f}")
        context["pyspark"] = pyspark.__version__
        context["java"] = bench.sc._jvm.java.lang.System.getProperty("java.version")
        if args.trace:
            untraced = bench.run_passes(args.seconds / 2, "u")
            untraced_rss_mb = probes.peak_rss_mb(bench.jvm_pid)
            bench.restart_traced()
            from movie_rankings_spark.streaming.observability import ProgressCapture

            capture = ProgressCapture()
            bench.spark.streams.addListener(capture)
            # the new session starts new Python workers and forgets
            # cached relations: fill again before the traced passes
            bench.run_pass("w")
            # onQueryStarted is delivered synchronously with start()
            n_started = len(capture.started)
            trace_probes.reset()
            passes = bench.run_passes(args.seconds / 2, "t")
            traced_streams = set(capture.started[n_started:])
            deadline = time.time() + 10
            while len(capture.terminated) < len(capture.started) and time.time() < deadline:
                time.sleep(0.05)
            bench.spark.stop()
            bench.spark = None
            records = [r for r in capture.records() if r["query_id"] in traced_streams]
            metrics = _per_layer(
                bench, start_s, warmup_s, untraced, untraced_rss_mb, passes, records
            )
        else:
            passes = bench.run_passes(args.seconds, "u")
            metrics = _end_to_end(bench, setup_s, passes)
    finally:
        bench.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)

    units = LAYER_METRICS if args.trace else END_TO_END_METRICS
    attempted = sum(len(p.runs) for p in passes)
    failed = _failed(passes)
    print("context " + json.dumps(context, sort_keys=True))
    for name, reason in sorted(bench.failures.items()):
        print(f"FAILED {name}: {reason}")
    print(f"fail_ratio {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for name, unit in units.items():
        print(f"{name} {metrics[name]:.6g} {unit}")
    result = {
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
