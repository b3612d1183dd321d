"""Benchmark harness and per-query profiler.

    python bench.py [query ...]

Runs the named registered queries (all of them by default) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric", "value"
(total sec), "unit", "queries" {name: sec}, "sf"}. Timing is wall-clock
around building and collecting each query, best of 2, after a session
warm-up.

Every run also writes a Spark event log into a temporary directory,
tags the build and the collect of each timed run with job groups
``b|<rep>|<name>`` and ``c|<rep>|<name>``, and after the sweep breaks
each query's fastest run down by layer (see ``breakdown``) with
perfbench's event-log parser. A run over all queries writes timings,
breakdown and suite totals to the round-stamped BENCH_FULL_* file; a run
over named queries writes only to $SPARK_GRAFT_BENCH_OUT, if set.
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from movie_rankings_spark.plans import all_queries  # noqa: E402
from movie_rankings_spark.session import get_spark  # noqa: E402
from perfbench.eventlog import summarize  # noqa: E402
from perfbench.probes import drift, session_snapshot  # noqa: E402

#: Representative slice of every tier: flagship, relational joins and
#: aggregates, windows, JSON, dedup (exact + LSH + inverted-index),
#: similarity (exact + numpy), text analysis, streaming.
HEADLINE_QUERIES = (
    "flagship_tpch",
    "flagship_scraped",
    "flagship_fuzzy_resolved",
    "flagship_scraped_dsv2",
    "flagship_scraped_udtf",
    "flagship_pandas_api",
    "q1_pricing_summary",
    "sql_api_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "q4_order_priority_exists",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_late_shipment_priority",
    "q14_promo_revenue",
    "q18_large_orders",
    "q15_top_supplier",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_global_sales_opportunity",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q16_supplier_part_profile",
    "q20_heavy_red_shippers",
    "q21_waiting_suppliers",
    "from_json_props_map",
    "variant_props_analytics",
    "unpivot_daily_metrics",
    "hierarchy_rollup_customers",
    "topk_parts_per_brand",
    "topk_parts_per_brand_salted",
    "window_events_analytics",
    "sessionize_events",
    "session_paths_top",
    "session_transition_matrix",
    "funnel_view_click_purchase",
    "funnel_time_to_convert",
    "cohort_retention_daily",
    "cohort_ltv_curve",
    "rfm_customer_segments",
    "json_props_stats",
    "orders_by_month",
    "rollup_orders",
    "cube_lineitem_flags",
    "grouping_sets_orders",
    "setops_repeat_customers",
    "asof_purchase_context",
    "cogroup_asof_purchase",
    "rangejoin_purchase_context",
    "overlap_view_click_windows",
    "window_rank_family",
    "window_rolling_revenue_7d",
    "timeseries_gapfill_daily",
    "diff_orders_snapshots",
    "incremental_monthly_revenue",
    "ivm_join_segment_revenue",
    "sample_docs_weighted",
    "changelog_latest_snapshot",
    "scd2_user_event_history",
    "attribution_last_touch",
    "layout_zorder_orders",
    "antijoin_inactive_customers",
    "percentiles_lineitem_price",
    "pivot_user_event_counts",
    "udaf_price_median",
    "distinct_parts_per_supplier",
    "hll_users_mergeable_rollup",
    "bitmap_users_rollup",
    "active_users_rolling",
    "dedup_exact_groups",
    "dedup_chunks_exact",
    "dedup_boilerplate_strip",
    "dedup_substring_spans",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_jaccard_prefix",
    "dedup_minhash_lsh",
    "dedup_incremental_batch",
    "dedup_cluster_reps_star",
    "dedup_impact_report",
    "dedup_embedding_lsh",
    "similarity_cosine_topk",
    "similarity_cosine_topk_numpy",
    "similarity_ivf_topk",
    "retrieval_eval_prefix",
    "similarity_ivf_kmeans_topk",
    "similarity_pq_topk",
    "similarity_tfidf_topk",
    "similarity_mmr_topk",
    "search_bm25_topk",
    "knn_label_propagation",
    "knn_label_propagation_ivf",
    "dedup_semantic_clusters",
    "pagerank_copurchase",
    "triangles_copurchase",
    "skew_profile_join_keys",
    "cms_word_frequency",
    "join_size_cms_events",
    "classifier_doc_scores",
    "classifier_auc_eval",
    "text_quality",
    "text_langid",
    "langid_confusion_matrix",
    "text_pii_redaction",
    "decontaminate_report",
    "decontaminate_bloom_gate",
    "audit_orders_quality",
    "expectations_documents",
    "profile_columns_orders",
    "kanonymity_customers",
    "classifier_calibration_bins",
    "mix_temperature_sampling",
    "dedup_cluster_keep_best",
    "dedup_editdistance_verify",
    "centroid_similarity_labels",
    "funnel_time_bounded",
    "attribution_position_based",
    "tokenizer_encode_bpe",
    "anomaly_events_zscore",
    "anomaly_rolling_zscore",
    "robust_outliers_mad",
    "winsorized_mean_price",
    "histogram_totalprice",
    "histogram_equidepth_price",
    "histogram2d_qty_price",
    "histogram_rollup_events",
    "bootstrap_mean_ci_orders",
    "traffic_dow_hour_heatmap",
    "quantile_normalize_price",
    "corr_price_quantity",
    "gini_customer_revenue",
    "regression_monthly_trend",
    "regression_theilsen_trend",
    "seasonality_monthly_index",
    "chi2_lang_source",
    "decay_user_activity",
    "basket_association_rules",
    "drift_train_val_js",
    "text_corpus_summary",
    "text_top_terms",
    "vocab_top_words",
    "vocab_heavy_hitters",
    "vocab_top_bigrams",
    "bpe_pair_counts",
    "bpe_train_merges",
    "logreg_train_quality",
    "embedding_jl_projection",
    "embedding_norm_audit",
    "split_train_val_test",
    "split_time_embargo",
    "folds_grouped_by_user",
    "collocations_lift",
    "sample_docs_deterministic",
    "sample_k_per_lang",
    "sample_stratified_by_lang",
    "sample_neyman_allocation",
    "mix_corpus_token_budget",
    "dsir_importance_topk",
    "quality_repetition_bigram",
    "shuffle_docs_deterministic",
    "curriculum_order_docs",
    "pack_docs_batches",
    "chunk_docs_sliding",
    "quality_filtered_docs",
    "quality_filtered_per_lang",
    "pipeline_curated_chunks",
    "multimodal_frame_sample",
    "multimodal_resize_meta",
    "multimodal_audio_frames",
    "erasure_audit_events",
    "stream_tumbling_daily",
    "stream_session_windows",
    "stream_user_lifetime_stats",
    "stream_static_join_segments",
    "stream_stream_view_purchase",
    "stream_stream_outer_attribution",
    "stream_upsert_snapshot",
    "stream_dedup_incremental",
    "stream_cms_maintained",
    "stream_histogram_rollup",
    "stream_bitmap_users_rollup",
    "stream_running_topk_users",
    "stream_session_dynamic_gap",
    "stream_dedup_then_window",
    # r4: the previously-unbenched remainder — every registered query
    # now has a perf anchor so regressions can't hide in corners
    "flagship_fixture",
    "flagship_fixture_distinct",
    "fuzzy_title_match",
    "approx_distinct_parts",
    "approx_percentiles_price",
    "dedup_cluster_reps",
    "dedup_embedding_cosine",
    "embedding_covariance",
    "embedding_pca_project",
    "embedding_quantize_int8",
    "multimodal_features",
    "text_doc_stats",
    "text_fingerprints",
    "text_lm_score",
    "profile_columns_orders_approx",
    "stream_dedup_user_types",
    "stream_dedup_watermark_bounded",
    "stream_sliding_6h",
    # r4 additions: deterministic HLL / PPS sampling / LPA / skyline
    "hll_registers_rollup",
    "pps_sample_orders",
    "communities_copurchase",
    "skyline_parts_frontier",
    # r4b additions: k-core / link prediction / source overlap /
    # sorted-neighborhood dedup / ROC curve
    "kcore_copurchase",
    "linkpred_adamic_adar",
    "overlap_sources_shingles",
    "dedup_sorted_neighborhood",
    "classifier_roc_curve",
    # r4c/r4d additions: BFS reach / audience overlap (exact + HLL) /
    # corpus laws / personalized PageRank
    "sssp_copurchase_reach",
    "overlap_event_audiences",
    "hll_audience_overlap",
    "corpus_zipf_slope",
    "corpus_heaps_law",
    "ppr_copurchase_seeded",
    # r5b additions: information-theory diagnostics / agreement /
    # concentration curve / top movers
    "mi_lang_source",
    "kappa_quality_raters",
    "coverage_topdoc_chars",
    "topmovers_segment_monthly",
    # r5c additions: distribution tests / first-digit audit / rank
    # correlation / series diagnostics
    "ks_price_priority",
    "mannwhitney_price_priority",
    "benford_totalprice",
    "spearman_qty_price",
    "acf_daily_revenue",
    "changepoint_daily_revenue",
    "search_hybrid_rrf",
    "abtest_conversion_events",
    "drift_train_val_psi",
    "stream_psi_monitor",
    "embedding_jl_rademacher",
    "centrality_harmonic_hubs",
    "ks_source_length_profiles",
)

#: The hand-ordered tiers above come first (stable cross-round
#: comparison order); every registered query missing from the hand
#: list is appended alphabetically so the bench can never silently
#: go stale when a round adds queries.
HEADLINE_QUERIES = HEADLINE_QUERIES + tuple(
    sorted(q for q in all_queries.QUERIES if q not in HEADLINE_QUERIES)
)


#: Tier representatives that MUST appear in the printed compact JSON
#: (the harness that records bench output keeps only the final ~2000
#: characters, so the printed line carries a per-tier slice and the
#: complete per-query map goes to BENCH_FULL_local.json + stderr).
COMPACT_PRIORITY = (
    "flagship_tpch",
    "flagship_scraped",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "q2_min_cost_supplier",
    "topk_parts_per_brand",
    "window_events_analytics",
    "window_rolling_revenue_7d",
    "sessionize_events",
    "session_transition_matrix",
    "funnel_view_click_purchase",
    "asof_purchase_context",
    "rangejoin_purchase_context",
    "rollup_orders",
    "pivot_user_event_counts",
    "percentiles_lineitem_price",
    "udaf_price_median",
    "json_props_stats",
    "timeseries_gapfill_daily",
    "changelog_latest_snapshot",
    "scd2_user_event_history",
    "attribution_last_touch",
    "layout_zorder_orders",
    "hll_users_mergeable_rollup",
    "bitmap_users_rollup",
    "active_users_rolling",
    "split_train_val_test",
    "similarity_tfidf_topk",
    "dedup_semantic_clusters",
    "pagerank_copurchase",
    "triangles_copurchase",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "similarity_cosine_topk",
    "text_quality",
    "text_langid",
    "langid_confusion_matrix",
    "text_pii_redaction",
    "vocab_top_words",
    "bpe_pair_counts",
    "bpe_train_merges",
    "classifier_doc_scores",
    "classifier_auc_eval",
    "similarity_mmr_topk",
    "embedding_norm_audit",
    "decontaminate_report",
    "profile_columns_orders",
    "mix_temperature_sampling",
    "dedup_cluster_keep_best",
    "tokenizer_encode_bpe",
    "stream_tumbling_daily",
    "stream_stream_view_purchase",
    "stream_upsert_snapshot",
)

#: byte budget for the printed JSON line — the recording harness keeps
#: only the last 2000 characters of output, and a line that overflows
#: it is unparseable (BENCH_r01/r02 both recorded parsed=null).
COMPACT_BUDGET = 1900


def compact_payload(
    timings: dict[str, float],
    sf: float | None,
    calibration: float | None = None,
) -> str:
    """One JSON line ≤ COMPACT_BUDGET bytes.

    ``value`` totals over ALL measured queries; ``queries`` carries the
    COMPACT_PRIORITY slice first, then as many remaining queries as fit
    the budget (measurement order). Full map: the round-stamped
    BENCH_FULL_* file. ``calib`` is the container-speed calibration
    scan's seconds (see :func:`calibration_seconds`) — divide per-query
    ratios by (calib / the BASELINE.md calibration anchor) to strip the
    1.15–1.6× cross-container spread before judging a regression.
    """
    order = [n for n in COMPACT_PRIORITY if n in timings]
    order += [n for n in timings if n not in order]

    def render(names: list[str]) -> str:
        payload = {
            "metric": "headline_suite_seconds",
            "value": round(sum(timings.values()), 2),
            "unit": "sec",
            "n_run": len(timings),
            "queries": {n: round(timings[n], 3) for n in names},
            "sf": sf,
        }
        if calibration is not None:
            payload["calib"] = round(calibration, 4)
        return json.dumps(payload, separators=(",", ":"))

    keep = len(order)
    while keep > 0 and len(render(order[:keep])) > COMPACT_BUDGET:
        keep -= 1
    return render(order[:keep])


def calibration_seconds(spark, sf_dir: str, repeats: int = 3) -> float:
    """Container-speed calibration: one FIXED reference plan — a raw
    lineitem parquet scan into a 3-aggregate groupBy, written inline so
    it can never drift with library code — timed best-of-``repeats``
    before the suite. Identical plans measure 1.15–1.6× apart across
    round containers (BASELINE.md r3s3 note); dividing every per-query
    baseline ratio by (calib / the recorded calibration anchor) turns
    that prose caveat into a measured correction, so the 2× perf gate
    judges the CODE, not the container draw."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    best = float("inf")
    for _ in range(repeats):
        start = time.perf_counter()
        spark.read.parquet(path).groupBy("l_returnflag").agg(
            {"l_extendedprice": "sum", "l_quantity": "avg", "*": "count"}
        ).collect()
        best = min(best, time.perf_counter() - start)
    return best


#: a run whose calibration scan exceeds the BASELINE.md anchor by
#: more than this factor is a LOADED-box run: its absolute seconds
#: measure the neighbours, not the code (r8: the loaded driver sweep
#: read 37 queries over 1.5× raw, all load artifacts)
CALIBRATION_LOAD_BAND = 1.2

#: 1-minute load average measured BEFORE the suite starts (before this
#: process spins up local[32] — end-of-run load is dominated by the
#: bench's own executor threads) above which the run is quarantined as
#: _LOADED regardless of the calibration ratio. Anchor governance (r9
#: verdict item 3: the r9 calibration anchor was ratcheted upward from
#: a loaded run, inverting the quarantine's meaning): BASELINE.md may
#: only re-anchor calibration — or per-query anchors — from a run whose
#: recorded ``anchor_eligible`` is true, i.e. pre-run load below this
#: bound AND calibration inside the band.
ANCHOR_LOAD_MAX = 2.0


def _calibration_anchor(repo_dir: str) -> float | None:
    """The recorded calibration anchor from BASELINE.md (None if the
    file or the anchor note is absent)."""
    import re

    try:
        with open(
            os.path.join(repo_dir, "BASELINE.md"), encoding="utf-8"
        ) as fh:
            m = re.search(
                r"Calibration anchor[^*]*\*\*([0-9.]+)\s*s\*\*",
                fh.read(),
                re.S,
            )
        return float(m.group(1)) if m else None
    except OSError:
        return None


def _default_bench_out(repo_dir: str, sf_tag: str, loaded: bool = False) -> str:
    """Round-stamped default output path: BENCH_FULL_r{N}_{sf}.json,
    N = 1 + the highest driver-recorded BENCH_r{N}.json. Stamping (r6
    verdict item: the driver's round-end bench silently overwrote the
    builder's final sweep) means no run can clobber the artifact a
    BASELINE.md claim cites; SPARK_GRAFT_BENCH_OUT still overrides.

    ``loaded`` quarantines the artifact by NAME (r8 verdict item 6):
    when the measured calibration exceeds CALIBRATION_LOAD_BAND × the
    BASELINE.md anchor, the run must not claim the round-stamped name
    a cross-round comparison would read — it gets _LOADED appended."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f)))
    ]
    n = max(rounds) + 1 if rounds else 0
    suffix = "_LOADED" if loaded else ""
    return os.path.join(
        repo_dir, f"BENCH_FULL_r{n:02d}_{sf_tag}{suffix}.json"
    )


def _log_events_to(log_dir: str) -> None:
    """Make the session started next write an uncompressed event log
    into ``log_dir``: spark-submit ``--conf`` entries, set before the
    gateway starts."""
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} {os.environ.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"
    )


def split_log(lines, owner) -> dict[str, list[str]]:
    """Route each event-log line to the query that owns it, in one pass.

    ``owner(job_group)`` names the query whose jobs run under that group,
    or None. A job goes by its group; a stage and its tasks go with the
    job that first lists the stage; a SQL execution's events go with its
    first job (its start event comes first, so it waits until then)."""
    buckets: dict[str, list[str]] = {}
    stage_of: dict[int, str | None] = {}
    execution_of: dict[int, str | None] = {}
    pending: dict[int, list[str]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            query = owner(props.get("spark.jobGroup.id") or "")
            for stage in ev.get("Stage IDs", ()):
                stage_of.setdefault(stage, query)
            if "spark.sql.execution.id" in props:
                eid = int(props["spark.sql.execution.id"])
                execution_of.setdefault(eid, query)
                held = pending.pop(eid, [])
                if query is not None:
                    buckets.setdefault(query, []).extend(held)
        elif kind == "SparkListenerStageCompleted":
            query = stage_of.get((ev.get("Stage Info") or {}).get("Stage ID"))
        elif kind == "SparkListenerTaskEnd":
            query = stage_of.get(ev.get("Stage ID"))
        elif "executionId" in ev:
            eid = ev["executionId"]
            if eid not in execution_of:
                if kind.endswith("SQLExecutionEnd"):
                    pending.pop(eid, None)  # ran no job
                else:
                    pending.setdefault(eid, []).append(line)
                continue
            query = execution_of[eid]
        else:
            continue
        if query is not None:
            buckets.setdefault(query, []).append(line)
    return buckets


def summarize_queries(
    lines, best_rep: dict[str, str], stream_runs: dict[str, str]
) -> dict[str, dict[str, float]]:
    """perfbench's event-log totals per query, over the jobs of run
    ``best_rep[name]`` (groups ``b|<rep>|<name>``, ``c|<rep>|<name>``)
    plus those of the streams ``stream_runs`` maps to it by run id."""

    def owner(group: str) -> str | None:
        if group in stream_runs:
            return stream_runs[group]
        phase, _, rest = group.partition("|")
        rep, _, name = rest.partition("|")
        return name if phase in ("b", "c") and best_rep.get(name) == rep else None

    buckets = split_log(lines, owner)
    return {
        name: summarize(buckets.pop(name, ()), lambda group: True)
        for name in best_rep
    }


def breakdown(
    ev: dict[str, float],
    build_s: float,
    collect_s: float,
    catalyst_ms: float,
    session_drift: tuple[int, int, int],
    cores: int,
) -> dict[str, float]:
    """One query's layer breakdown from the event-log totals ``ev`` of
    its fastest run: build/collect seconds and Spark jobs (``jobs`` adds
    the micro-batch jobs of the streams it ran), stages, tasks, executor
    run and CPU seconds, ``idle_s`` = wall - executor run seconds /
    cores, shuffle and spill MB, Python-worker seconds, Catalyst
    analysis + optimization + planning ms, and the session drift over
    all of its calls, the warm-up call included: new temp views, changed
    conf keys and new persisted RDDs."""
    mb = 1e6
    new_views, conf_drift, new_rdds = session_drift
    return {
        "build_s": round(build_s, 4),
        "collect_s": round(collect_s, 4),
        "build_jobs": ev.get("jobs.b", 0),
        "collect_jobs": ev.get("jobs.c", 0),
        "jobs": ev.get("jobs", 0),
        "stages": ev.get("stages", 0),
        "tasks": ev.get("tasks", 0),
        "executor_run_s": round(ev.get("executor_run_s", 0.0), 3),
        "executor_cpu_s": round(ev.get("executor_cpu_s", 0.0), 3),
        "idle_s": round(
            build_s + collect_s - ev.get("executor_run_s", 0.0) / cores, 4
        ),
        "shuffle_read_mb": round(ev.get("shuffle_read_bytes", 0) / mb, 3),
        "shuffle_write_mb": round(ev.get("shuffle_write_bytes", 0) / mb, 3),
        "spill_mb": round(ev.get("spill_bytes", 0) / mb, 3),
        "python_s": round(ev.get("python_run_s", 0.0), 3),
        "catalyst_ms": round(catalyst_ms, 1),
        "new_views": new_views,
        "conf_drift": conf_drift,
        "new_rdds": new_rdds,
    }


def suite_totals(queries: dict[str, dict[str, float]]) -> dict[str, float]:
    """The suite line: Σ build seconds, Σ jobs, Σ executor CPU seconds
    and Σ idle wall seconds over the per-query breakdowns."""
    return {
        key: round(sum(q[key] for q in queries.values()), 3)
        for key in ("build_s", "jobs", "executor_cpu_s", "idle_s")
    }


def _time_queries(spark, names, sf_dir, capture):
    """Best-of-2 wall seconds of each query, and per query the build
    seconds, collect seconds, Catalyst ms and started stream ids of
    every timed run plus the session drift over all of its runs."""
    from movie_rankings_spark import release_persisted
    from perfbench.run import _catalyst_ms

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    runs: dict[str, list[tuple[float, float, float, list[str]]]] = {}
    drifts: dict[str, tuple[int, int, int]] = {}
    for name in names:
        fn = all_queries.QUERIES[name]
        before = session_snapshot(spark)
        runs[name] = reps = []
        best, n = float("inf"), 0
        for _ in range(2):  # best-of-2: the min estimates the noise floor
            started = len(capture.started)
            sc.setJobGroup(f"b|{len(reps)}|{name}", name)
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            built = time.perf_counter()
            sc.setJobGroup(f"c|{len(reps)}|{name}", name)
            n = len(df.collect())  # full materialization — count() would
            # let Catalyst prune aggregate expressions and under-measure
            end = time.perf_counter()
            sc.setJobGroup("bench", "between runs")
            reps.append(
                (built - start, end - built, _catalyst_ms(df), capture.started[started:])
            )
            best = min(best, end - start)
        timings[name] = round(best, 4)
        print(f"# {name}: {best:.3f}s rows={n} runs={len(reps)}", file=sys.stderr)
        # cache hygiene between queries: operators persist reused
        # intermediates that the returned DataFrame still references,
        # so over a 300+-query suite they would accumulate into executor
        # memory pressure that inflates LATE queries' timings (r4
        # finding: late-suite graph queries measured 4-6x their
        # isolated cost). Releasing them between queries measures each
        # query's own cost — within-query reuse still benefits.
        release_persisted()
        drifts[name] = drift(before, session_snapshot(spark))
    return timings, runs, drifts


def _profile(spark, capture, log_dir, runs, drifts) -> dict[str, dict[str, float]]:
    """Stop the session, then break each query's fastest run down by
    layer from the event log it wrote."""
    deadline = time.time() + 30
    while len(capture.terminated) < len(capture.started) and time.time() < deadline:
        time.sleep(0.05)
    best_rep: dict[str, str] = {}
    owner_of_stream: dict[str, str] = {}
    for name, reps in runs.items():
        rep = min(range(len(reps)), key=lambda i: reps[i][0] + reps[i][1])
        best_rep[name] = str(rep)
        owner_of_stream.update(dict.fromkeys(reps[rep][3], name))
    stream_runs: dict[str, str] = {}
    batches: dict[str, list[float]] = {}
    for rec in capture.records():
        if (name := owner_of_stream.get(rec["query_id"])) is not None:
            stream_runs[rec["run_id"]] = name
            batches.setdefault(name, []).append(rec["batch_duration_ms"] / 1e3)
    cores = spark.sparkContext.defaultParallelism
    spark.stop()
    [log] = os.listdir(log_dir)
    with open(os.path.join(log_dir, log), encoding="utf-8") as fh:
        totals = summarize_queries(fh, best_rep, stream_runs)
    out: dict[str, dict[str, float]] = {}
    for name, ev in totals.items():
        build_s, collect_s, catalyst_ms, _ = runs[name][int(best_rep[name])]
        out[name] = breakdown(ev, build_s, collect_s, catalyst_ms, drifts[name], cores)
        if name in batches:
            out[name]["batches"] = len(batches[name])
            out[name]["batch_s"] = round(sum(batches[name]), 3)
        print(f"# {name} {json.dumps(out[name], separators=(',', ':'))}", file=sys.stderr)
    return out


def main(argv: list[str] | None = None) -> int:
    names = list(sys.argv[1:] if argv is None else argv)
    unknown = [n for n in names if n not in all_queries.QUERIES]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    subset = bool(names)
    names = names or list(HEADLINE_QUERIES)
    with tempfile.TemporaryDirectory(prefix="bench-eventlog-") as log_dir:
        return _bench(names, subset, log_dir)


def _bench(names: list[str], subset: bool, log_dir: str) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    m = __import__("re").search(r"sf([0-9.]+)$", sf_tag)
    sf = float(m.group(1)) if m else None

    # neighbour load BEFORE this process spins up its executor threads
    # (the 1-minute average still carries just-finished activity's
    # decay, which errs conservative): keys the _LOADED quarantine and
    # anchor eligibility — end-of-run load is self-induced by local[32].
    try:
        load_start = list(os.getloadavg())
    except OSError:
        load_start = None

    _log_events_to(log_dir)
    spark = get_spark("movie-rankings-bench")
    from movie_rankings_spark.streaming.observability import ProgressCapture

    capture = ProgressCapture()
    spark.streams.addListener(capture)
    # Warm-up (steady-state methodology, recorded in BASELINE.md):
    # parquet footer/file-index caches for the measured tables, the
    # Python/Arrow worker pool, and whole-stage-codegen JIT — each query
    # runs once at sf0.001 first, which compiles the identical generated
    # code against negligible data. The measured numbers then reflect
    # per-query execution cost (what a long-running cluster sees), not
    # one-time session JIT that would be billed to whichever query
    # happens to run first.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from movie_rankings_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    # Each warm-up call is snapshotted like the timed runs: a leak the
    # query makes on every call first shows here, and the timed runs'
    # own snapshots would find it already in place.
    from movie_rankings_spark import release_persisted

    warm_drifts: dict[str, tuple[int, int, int]] = {}
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.normpath(sf_dir) != warm_dir:
        for name in names:
            before = session_snapshot(spark)
            all_queries.QUERIES[name](spark, warm_dir).collect()
            release_persisted()
            warm_drifts[name] = drift(before, session_snapshot(spark))

    calib = calibration_seconds(spark, sf_dir)
    print(f"# calibration: {calib:.3f}s", file=sys.stderr)

    timings, runs, drifts = _time_queries(spark, names, sf_dir, capture)
    for name, warm in warm_drifts.items():
        drifts[name] = tuple(w + t for w, t in zip(warm, drifts[name]))
    per_query = _profile(spark, capture, log_dir, runs, drifts)
    suite = suite_totals(per_query)
    print(f"# suite {json.dumps(suite, separators=(',', ':'))}", file=sys.stderr)

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    anchor = _calibration_anchor(repo_dir)
    # the anchor is an sf0.1 measurement (the calibration scan reads
    # sf_dir's lineitem, so its absolute seconds scale with sf) — the
    # load band is only meaningful at the anchor's own scale
    calib_loaded = (
        anchor is not None
        and sf == 0.1
        and calib > CALIBRATION_LOAD_BAND * anchor
    )
    # r9 verdict item 3: the round-stamp/LOADED decision keys on box
    # load as well as the calibration ratio — r9's accepted artifact ran
    # at load ~12.7 while the quarantined one ran quieter.
    busy_start = load_start is not None and load_start[0] > ANCHOR_LOAD_MAX
    loaded = calib_loaded or (sf == 0.1 and busy_start)
    try:
        load_avg = list(os.getloadavg())
    except OSError:
        load_avg = None
    full = {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration_seconds": round(calib, 4),
        "calibration_anchor": anchor,
        # box-load context (r8 verdict items 3/4): a reader must be
        # able to tell a loaded-container reading from a regression.
        # load_avg_start is pre-warm-up (neighbour load); the end-of-run
        # load_avg_1_5_15 is dominated by this bench's own local[32].
        "load_avg_start": load_start,
        "load_avg_1_5_15": load_avg,
        "loaded_run": loaded,
        # anchor governance (r9 verdict item 3): BASELINE.md may only
        # re-anchor calibration or per-query anchors from a run whose
        # anchor_eligible is true — quiet pre-run box, in-band calib.
        "anchor_eligible": not loaded and not busy_start,
        "suite": suite,
        "breakdown": per_query,
    }
    if loaded:
        why = (
            f"calibration {calib:.4f}s > {CALIBRATION_LOAD_BAND} x "
            f"anchor {anchor:.4f}s"
            if calib_loaded
            else f"pre-run load_avg {load_start[0]:.1f} > {ANCHOR_LOAD_MAX}"
        )
        print(
            f"# LOADED RUN: {why} — artifact quarantined as "
            "*_LOADED.json; re-run on a quiet box for the round-stamped "
            "sweep (not anchor-eligible)",
            file=sys.stderr,
        )
    full_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or (
        None if subset else _default_bench_out(repo_dir, sf_tag, loaded=loaded)
    )
    try:
        if full_path is not None:
            with open(full_path, "w", encoding="utf-8") as fh:
                json.dump(full, fh, indent=1)
    except OSError:
        pass  # read-only checkout — stderr already has every timing
    print(compact_payload(timings, sf, calib))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
