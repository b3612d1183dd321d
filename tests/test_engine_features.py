"""Engine-surface features: VariantType semi-structured path, UNPIVOT
reshape, join-strategy hints, and observe() in-flight metrics."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table
from movie_rankings_spark.plans import all_queries
from movie_rankings_spark.session import session_conf
from tests.conftest import SF_DIR


def test_variant_extraction_matches_string_json(spark):
    """try_variant_get through parse_json must agree with the string
    get_json_object path on every row."""
    e = load_table(spark, SF_DIR, "events")
    both = e.select(
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("v"),
        F.get_json_object("props", "$.k").cast("int").alias("s"),
    )
    assert both.filter(~(F.col("v").eqNullSafe(F.col("s")))).count() == 0


def test_variant_handles_malformed_json(spark):
    df = spark.createDataFrame(
        [('{"k": 7}',), ("not json",), (None,)], "props string"
    )
    got = df.select(
        F.try_variant_get(
            F.try_parse_json("props"), "$.k", "int"
        ).alias("k")
    ).collect()
    assert [r["k"] for r in got] == [7, None, None]


def test_unpivot_roundtrips_pivot(spark):
    """melt(pivot(x)) over a complete value list reproduces the long
    counts exactly."""
    e = load_table(spark, SF_DIR, "events")
    long_direct = {
        (r["event_type"],): r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    types = sorted(t for (t,) in long_direct)
    wide = e.groupBy().pivot("event_type", types).count()
    back = wide.unpivot(
        ids=[], values=types, variableColumnName="event_type",
        valueColumnName="n",
    )
    got = {(r["event_type"],): r["n"] for r in back.collect()}
    assert got == long_direct


def test_join_strategy_hints_control_physical_plan(spark):
    """The strategy hints every 100 TB tuning session reaches for must
    actually flip the physical operator."""
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")

    merge = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()

    shuffle_hash = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert (
        "ShuffledHashJoin"
        in shuffle_hash._jdf.queryExecution().executedPlan().toString()
    )

    bcast = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert (
        "BroadcastHashJoin"
        in bcast._jdf.queryExecution().executedPlan().toString()
    )


def test_observe_metrics_piggyback_on_one_pass(spark):
    """df.observe() collects dataset metrics DURING the action — the
    zero-extra-scan observability hook for production pipelines."""
    li = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("li_metrics")
    out = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_sum"),
    ).filter(F.col("l_quantity") > 25)
    kept = out.count()
    metrics = obs.get
    assert metrics["rows_seen"] == li.count()
    assert kept < metrics["rows_seen"]
    assert float(metrics["qty_sum"]) > 0


def test_new_queries_registered():
    for n in ("variant_props_analytics", "unpivot_daily_metrics"):
        assert n in all_queries.QUERIES and n in all_queries.ORACLES


def test_hierarchy_rollup_python_reference(spark):
    """Recursive-CTE forest rollup vs a driver-side reference walk."""
    from movie_rankings_spark.catalog import load_table

    rows = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_acctbal"
    ).collect()
    parent = {
        r["c_custkey"]: (r["c_custkey"] // 10 if r["c_custkey"] >= 10 else None)
        for r in rows
    }
    bal = {r["c_custkey"]: r["c_acctbal"] for r in rows}

    def root_depth(k):
        d = 0
        while parent[k] is not None:
            k = parent[k]
            d += 1
        return k, d

    from collections import defaultdict

    want = defaultdict(lambda: [0, 0, 0.0])
    for k in parent:
        root, depth = root_depth(k)
        want[root][0] += 1
        want[root][1] = max(want[root][1], depth)
        want[root][2] += round(bal[k], 2)

    got = {
        r["root"]: (r["n_nodes"], r["max_depth"], r["subtree_balance"])
        for r in all_queries.QUERIES["hierarchy_rollup_customers"](
            spark, SF_DIR
        ).collect()
    }
    assert set(got) == set(want)
    for root, (n, d, b) in want.items():
        gn, gd, gb = got[root]
        assert (gn, gd) == (n, d)
        assert abs(gb - b) < 1e-6


def test_bm25_matches_python_reference(spark):
    import math

    from movie_rankings_spark.operators.search import bm25_topk

    texts = {
        1: "table scan filter table table",
        2: "scan scan scan scan scan scan scan scan",
        3: "filter join agg window",
        4: "nothing relevant here at all",
        5: "table filter scan",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in sorted(texts.items())], "doc_id long, text string"
    )
    terms = ["scan", "table", "filter"]
    k1, b, quant = 1.2, 0.75, 1000

    tf = {
        (d, t): texts[d].split(" ").count(t)
        for d in texts
        for t in terms
        if t in texts[d].split(" ")
    }
    dl = {d: len(texts[d].split(" ")) for d in texts}
    n = len(texts)
    avgdl = sum(dl.values()) / n
    dfreq = {t: sum(1 for d in texts if (d, t) in tf) for t in terms}
    want = {}
    for d in texts:
        score, matched = 0.0, 0
        for t in terms:
            if (d, t) not in tf:
                continue
            matched += 1
            idf_q = math.floor(n * quant / dfreq[t])
            f = tf[(d, t)]
            part = (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl[d] / avgdl))
            score += round(idf_q * part, 6)
        if matched:
            want[d] = (matched, round(score, 6))

    got = {
        r["doc_id"]: (r["n_terms_matched"], round(r["score"], 6))
        for r in bm25_topk(df, terms, k=10).collect()
    }
    assert got == want
    # ranking sanity: doc 1 (3 distinct matches incl. rare 'table')
    # outranks the scan-spammer doc 2 (saturation + low idf)
    ordered = [
        r["doc_id"] for r in bm25_topk(df, terms, k=10).collect()
    ]
    assert ordered.index(1) < ordered.index(2)


def test_dsir_ranks_target_like_docs_higher(spark):
    from movie_rankings_spark.operators.dsir import dsir_importance_topk

    target_words = "alpha beta gamma delta epsilon"
    source_words = "zeta eta theta iota kappa"
    rows = [
        # target slice defines the wanted distribution
        (1, "tgt", f"{target_words} {target_words}"),
        (2, "tgt", f"{target_words} alpha beta"),
        # source pool: doc 10 mimics the target, doc 11 does not,
        # doc 12 is mixed
        (10, "src", f"{target_words} {target_words} alpha"),
        (11, "src", f"{source_words} {source_words}"),
        (12, "src", f"{target_words} {source_words}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = dsir_importance_topk(df, F.col("source") == "tgt", k=10).collect()
    ranked = [r["doc_id"] for r in out]
    assert set(ranked) == {10, 11, 12}  # only source docs are scored
    assert ranked[0] == 10 and ranked[-1] == 11
    w = {r["doc_id"]: r["log_weight"] for r in out}
    assert w[10] > w[12] > w[11]
    assert w[10] > 0 > w[11]  # target-like gains, source-only loses


def test_time_embargo_split_partitions_and_gap(spark):
    from movie_rankings_spark.catalog import load_table

    out = {
        r["split"]: r
        for r in all_queries.QUERIES["split_time_embargo"](
            spark, SF_DIR
        ).collect()
    }
    total = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in out.values()) == total
    assert set(out) <= {"train", "embargo", "test"}
    # ordering: train ends before embargo begins before test begins
    if "test" in out and "train" in out:
        assert out["train"]["last_ts"] < out["test"]["first_ts"]
    if "embargo" in out:
        assert out["train"]["last_ts"] <= out["embargo"]["first_ts"]
        assert out["embargo"]["last_ts"] <= out["test"]["first_ts"]


def test_grouped_folds_are_user_disjoint(spark):
    from pyspark.sql import functions as FF

    from movie_rankings_spark.catalog import load_table

    out = all_queries.QUERIES["folds_grouped_by_user"](spark, SF_DIR).collect()
    e = load_table(spark, SF_DIR, "events")
    assert sum(r["n_events"] for r in out) == e.count()
    assert sum(r["n_users"] for r in out) == e.select("user_id").distinct().count()
    assert {r["fold_id"] for r in out} <= set(range(5))


def test_parquet_aggregate_pushdown_metadata_only(spark):
    """DSv2 parquet answers COUNT/MIN/MAX from footer statistics
    (PushedAggregation) — at 100 TB these queries never read data
    pages. v1 path (the session default) has no such pushdown, which
    is why the capability is pinned behind the explicit conf swap."""
    from pyspark.sql import functions as FF

    with session_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        q = df.agg(
            FF.count(FF.lit(1)).alias("n"),
            FF.min("o_orderkey").alias("mn"),
            FF.max("o_orderkey").alias("mx"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*), MIN(o_orderkey), MAX(o_orderkey)]" in plan
        row = q.first()
    full = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert row["n"] == full.count()
    assert row["mn"] == full.agg(FF.min("o_orderkey")).first()[0]
    assert row["mx"] == full.agg(FF.max("o_orderkey")).first()[0]


def test_nested_struct_schema_pruning(spark):
    """Selecting one field of a struct column must prune the read
    schema to that leaf (nested-schema pruning), not fetch the whole
    struct."""
    import tempfile

    from pyspark.sql import functions as FF

    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.operators.multimodal import synthesize_media

    with tempfile.TemporaryDirectory() as d:
        synthesize_media(load_table(spark, SF_DIR, "documents")).write.mode(
            "overwrite"
        ).parquet(f"{d}/media")
        media = spark.read.parquet(f"{d}/media")
        q = media.select("media_id", FF.col("meta.width").alias("w"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan
        # payload (the big binary) must not appear in the read schema
        read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "payload" not in read_schema
        assert "width" in read_schema and "height" not in read_schema
        assert q.count() > 0


def test_langid_confusion_shares_sum_to_one(spark):
    out = all_queries.QUERIES["langid_confusion_matrix"](spark, SF_DIR).collect()
    from collections import defaultdict

    per_label = defaultdict(float)
    for r in out:
        assert r["n_docs"] > 0
        per_label[r["lang_label"]] += r["label_share"]
    for lab, total in per_label.items():
        assert abs(total - 1.0) < 1e-9, lab


def test_embedding_norm_audit_bounds(spark):
    out = all_queries.QUERIES["embedding_norm_audit"](spark, SF_DIR).collect()
    assert out
    for r in out:
        assert 0 <= r["min_norm"] <= r["mean_norm"] <= r["max_norm"]
        assert r["n_vecs"] > 0


def test_traffic_heatmap_covers_fact(spark):
    from movie_rankings_spark.catalog import load_table

    out = all_queries.QUERIES["traffic_dow_hour_heatmap"](spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in out) == total
    for r in out:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hour_of_day"] <= 23
