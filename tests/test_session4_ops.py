"""Round-3 session-4 operators: column profiling, k-anonymity,
classifier calibration, temperature-mix sampling, quality-aware
near-dup collapse, BPE encode, streaming leaderboard."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from movie_rankings_spark.plans import all_queries
from tests.conftest import SF_DIR


def _q(name, spark, sf_dir=SF_DIR):
    return all_queries.QUERIES[name](spark, sf_dir)


# --- column_profile ---------------------------------------------------------


def test_column_profile_counts_nulls_and_ndv(spark):
    from movie_rankings_spark.operators.profiling import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b"), (3, "c")],
        "k long, s string",
    )
    rows = {
        r["column"]: r
        for r in column_profile(
            df, {"k": lambda c: c, "s": lambda c: c}
        ).collect()
    }
    assert rows["k"]["n_rows"] == 5
    assert rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_value"] == "1" and rows["k"]["max_value"] == "3"
    assert rows["s"]["n_nulls"] == 1
    assert rows["s"]["n_distinct"] == 3
    assert rows["s"]["min_value"] == "a" and rows["s"]["max_value"] == "c"


def test_column_profile_plan_shape(spark):
    """Two column-pruned scans (stats pass + NDV pass), hash
    aggregates for the NDV path, and no Expand-based multi-distinct
    (which would sort-aggregate an (N+1)x row multiply)."""
    from movie_rankings_spark.operators.profiling import column_profile
    from movie_rankings_spark.catalog import load_table

    df = load_table(spark, SF_DIR, "orders")
    plan = column_profile(
        df, {"o_orderkey": lambda c: c, "o_orderstatus": lambda c: c}
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_column_profile_approx_one_scan(spark):
    """exact=False (r4): HLL NDV folded into pass 1 — exactly ONE
    scan, no Expand, same schema, NDV within 5% of exact."""
    from movie_rankings_spark.operators.profiling import column_profile
    from movie_rankings_spark.catalog import load_table

    df = load_table(spark, SF_DIR, "orders")
    renders = {"o_orderkey": lambda c: c, "o_orderstatus": lambda c: c}
    approx = column_profile(df, renders, exact=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan

    exact = {r["column"]: r for r in column_profile(df, renders).collect()}
    got = {r["column"]: r for r in approx.collect()}
    assert list(got) == list(exact)
    for c, e in exact.items():
        a = got[c]
        assert a.asDict().keys() == e.asDict().keys()
        assert (a["n_rows"], a["n_nulls"], a["min_value"], a["max_value"]) == (
            e["n_rows"], e["n_nulls"], e["min_value"], e["max_value"],
        )
        # default HLL rsd is 0.05 (1 sd) — gate at 3 sd
        assert abs(a["n_distinct"] - e["n_distinct"]) <= 0.15 * max(
            e["n_distinct"], 1
        )


# --- k-anonymity ------------------------------------------------------------


def test_kanonymity_shares_and_bounds(spark):
    rows = _q("kanonymity_customers", spark).collect()
    assert rows  # at least one segment
    for r in rows:
        assert 0.0 <= r["risky_share"] <= 1.0
        assert r["n_risky_groups"] <= r["n_groups"]
        assert r["min_group_size"] >= 1
        if r["n_risky_groups"] == 0:
            assert r["n_risky_rows"] == 0 and r["risky_share"] == 0.0


# --- classifier calibration -------------------------------------------------


def test_calibration_bins_partition_corpus(spark):
    from movie_rankings_spark.catalog import load_table

    out = _q("classifier_calibration_bins", spark)
    total_docs = load_table(spark, SF_DIR, "documents").count()
    agg = out.agg(
        F.sum("n_docs").alias("nd"), F.sum("n_pos").alias("np")
    ).first()
    assert agg["nd"] == total_docs  # every doc scores into exactly one bin
    for r in out.collect():
        assert 0.0 <= r["pos_rate"] <= 1.0
        assert r["n_pos"] <= r["n_docs"]
        # the bin's mean score must lie inside the bin's bounds
        assert 5.0 * r["score_bin"] <= r["avg_score"] < 5.0 * (r["score_bin"] + 1)


# --- temperature mix --------------------------------------------------------


def test_mix_temperature_rates(spark):
    rows = _q("mix_temperature_sampling", spark).collect()
    by_n = sorted(rows, key=lambda r: r["n_docs"])
    assert by_n[0]["keep_rate"] == 1.0  # rarest language keeps everything
    for r in rows:
        assert 0.0 < r["keep_rate"] <= 1.0
        assert r["n_kept"] <= r["n_docs"]
    # rate is monotone non-increasing in language frequency
    rates = [r["keep_rate"] for r in by_n]
    assert rates == sorted(rates, reverse=True)
    # sqrt-temperature identity: rate = sqrt(n_min / n)
    n_min = by_n[0]["n_docs"]
    for r in rows:
        assert abs(r["keep_rate"] - (n_min / r["n_docs"]) ** 0.5) < 1e-12


# --- quality-aware near-dup collapse ----------------------------------------


def test_keep_best_picks_max_quality_member(spark):
    from movie_rankings_spark.catalog import load_table
    from movie_rankings_spark.functions.text import quality_score
    from movie_rankings_spark.operators import dedup
    from movie_rankings_spark.operators.components import connected_components

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.minhash_neardup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=16
    )
    labels = connected_components(pairs)
    q = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("q")
        ).collect()
    }
    members: dict[int, list[int]] = {}
    for r in labels.collect():
        members.setdefault(r["component"], []).append(r["node"])

    got = {
        r["keep_doc_id"]: (r["n_members"], r["quality"])
        for r in _q("dedup_cluster_keep_best", spark).collect()
    }
    assert len(got) == len(members)
    for comp, nodes in members.items():
        best = min(nodes, key=lambda d: (-q[d], d))
        assert best in got
        n_members, quality = got[best]
        assert n_members == len(nodes)
        assert quality == q[best]


# --- BPE encode -------------------------------------------------------------


def _ref_bpe_token_counts(texts: list[str], n_merges: int) -> list[int]:
    """Single-node reference: train greedy BPE then encode each doc."""
    freq = Counter(w for t in texts for w in t.split(" "))
    vocab = {w: list(w) for w in freq}
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (left, right), _n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, syms in vocab.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            vocab[w] = out
    return [sum(len(vocab[w]) for w in t.split(" ")) for t in texts]


def test_bpe_encode_matches_reference(spark):
    from movie_rankings_spark.operators.tokenizer import bpe_encode_token_counts

    texts = [
        "the cat sat on the mat",
        "the cats sat there",
        "banana bandana the anthem",
        "aaa aaab abab the band",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode_token_counts(df, n_merges=6).collect()
    }
    want = _ref_bpe_token_counts(texts, 6)
    for i, t in enumerate(texts):
        assert got[i] == (len(t.split(" ")), want[i])


def test_bpe_encode_zero_merges_is_char_count(spark):
    from movie_rankings_spark.operators.tokenizer import bpe_encode_token_counts

    df = spark.createDataFrame([(7, "ab cde")], "doc_id long, text string")
    r = bpe_encode_token_counts(df, n_merges=0).first()
    assert (r["n_words"], r["n_bpe_tokens"]) == (2, 5)


# --- streaming leaderboard --------------------------------------------------


def test_stream_running_topk_matches_batch(spark):
    from movie_rankings_spark.catalog import load_table

    got = [
        (r["user_id"], r["n_events"], r["total_value"])
        for r in _q("stream_running_topk_users", spark).collect()
    ]
    want = [
        (r["user_id"], r["n_events"], r["total_value"])
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
        .collect()
    ]
    assert got == want


def test_profile_columns_orders_approx_registered_gate(spark):
    """r6 form: the registered query now carries the HLL-vs-exact
    bound IN-QUERY as ndv_in_bound (the DuckDB oracle asserts it as
    literal TRUE — see _PROFILE_APPROX_ORACLE); here we assert the
    booleans hold and the exact fields match an independent DuckDB
    computation, keeping a non-oracle witness of the same contract."""
    import duckdb

    from movie_rankings_spark.plans import all_queries

    got = {
        r["column"]: r
        for r in all_queries.QUERIES["profile_columns_orders_approx"](
            spark, SF_DIR
        ).collect()
    }
    con = duckdb.connect()
    for col in got:
        n_rows, n_nulls = con.execute(
            f"""SELECT COUNT(*), COUNT(*) - COUNT({col})
                FROM '{SF_DIR}/orders.parquet'"""
        ).fetchone()
        a = got[col]
        assert (a["n_rows"], a["n_nulls"]) == (n_rows, n_nulls), col
        assert a["ndv_in_bound"] is True, col
