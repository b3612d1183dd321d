"""Benchmark decontamination — remove training documents that overlap
an evaluation/benchmark set (the Dolma/FineWeb n-gram blocklist step).

Shape: the benchmark side is tiny (eval suites are KBs; the corpus is
TBs), so its distinct shingles BROADCAST and the contamination probe
is a map-side hash lookup — the 100 TB corpus never shuffles. Only
the per-doc hit counts (bounded by contaminated docs, not corpus
size) pass through an aggregation; clean output is a left-anti join
against that small hit set.

Real deployments hash the shingles (8-byte xxhash64) and use 8-13
word n-grams; shingle length is a parameter here and hashing would
only change the broadcast payload, not the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import word_shingles


def _distinct_shingles(docs: DataFrame, n: int, out: str) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias(out),
    )


def contamination_report(
    docs: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, n_hits): documents sharing >= 1 distinct n-gram with
    the benchmark set, with the count of distinct shared shingles.
    Benchmark shingles broadcast; corpus rows never shuffle."""
    bench = (
        benchmark.select(F.explode(word_shingles(F.col("text"), n)).alias("sh"))
        .distinct()
    )
    return (
        _distinct_shingles(docs, n, "sh")
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 3) -> DataFrame:
    """The corpus minus contaminated documents."""
    hits = contamination_report(docs, benchmark, n=n)
    return docs.join(hits.select("doc_id"), "doc_id", "left_anti")


def _bloom_positions(col, m: int, k: int):
    """The k bit positions of a key: pmod(xxhash64(key, seed), m) —
    evaluated identically at build and probe time, all codegen."""
    return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]


def build_bloom_bits(keys: DataFrame, col: str, m: int, k: int) -> list[int]:
    """Bloom bit array (m bits as m/64 signed longs) over a SMALL key
    set. The set-bit positions are computed distributed (the same
    xxhash64 exprs the probe uses) and only the ≤ k·|keys| distinct
    positions come to the driver — bounded by the tiny side, which is
    the premise of any broadcast sketch. At larger build sides you'd
    fold the bit array with treeAggregate; the probe is unchanged."""
    pos = (
        keys.select(
            F.explode(F.array(*_bloom_positions(F.col(col), m, k))).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = [0] * ((m + 63) // 64)
    for r in pos:
        bits[r["p"] // 64] |= 1 << (r["p"] % 64)
    return [b - (1 << 64) if b >= (1 << 63) else b for b in bits]


def _bloom_might_contain_sql(bits_col: str, key_col: str, m: int, k: int):
    """AND over the k bit tests — true for every inserted key (no
    false negatives), true for a false-positive fraction ≈ (set/m)^k
    of others. Spelled as a SQL expression because the Python
    shiftright wrapper only takes a constant shift; positions are
    non-negative, so int division == floor."""
    tests = []
    for i in range(k):
        p = f"pmod(xxhash64({key_col}, {i}), {m})"
        word = f"element_at({bits_col}, cast({p} / 64 AS INT) + 1)"
        tests.append(f"(shiftright({word}, cast({p} % 64 AS INT)) & 1) = 1")
    return F.expr(" AND ".join(tests))


def contamination_report_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    num_bits: int = 400_000,
    num_hashes: int = 5,
) -> DataFrame:
    """Same output as ``contamination_report`` (exact — no false
    negatives, no false positives) but the corpus-side probe is a
    BLOOM FILTER, for when the benchmark shingle set outgrows an
    exact broadcast hash set (many suites × 13-grams, or blocklists
    of URLs/domains in the billions): ~8-10 bits/entry instead of
    ~25 bytes/entry, a 20× smaller broadcast. Built in pure codegen
    (xxhash64 k-probe against a literal bit array — Spark's
    bloom_filter_agg/might_contain pair is optimizer-internal, not a
    public SQL function, so the bit math is spelled out).

    Plan: bit array from the benchmark shingles → literal broadcast →
    k bit-tests prune corpus shingles map-side → the surviving
    candidates (true hits + FP noise ≈ (bits set/m)^k) are verified
    with the exact equi-join, which removes every false positive. At
    100 TB the verify join shuffles candidates only, never the
    corpus."""
    bench = (
        benchmark.select(F.explode(word_shingles(F.col("text"), n)).alias("sh"))
        .distinct()
    )
    # The bit array rides a broadcast 1-row DataFrame, NOT a plan
    # literal: a CreateArray of ~6k literals inflates the generated
    # code past JIT limits (measured ~4× slower whole-stage fallback).
    bits = build_bloom_bits(bench, "sh", num_bits, num_hashes)
    bits_df = local_frame(docs.sparkSession, [(bits,)], "_bf array<bigint>")
    cand = (
        _distinct_shingles(docs, n, "sh")
        .crossJoin(F.broadcast(bits_df))
        .filter(_bloom_might_contain_sql("_bf", "sh", num_bits, num_hashes))
        .drop("_bf")
    )
    return (
        cand.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
