"""Deduplication operators over the documents table (north_star tier).

Five tiers, cheapest first — at 100 TB you run them in this order:
  1. exact       — md5-keyed groupBy; one shuffle of (hash, id) pairs.
  2. ngram       — exact n-gram Jaccard via shingle-inverted-index
                   join; quadratic in the worst case, used as the
                   verifier and the small-scale oracle.
  3. minhash+LSH — banded MinHash bucket join; candidates only, then
                   exact verification on the (tiny) candidate set.
                   This is the scale path: cost is O(docs × shingles)
                   for signatures + near-linear bucket join.
  4. simhash     — 48-bit fingerprints; hamming-ball candidates via
                   chunk buckets (pigeonhole), bit_count verification.
  5. embedding   — semantic near-dup on the embedding column: exact
                   all-pairs cosine (oracle path) and random-hyperplane
                   LSH bucketing + verification (scale path).

Tiers 1-4 are JVM-side: xxhash64 for hashing, higher-order array
functions for set math. No Python in any hot path; tier 5's LSH
signature step is an Arrow-batched numpy GEMM.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.functions.text import content_fingerprint, word_shingles
from movie_rankings_spark.functions.vectors import (
    NARROW,
    dot_exact,
    norm_sq_exact,
)

# --- 1. exact ---------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """One row per distinct content fingerprint: representative doc
    (min id) + duplicate count. The dedup'd corpus is the semi-join of
    documents against rep_doc_id."""
    return (
        docs.select(content_fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Documents with exact duplicates removed (first doc_id wins).
    Window form: one shuffle on the fingerprint, no second join."""
    w = Window.partitionBy(content_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- 2. exact n-gram Jaccard ------------------------------------------------


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct shingles per doc, pre-hashed to xxhash64 longs: every
    downstream join / array_intersect then moves 8-byte keys instead of
    ~25-byte strings (≈3× less shuffle volume, cheaper comparisons).
    Set sizes and intersection counts are preserved up to 64-bit hash
    collisions (~1e-8 over the corpus), so Jaccard values are unchanged
    and the string-shingle DuckDB oracle still matches."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(word_shingles(F.col("text"), n), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """All document pairs with n-gram Jaccard >= threshold, via an
    inverted-index equi-join on shingles.

    Scale: the shingle join explodes on frequent shingles — at 100 TB
    you first drop "stop shingles" (document frequency above a cap),
    which cannot push any true pair below threshold when the cap is
    chosen per Broder; here the corpus is synthetic word soup and the
    join is already balanced. Two exact prunings keep the pair set
    small before the aggregate: shingle keys are pre-hashed longs
    (shingle_sets) and the size-ratio filter drops pairs where
    min(n_a,n_b)/max(n_a,n_b) < threshold — an upper bound on Jaccard,
    so no qualifying pair is lost. Columns: doc_a, doc_b, jaccard."""
    sets = shingle_sets(docs, n)
    inv = sets.select(
        "doc_id", "n_shingles", F.explode("shingles").alias("shingle")
    ).persist_tracked()  # both join sides read it; avoids double shingling
    a = inv.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
        "shingle",
    )
    b = inv.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
        "shingle",
    )
    inter = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= threshold * F.col("n_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    jaccard = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_prefix_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT n-gram Jaccard join via prefix filtering (the AllPairs /
    PPJoin family, Bayardo et al. WWW'07) — same output contract as
    ``ngram_jaccard_pairs`` (doc_a, doc_b, jaccard ≥ threshold, no
    false negatives) but with a candidate set that stays near-linear
    at corpus scale instead of exploding on frequent shingles.

    How: order each doc's shingles globally by ascending document
    frequency (rarest first; ties on the hashed key). Any pair with
    Jaccard ≥ t must share a token inside each side's first
    ``|s| - floor(t·|s|) + 1`` tokens (one longer than the tight
    ceil-based prefix, so float rounding can only ADD candidates,
    never drop a true pair). The inverted index is built over
    prefixes only, and because df-ordering puts the RAREST tokens in
    the prefix, the join keys are low-frequency by construction —
    no hot-key skew, unlike the full inverted-index join whose worst
    keys are exactly the most frequent shingles. A per-token
    positional upper bound (PPJoin) prunes further before the exact
    ``array_intersect`` verification restores precision.

    Scale: 3 shuffles — df aggregate, prefix self-join (volume ≈
    (1-t) of the full index, rare keys only), verify join of the
    candidate pairs back to the shingle sets. Each is linear in its
    input; nothing is quadratic except the true-result size."""
    # sets is persisted too: the prefix index derives from it AND both
    # verify sides re-read the full shingle arrays — uncached, docs
    # would be re-shingled three times (scan audit showed 6 base scans).
    sets = shingle_sets(docs, n).filter(F.col("n_shingles") > 0).persist_tracked()
    inv = sets.select(
        "doc_id", "n_shingles", F.explode("shingles").alias("shingle")
    ).persist_tracked()  # read by the df aggregate and the prefix ranking
    df = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_shingles")
        - F.floor(F.lit(threshold) * F.col("n_shingles"))
        + F.lit(1)
    )
    prefix = (
        inv.join(df, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "n_shingles", "shingle", "rn")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("rn").alias("rn_a"),
        "shingle",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
        F.col("rn").alias("rn_b"),
        "shingle",
    )
    # Lenient PPJoin positional bound: overlap ≤ shared token + the
    # shorter remaining suffix; required overlap uses floor (≤ the
    # tight ceil), so the prune is safe under float arithmetic.
    ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
    )
    min_overlap = F.floor(
        F.lit(threshold) / (F.lit(1.0) + F.lit(threshold))
        * (F.col("n_a") + F.col("n_b"))
    )
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= threshold * F.col("n_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
            & (ubound >= min_overlap)
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    jaccard = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        verified.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- 3. MinHash + LSH -------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, shingle_n: int = 3
) -> DataFrame:
    """num_hashes MinHash values per doc in one aggregation pass:
    hash family = xxhash64(h, i) over the pre-hashed shingle key h
    (re-hashing the 8-byte long is ~3× cheaper per function than
    hashing the raw ~25-byte shingle string num_hashes times, and the
    family stays uniform). Output: doc_id, sig array."""
    return minhash_signatures_from_sets(shingle_sets(docs, shingle_n), num_hashes)


def minhash_signatures_from_sets(
    sets: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """Signatures from an existing shingle_sets table — the form the
    dedup pipelines use so a (persisted) sets table feeds BOTH the
    signature aggregation and the exact verification, and documents
    are shingled exactly once."""
    sh = sets.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("sig")
    )


def banded_buckets(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) — the LSH index rows. In production this
    is the table you PERSIST; every dedup run (self-join or
    incremental batch-vs-corpus) is an equi-join against it."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", j * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidates.
    The bucket join is an equi-join on (band, bucket_hash) — shuffle
    is proportional to docs × bands, never quadratic. The banded
    projection is persisted: Spark does not reuse exchanges across the
    a/b sides of a self-join, so without the cache the (expensive)
    signature aggregation upstream would execute twice."""
    banded = banded_buckets(signatures, bands, rows_per_band).persist_tracked()
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (array_intersect on
    the pair's shingle sets — no second inverted-index join). With
    16×4 banding, a pair at the 0.5 threshold is caught with
    p = 1-(1-0.5^4)^16 ≈ 0.64, and the planted near-dups (j≥0.95)
    with p ≈ 1-1e-18; verification makes precision exact."""
    rows = num_hashes // bands
    sets = shingle_sets(docs, shingle_n).persist_tracked()  # one shingling pass
    # feeds signatures AND both verify sides (no exchange reuse there)
    sigs = minhash_signatures_from_sets(sets, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows)
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def incremental_neardup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Daily-ingest dedup: near-dup pairs between a NEW batch and the
    EXISTING corpus — (batch_doc, corpus_doc, jaccard) — without ever
    joining the corpus against itself.

    The 100 TB shape: the corpus's banded bucket table
    (``banded_buckets``) is the stored index, appended to as batches
    commit; each run shuffles only batch×bands rows against it
    (bucket equi-join), then exact-Jaccard-verifies the candidate
    pairs. Cost scales with the batch, not the corpus — the property
    that makes continuous dedup affordable at all."""
    rows = num_hashes // bands
    c_sets = shingle_sets(corpus, shingle_n).persist_tracked()
    c_idx = banded_buckets(
        minhash_signatures_from_sets(c_sets, num_hashes), bands, rows
    )
    return incremental_pairs_against_index(
        batch, c_idx, c_sets, threshold, num_hashes, bands, shingle_n
    )


def incremental_pairs_against_index(
    batch: DataFrame,
    c_idx: DataFrame,
    c_sets: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The index-reuse form of ``incremental_neardup_pairs``: the
    corpus side arrives as its PERSISTED artifacts — the banded
    bucket table ``c_idx`` (doc_id, band, bucket) and the shingle-set
    table ``c_sets`` (doc_id, shingles, n_shingles), both written
    once when the corpus commits — so a run touches the corpus only
    through index lookups. This is the function the streaming ingest
    path calls per micro-batch."""
    rows = num_hashes // bands
    b_sets_full = shingle_sets(batch, shingle_n).persist_tracked()
    b_idx = banded_buckets(
        minhash_signatures_from_sets(b_sets_full, num_hashes), bands, rows
    )
    cands = (
        b_idx.select(F.col("doc_id").alias("batch_doc"), "band", "bucket")
        .join(
            c_idx.select(F.col("doc_id").alias("corpus_doc"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    b_sets = b_sets_full.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    c_sets = c_sets.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jaccard = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cands.join(b_sets, "batch_doc")
        .join(c_sets, "corpus_doc")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("batch_doc", "corpus_doc", "jaccard")
    )


# --- 4. SimHash -------------------------------------------------------------

SIMHASH_BITS = 48  # keeps the fingerprint a positive BIGINT


def simhash_fingerprints(docs: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """48-bit SimHash over whitespace tokens: per bit, sum ±1 across
    token hashes; the sign becomes the bit. One explode + one
    aggregation; 48 conditional sums stay in a single HashAggregate.

    ``hash_fn``: "md5" (default) takes the first 48 bits of
    md5(token) — engine-portable, so the fingerprints (and therefore
    the whole near-dup pair set) are reproducible in any engine and
    the registered query is exactly oracle-checkable. "xxhash64" is
    the faster engine-local alternative (same plan shape, cheaper
    per-token hash) when cross-engine reproducibility isn't needed."""
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b_{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select("doc_id", fingerprint.alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 6, hash_fn: str = "md5"
) -> DataFrame:
    """Hamming-ball pairs via pigeonhole chunking: split 48 bits into
    4 chunks of 12; any pair within hamming<=max_hamming<=... shares at
    least one exact chunk when max_hamming < 4, and chunk-equality is
    an equi-join. Verification = bit_count(xor) <= max_hamming."""
    fp = simhash_fingerprints(docs, hash_fn=hash_fn)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 12)
                        .bitwiseAND(F.lit((1 << 12) - 1))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val").persist_tracked()
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "chunk", "val"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "chunk", "val"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- 5. embedding-cosine ----------------------------------------------------


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_blocks: int = 32,
    prefilter_margin: float = 1e-9,
) -> DataFrame:
    """Exact all-pairs semantic near-dup: (vec_a, vec_b, cosine) for
    every pair at cosine >= threshold, with the exact-decimal cosine
    so the result hash-matches the DuckDB oracle.

    Execution (r4 rewrite): the naive theta join evaluated the
    interpreted higher-order dot product on ALL n²/2 pairs — measured
    352 s at sf0.1 (20k vectors). The pair SPACE is still O(n²) by
    definition, but the flops now run as a distributed BLOCK GEMM:

    1. each vector lands in one of ``n_blocks`` hash blocks; the
       bounded block-pair table (i ≤ j) keys a cogroup, so every
       unordered vector pair is examined in exactly one task;
    2. per block pair, one numpy float64 GEMM scores the rectangle
       (triangle when i = j) and keeps candidates at
       cosine ≥ threshold − margin — float64 dot error for short
       vectors is ~1e-13 relative, so a 1e-9 margin provably loses no
       qualifying pair;
    3. the CANDIDATES ONLY (near-dups + borderline) go through the
       exact decimal dot/norm rescore and the exact ≥ threshold
       filter — identical output to the old plan, ~100× faster.

    Scale: shuffle volume is n·√(pairs-per-task-budget)-ish — each
    block is replicated n_blocks times (n·n_blocks rows); work per
    task is (n/n_blocks)² GEMM flops. This is the classic distributed
    all-pairs decomposition; at 100 TB you still run
    embedding_lsh_pairs for candidates first and reserve this exact
    tier for verification or bounded partitions."""
    spark = embeddings.sparkSession
    blocks = embeddings.select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk")
    )
    bp = local_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int",
    )
    left = (
        blocks.alias("bl")
        .join(F.broadcast(bp.alias("pl")), F.col("bl.blk") == F.col("pl.ba"))
        .select(
            F.col("pl.ba").alias("ba"),
            F.col("pl.bb").alias("bb"),
            F.col("bl.vec_id").alias("vec_id"),
            F.col("bl.embedding").alias("embedding"),
        )
    )
    right = (
        blocks.alias("br")
        .join(F.broadcast(bp.alias("pr")), F.col("br.blk") == F.col("pr.bb"))
        .select(
            F.col("pr.ba").alias("ba"),
            F.col("pr.bb").alias("bb"),
            F.col("br.vec_id").alias("vec_id"),
            F.col("br.embedding").alias("embedding"),
        )
    )
    cut = threshold - prefilter_margin

    def gemm_block_pair(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        ma = np.array(lpdf["embedding"].tolist(), dtype=np.float64)
        mb = np.array(rpdf["embedding"].tolist(), dtype=np.float64)
        ids_a = lpdf["vec_id"].to_numpy(dtype=np.int64)
        ids_b = rpdf["vec_id"].to_numpy(dtype=np.int64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        cos = (ma @ mb.T) / np.outer(na, nb)
        ii, jj = np.nonzero(cos >= cut)
        a_ids, b_ids = ids_a[ii], ids_b[jj]
        if key[0] == key[1]:
            # diagonal block: both sides are the same set, every
            # unordered pair shows up twice (plus self-pairs) — keep
            # one orientation
            keep = a_ids < b_ids
            a_ids, b_ids = a_ids[keep], b_ids[keep]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a_ids, b_ids),
                "vec_b": np.maximum(a_ids, b_ids),
            }
        )

    cands = (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(gemm_block_pair, "vec_a long, vec_b long")
    )
    ea = embeddings.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.sqrt(norm_sq_exact(F.col("embedding"), NARROW)).alias("nrm_a"),
    )
    eb = embeddings.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.sqrt(norm_sq_exact(F.col("embedding"), NARROW)).alias("nrm_b"),
    )
    cosine = dot_exact(F.col("emb_a"), F.col("emb_b"), NARROW) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 7) -> np.ndarray:
    """Deterministic Gaussian hyperplane matrix (n_bits × dim)."""
    return np.random.RandomState(seed).standard_normal((n_bits, dim))


def embedding_lsh_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_bits: int = 64,
    bands: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH near-dup: signature
    bits sign(H·v) via one Arrow-batched GEMM per partition, then
    per-(band, bucket) float64 GEMM verification — only VERIFIED
    pairs ever hit a shuffle.

    Collision model: P(bit agrees) = 1 - theta/pi; with 16 bands of 4
    bits a pair at cosine 0.45 is caught w.p. ~0.95 and higher-cosine
    pairs approach 1. Output columns match embedding_cosine_pairs;
    recall (<1 by construction) is measured against it in tests.

    Execution (r4 rewrite, found by the sf1 decade bench): the old
    plan materialized every within-bucket candidate as a shuffled row
    (banded self-join → distinct → Arrow verify) — ~200 M rows at
    sf1, measured 317 s vs 4.2 s for the exact block GEMM. Candidates
    are now verified INSIDE each (band, bucket) cogroup: one
    applyInPandas task runs the same float64 cosine GEMM ≥ threshold
    filter over the bucket, so the only shuffled pair rows are
    verified near-dups (≤ bands copies each), deduped by one final
    groupBy. Same collision model, same pair set.

    Scale: shuffle volume is docs × bands banded rows (vector payload
    rides once per band) plus verified-pairs × ≤ bands; per-task work
    is Σ|bucket|² numpy flops — the inherent AND-OR LSH candidate
    cost, no longer paid as shuffled-row constants. At 100 TB grow
    rows_per_band so 2^r tracks n/target-occupancy and split any
    bucket above the occupancy cap on extra signature bits (bounded
    tasks, recall cost only inside oversized buckets). Note the
    benched 0.45-threshold workload is OUTPUT-bound at scale: on
    decorrelated synthetic vectors the qualifying-pair set itself
    grows ∝ n² (measured 145 pairs at sf0.1 → 16.8 k at sf1); real
    near-dup corpora run θ ≥ 0.85 where both index and output stay
    near-linear."""
    rows_per_band = n_bits // bands

    def sign_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None  # derived from the first batch's dim — same seed
        # on every partition, so all tasks agree without a driver job
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if planes is None:
                planes = _hyperplanes(mat.shape[1], n_bits, seed)
            bits = (mat @ planes.T) >= 0  # (batch, n_bits)
            out = []
            for j in range(bands):
                chunk = bits[:, j * rows_per_band : (j + 1) * rows_per_band]
                bucket = chunk @ (1 << np.arange(rows_per_band))
                out.append(
                    pd.DataFrame(
                        {
                            "band": np.full(len(pdf), j, dtype=np.int32),
                            "bucket": bucket.astype(np.int64),
                            "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                            "embedding": pdf["embedding"],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    banded = embeddings.select("vec_id", "embedding").mapInPandas(
        sign_bands, "band int, bucket long, vec_id long, embedding array<double>"
    )

    def bucket_verify(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = np.linalg.norm(mat, axis=1)
        cos = (mat @ mat.T) / np.outer(nrm, nrm)
        ii, jj = np.nonzero(np.triu(cos >= threshold, k=1))
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ids[ii], ids[jj]),
                "vec_b": np.maximum(ids[ii], ids[jj]),
                "cosine": cos[ii, jj],
            }
        )

    pairs = banded.groupBy("band", "bucket").applyInPandas(
        bucket_verify, "vec_a long, vec_b long, cosine double"
    )
    # a pair verifies in every band whose bucket it shares — one
    # deterministic representative (values differ only in final-ulp
    # GEMM rounding across bucket compositions)
    return pairs.groupBy("vec_a", "vec_b").agg(F.max("cosine").alias("cosine"))


def duplicated_substring_spans(
    docs: DataFrame, gram_len: int = 20
) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022
    "Deduplicating Training Data" substring pass, re-expressed
    relationally instead of via a suffix array): every character
    L-gram that occurs >= 2 times corpus-wide marks its start
    position; per document, marked positions whose L-gram windows
    overlap or touch (gap <= L) merge into MAXIMAL spans — the
    memorization-prone regions a substring-dedup pass clips.

    Output: (doc_id, span_start [1-based], span_end, span_len,
    n_grams) per maximal span.

    Scale: the L-gram explode is length(text) rows per doc (linear,
    like tokenization), and the duplicate mark is a COUNT WINDOW
    partitioned by gram — ONE shuffle of the gram table, no
    frequency-table self-join (the join form scans and shuffles the
    exploded table twice: measured 7.6 s vs 3.6 s at sf0.1) and no
    collect_list skew on pathological grams (window counts stream).
    At 100 TB the partition key becomes an 8-byte xxhash64 of the
    gram (collision-verified like MinHash candidates) so the shuffle
    carries fixed-width keys — the exact string key is kept here
    because it is the oracle-checkable form. Span merging is one
    per-doc window over the MARKED positions only (duplicated grams,
    a small fraction of the corpus)."""
    from pyspark.sql import Window

    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {gram_len} + 1, 0)),"
                f" i -> substring(text, i, {gram_len}))"
            )
        ).alias("idx0", "gram"),
    ).select("doc_id", (F.col("idx0") + 1).alias("pos"), "gram")

    wg = Window.partitionBy("gram")
    marked = (
        grams.withColumn("_n", F.count(F.lit(1)).over(wg))
        .filter(F.col("_n") >= 2)
        .select("doc_id", "pos")
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    with_break = marked.withColumn(
        "_new",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(0))
            > gram_len,
            1,
        ).otherwise(0),
    )
    spans = with_break.withColumn(
        "_span",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        spans.groupBy("doc_id", "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + gram_len - 1).alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_len"),
            "n_grams",
        )
        .orderBy("doc_id", "span_start")
    )


# --- 7. sorted-neighborhood blocking ----------------------------------------


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    key_len: int = 24,
    n_buckets: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo 1995): sort the
    corpus by a blocking key (normalized text prefix), compare each
    document only against the ``window`` that follow it in key order,
    keep pairs whose exact 3-gram Jaccard >= ``threshold``.

    The record-linkage classic that complements the LSH tiers: where
    MinHash buckets by CONTENT sketch, sorted-neighborhood exploits an
    EXTERNALLY meaningful order (near-duplicate records sort together
    under a well-chosen key), costs exactly |docs|·window comparisons
    — no bucket-size variance at all — and misses only pairs whose
    keys diverge (the known failure mode; production runs multi-pass
    with several keys).

    Plan shape — the global sort WITHOUT a global window:

    1. ``repartitionByRange(key, doc_id)`` range-partitions the corpus
       (sampled bounds, skew-resistant — the "explicit range partition
       whose bounds we control" from shuffle_deterministic's note);
    2. per-partition ``row_number`` + a |partitions|-row offset table
       (bounded collect, the zipWithIndex two-pass) yields the exact
       global rank in (key, doc_id) order — positions are the RANK, so
       the output does not depend on where the sampled bounds landed;
    3. neighbor candidates via a BAND JOIN on floor(pos/window): each
       row joins only its own and the next band (2 bounded probes),
       then the exact |Δpos| <= window filter — never a corpus²
       comparison;
    4. verify: exact Jaccard on pre-hashed shingle sets
       (array_intersect on xxhash64 longs, the shingle_sets contract).

    At 100 TB: one range shuffle + one band-key equi-join, both on
    (key-prefix, position) — no skew (positions are unique), no
    Python. Output: doc_lo < doc_hi, jaccard, ordered."""
    spark = docs.sparkSession
    n = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = F.substring(
        F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")), 1, key_len
    )
    keyed = docs.select("doc_id", key.alias("_key")).repartitionByRange(
        n, F.col("_key"), F.col("doc_id")
    )
    # persisted: the counts pass and the numbering pass MUST see the
    # same sampled range bounds (recomputing repartitionByRange twice
    # is deterministic on identical input, but pinning it is free)
    part = keyed.withColumn("_pid", F.spark_partition_id()).persist_tracked()
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, running = [], 0
    for p in range(n):
        offsets.append((p, running))
        running += counts.get(p, 0)
    off = local_frame(spark, offsets, "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(F.asc("_key"), F.asc("doc_id"))
    pos = (
        part.withColumn("_local", F.row_number().over(w))
        .join(F.broadcast(off), "_pid")
        .select("doc_id", (F.col("_offset") + F.col("_local")).alias("pos"))
    )
    sets = shingle_sets(docs).join(pos, "doc_id")
    a = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
        F.col("pos").alias("pos_a"),
        F.floor((F.col("pos") - 1) / window).alias("_band"),
    )
    cands = None
    for shift in (0, 1):
        b = sets.select(
            F.col("doc_id").alias("id_b"),
            F.col("shingles").alias("sh_b"),
            F.col("n_shingles").alias("n_b"),
            F.col("pos").alias("pos_b"),
            (F.floor((F.col("pos") - 1) / window) - shift).alias("_band"),
        )
        c = a.join(b, "_band").filter(
            (F.col("pos_b") - F.col("pos_a") >= 1)
            & (F.col("pos_b") - F.col("pos_a") <= window)
        )
        cands = c if cands is None else cands.unionByName(c)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.col("n_a") + F.col("n_b") - inter
    ).cast("double")
    return (
        cands.select(
            F.least("id_a", "id_b").alias("doc_lo"),
            F.greatest("id_a", "id_b").alias("doc_hi"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_lo", "doc_hi")
    )


def sorted_neighborhood_oracle_sql(
    shingles_sql: str,
    window: int = 10,
    threshold: float = 0.5,
    key_len: int = 24,
    table: str = "documents",
) -> str:
    """DuckDB twin: the same (key, doc_id) rank via ROW_NUMBER (the
    oracle may use the global window Spark avoids), same window-of-
    ``window`` candidates, same exact Jaccard threshold."""
    return rf"""
WITH ordered AS (
  SELECT doc_id, {shingles_sql} AS sh,
         ROW_NUMBER() OVER (
           ORDER BY substr(lower(regexp_replace(text, '\s+', ' ', 'g')),
                           1, {key_len}) ASC, doc_id ASC
         ) AS pos
  FROM {table}
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) AS n_a, len(b.sh) AS n_b
  FROM ordered a JOIN ordered b
    ON b.pos - a.pos BETWEEN 1 AND {window}
)
SELECT least(id_a, id_b) AS doc_lo, greatest(id_a, id_b) AS doc_hi,
       CAST(i AS DOUBLE) / (n_a + n_b - i) AS jaccard
FROM cand
WHERE CAST(i AS DOUBLE) / (n_a + n_b - i) >= {threshold}
ORDER BY doc_lo, doc_hi
"""


def contrastive_triplets(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    neg_buckets_hex: int = 2,
) -> DataFrame:
    """Contrastive (anchor, positive, negative) triplet mining for
    embedding/training pipelines: positives are EXACT near-duplicates
    (the prefix-filtered n-gram Jaccard join — no false negatives),
    negatives are deterministic hash-neighbors — the standard
    supervision triple for contrastive fine-tuning, mined entirely
    in-engine.

    Selection:
      * anchor = every doc with ≥ 1 Jaccard-≥ t partner;
      * positive = the partner with the HIGHEST jaccard (ties → the
        smallest partner id) — symmetric pairs counted from both
        ends, so both members of a dup pair become anchors;
      * negative = the next doc in md5(doc_id) ring order within the
        doc's md5-prefix bucket (wrapping to the bucket's first) — a
        uniform "random but deterministic" draw; rows where the draw
        collides with the anchor or its positive are dropped
        (measure-zero, engine-identical).

    Shape: the positive side is jaccard_prefix_pairs (its near-linear
    candidate contract); the negative side is ONE column-pruned doc
    pass with a lead/first window PARTITIONED by the 16^``hex`` md5
    prefix buckets (bucket count is the scale knob: 2 hex chars = 256
    sorted partitions here; at 100 TB raise to 4–5 chars so each
    bucket sort stays executor-sized — never a global sort).

    Exactness: jaccard is the exact pairs join's output; argmax and
    ring-neighbor are deterministic integer/string comparisons ⇒
    value-hash exact.

    Output: anchor_doc, positive_doc, jaccard_pos, negative_doc —
    ordered by anchor_doc.
    """
    from pyspark.sql import Window

    pairs = jaccard_prefix_pairs(docs, n=n, threshold=threshold)
    both = pairs.select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("partner"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("anchor"),
            F.col("doc_a").alias("partner"),
            "jaccard",
        )
    )
    pos = (
        both.groupBy("anchor")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard").alias("j"),
                    (-F.col("partner")).alias("_np"),
                )
            ).alias("_m")
        )
        .select(
            "anchor",
            (-F.col("_m._np")).cast("long").alias("positive_doc"),
            F.col("_m.j").alias("jaccard_pos"),
        )
    )
    h = F.md5(F.col("doc_id").cast("string"))
    ring = docs.select(
        F.col("doc_id").cast("long").alias("d"),
        h.alias("h"),
        F.substring(h, 1, neg_buckets_hex).alias("b"),
    )
    w = Window.partitionBy("b").orderBy("h", "d")
    wf = Window.partitionBy("b").orderBy("h", "d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    neg = ring.select(
        F.col("d").alias("anchor"),
        F.coalesce(
            F.lead("d", 1).over(w), F.first("d").over(wf)
        ).alias("negative_doc"),
    )
    return (
        pos.join(neg, "anchor")
        .filter(
            (F.col("negative_doc") != F.col("anchor"))
            & (F.col("negative_doc") != F.col("positive_doc"))
        )
        .select(
            F.col("anchor").alias("anchor_doc"),
            "positive_doc",
            "jaccard_pos",
            "negative_doc",
        )
        .orderBy("anchor_doc")
    )
