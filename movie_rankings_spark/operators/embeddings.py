"""Embedding storage transforms (SURVEY.md §2 [EXT], LLM-pipeline
tier): int8 quantization — the standard 4× shrink applied to vector
columns before they are written for ANN serving.

Everything here is pure JVM array arithmetic (``transform`` /
``aggregate`` / ``array_max`` higher-order functions inside
whole-stage codegen) — no UDF, no Python worker, no shuffle: a
quantization pass over 100 TB of vectors is a map-only scan that
AQE never needs to touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def quantize_int8(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) ∈ [-127, 127].

    Output keeps the quantized array plus the audit scalars a
    downstream exactness check needs: ``scale``, ``sum_q`` (integer
    checksum of the codes), and ``max_abs_err`` (worst per-dimension
    reconstruction error — bounded by scale/2 for a correct
    implementation, which the unit test pins). All-zero vectors get
    scale 0 and all-zero codes rather than a 0/0 NaN."""
    scaled = embeddings.select(
        "vec_id",
        F.col(vec_col).alias("emb"),
        (
            F.array_max(F.transform(vec_col, lambda x: F.abs(x))).cast("double")
            / F.lit(127.0)
        ).alias("scale"),
    )
    q = F.when(F.col("scale") == 0.0, F.transform("emb", lambda x: F.lit(0))).otherwise(
        F.transform(
            "emb", lambda x: F.round(x.cast("double") / F.col("scale")).cast("int")
        )
    )
    quantized = scaled.select("vec_id", "emb", "scale", q.alias("q"))
    err = F.array_max(
        F.zip_with(
            "emb",
            "q",
            lambda x, qi: F.abs(x.cast("double") - qi.cast("double") * F.col("scale")),
        )
    )
    return quantized.select(
        "vec_id",
        F.size("q").alias("n_dims"),
        "scale",
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, qi: acc + qi.cast("long")
        ).alias("sum_q"),
        err.alias("max_abs_err"),
        "q",
    )


def jl_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    seed: int = 13,
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: x → (R x) / √out_dim
    with R a seeded Gaussian matrix — the standard dimensionality
    reduction in front of ANN indexing and clustering (distances
    preserved within ε w.h.p.; the distortion bound is pinned in
    tests/test_warehouse_ops.py).

    Map-only Arrow pass (one GEMM per batch); R is out_dim × in_dim —
    KB-sized, it rides into the closure like a broadcast. Output keeps
    the audit scalars a downstream check needs: original and projected
    squared norms (their ratio is the per-vector distortion).
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_matrix = None
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if r_matrix is None:
                r_matrix = np.random.RandomState(seed).standard_normal(
                    (out_dim, mat.shape[1])
                ) / np.sqrt(out_dim)
            proj = mat @ r_matrix.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "proj": list(proj.astype(np.float32)),
                    "orig_norm_sq": (mat**2).sum(axis=1),
                    "proj_norm_sq": (proj**2).sum(axis=1),
                }
            )

    return embeddings.select("vec_id", vec_col).mapInPandas(
        project,
        "vec_id long, proj array<float>, orig_norm_sq double, proj_norm_sq double",
    )


def label_centroids(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Per-label mean embedding (the class prototype): exact decimal
    element sums / count, reassembled into an array<double> ordered by
    position. One explode-aggregate shuffle bounded by |labels|×dim
    rows; the |labels|-row result is driver-free (array_sort over
    collected (pos, value) structs — order-deterministic)."""
    el = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    sums = el.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast("double").cast("decimal(28,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sums.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            (F.col("s").cast("double") / F.col("n")).alias(
                                "m"
                            ),
                        )
                    )
                ),
                lambda st: st["m"],
            ).alias("centroid"),
            F.first("n").alias("n_members"),
        )
    )


def centroid_pairwise_cosine(centroids: DataFrame) -> DataFrame:
    """Pairwise cosine between label centroids (label_a < label_b) —
    the class-prototype confusion structure an embedding-quality audit
    reads (high inter-class cosine = labels the encoder cannot
    separate). Input is |labels| rows, so the self-join is trivially
    broadcast; the cosine uses the exact-decimal product sums from
    functions/vectors.py so values hash-match the SQL oracle."""
    from movie_rankings_spark.functions.vectors import NARROW, cosine_exact

    # both self-join sides read the centroid table — uncached, the
    # |labels|x dim explode-aggregate would run twice
    centroids = centroids.persist_tracked()
    a = centroids.select(
        F.col("label").alias("label_a"),
        F.col("centroid").alias("ca"),
        F.col("n_members").alias("n_a"),
    )
    b = centroids.select(
        F.col("label").alias("label_b"),
        F.col("centroid").alias("cb"),
        F.col("n_members").alias("n_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            cosine_exact(F.col("ca"), F.col("cb"), NARROW).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def rademacher_signs(
    seed: int, out_dim: int, in_dim: int
) -> list[list[int]]:
    """Deterministic Rademacher JL signs ±1 derived from md5(seed:k:i)
    parity — shared verbatim by the Spark plan and the SQL oracle, so
    the projection is reproducible across engines, sessions, and
    languages (Achlioptas 2003: ±1 entries satisfy the JL
    distance-preservation lemma with the same ε bound as Gaussians).
    The 1/√out_dim scale is applied once after the exact integer sum;
    out_dim a power of 4 keeps it exactly representable (1/√16 =
    0.25)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{k}:{i}".encode()).hexdigest()[-1], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def jl_rademacher_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    seed: int = 13,
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-exact JL projection: the Rademacher (±1) variant of
    jl_project over the q9-QUANTIZED embedding (each element →
    round(x·1e9) BIGINT — the corpuslaws fixed-point convention): the
    weighted sum is then EXACT INTEGER arithmetic with no decimal
    rounding anywhere, so every projected coordinate value-hashes
    against the SQL oracle. (A DECIMAL(28,12) product convention
    fails here: ±2^-k scaling lands dyadic float32 values exactly on
    decimal ties, where Spark's HALF_UP and DuckDB's half-even
    disagree — integers have no ties.) The numpy Gaussian path stays
    the 100 TB hot path; this variant pins semantics for audits.

    Map-only: no shuffle, no Python — a codegen'd higher-order
    expression per output coordinate, exploded to (vec_id, k, proj)
    rows; proj = (Σ q_i·s_i)/1e9 · (1/√out_dim) in one shared IEEE
    expression.
    """
    import math

    w = rademacher_signs(seed, out_dim, in_dim=64)
    scale = 1.0 / math.sqrt(out_dim)
    spark = embeddings.sparkSession

    # one (k, signs) row per output coordinate, broadcast onto the
    # quantized vectors: each result row evaluates ONE 64-element fold
    # — a single giant projection with out_dim folds blows past the
    # whole-stage-codegen JIT method limit and drops to interpreted
    # eval (the Poisson-bootstrap lesson; measured 4.1s -> see module
    # bench note), while this shape keeps every expression JIT-able.
    sign_rows = local_frame(
        spark,
        [(k, w[k]) for k in range(out_dim)], "k int, signs array<int>"
    )
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(1e9)).cast("long"),
    )
    quant = embeddings.select("vec_id", q.alias("_q"))
    total = F.aggregate(
        F.zip_with(
            F.col("_q"), F.col("signs"), lambda qi, s: qi * s.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return (
        quant.crossJoin(F.broadcast(sign_rows))
        .select(
            "vec_id",
            "k",
            ((total.cast("double") / F.lit(1e9)) * F.lit(scale)).alias(
                "proj"
            ),
        )
        .orderBy("vec_id", "k")
    )
