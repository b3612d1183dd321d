"""Distributed covariance matrix + PCA over the embeddings table
(SURVEY.md §2 [EXT] embedding-transform tier, next to int8
quantization and the JL projection in operators/embeddings.py).

The training-pipeline use: estimate the d×d second-moment structure
of an embedding corpus (whitening, PCA compression, drift checks)
without ever materializing an n×d matrix in one place.

Two paths, same contract as the similarity tier:

* EXACT path (oracle-checked): posexplode each vector once, self-join
  on vec_id with j ≥ i, one shuffle keyed on the (i, j) cell, partial
  aggregation map-side, n·d(d+1)/2 rows through it. Values are
  floor-quantized to the 2⁻³⁰ integer grid FIRST: float32 inputs
  regularly land on exact decimal rounding midpoints (observed:
  0.1983642578125 — a short binary expansion IS a decimal ...5), so
  the DECIMAL(28,12) convention of functions/vectors.py hits the
  HALF_UP-vs-half-even divergence here; floor is tie-free, every
  later reduction is a scale-0 decimal (single correctly-rounded
  double cast), and the 2⁻⁶⁰ unscale is one exact-power-of-two
  division. The ~2⁻³⁰ quantization is documented operator semantics
  (precedent: time_decayed_score's micro-units).
* GEMM path (the 100 TB hot path): mapInPandas computes a PER-BATCH
  d×d partial Gram with one numpy matmul, emitting d(d+1)/2 upper
  cells per batch; the final reduce sums partitions × d² tiny rows.
  Float summation order makes it approximate at the ulp — tests pin
  it to the exact path within 1e-9.

PCA itself: the d×d covariance is broadcast-scale BY CONSTRUCTION
(d ≤ a few thousand), so eigendecomposition happens driver-side on
the collected matrix — the same justified-tiny-collect as the
similarity tier's query vectors — and the projection back over the
corpus is one Arrow-batched matmul. Components get a deterministic
sign convention (largest-|loading| coordinate positive) so results
don't flip run-to-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame

_DEC = "decimal(28,12)"


#: 2^30 — the tie-free quantization grid for the exact path
_Q = 1073741824.0
#: 2^60 — unscale factor for quantized second moments
_Q2 = 1152921504606846976.0


def covariance_cells_exact(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Upper-triangle covariance cells (i ≤ j) of the 2⁻³⁰-quantized
    corpus: cov = (E[qi·qj] − E[qi]E[qj]) / 2⁶⁰ — integer reductions,
    shared double formula (the corr_price_quantity contract,
    generalized to d(d+1)/2 cells on a tie-free grid)."""
    flat = emb.select(
        F.col("vec_id"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * _Q).cast("long").alias("q"),
    )
    a, b = flat.alias("a"), flat.alias("b")
    pairs = a.join(
        b,
        (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")),
    ).select(
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        (F.col("a.q").cast("decimal(19,0)") * F.col("b.q"))
        .cast("decimal(38,0)")
        .alias("xy"),
    )
    cells = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xy").cast("double").alias("sxy"),
    )
    dims = flat.groupBy("i").agg(
        F.sum(F.col("q").cast("decimal(19,0)")).cast("double").alias("sx")
    )
    out = (
        cells.join(F.broadcast(dims.withColumnRenamed("i", "di")), F.col("i") == F.col("di"))
        .withColumnRenamed("sx", "si")
        .drop("di")
        .join(F.broadcast(dims.withColumnRenamed("i", "dj")), F.col("j") == F.col("dj"))
        .withColumnRenamed("sx", "sj")
        .drop("dj")
    )
    n = F.col("n").cast("double")
    cov = (F.col("sxy") / n - (F.col("si") / n) * (F.col("sj") / n)) / _Q2
    return out.select("i", "j", "n", cov.alias("cov"))


def covariance_cells_gemm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-batch numpy Gram partials → tiny final sum. The scale path:
    shuffle volume is partitions × d(d+1)/2 cells, independent of n."""

    def partial(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            g = m.T @ m
            s = m.sum(axis=0)
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu,
                    "j": ju,
                    "n_part": np.full(iu.shape, m.shape[0], dtype=np.int64),
                    "sxy_part": g[iu, ju],
                    "si_part": s[iu],
                    "sj_part": s[ju],
                }
            )

    parts = emb.select(vec_col).mapInPandas(
        partial,
        "i int, j int, n_part long, sxy_part double, si_part double, sj_part double",
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("n_part").alias("n"),
        F.sum("sxy_part").alias("sxy"),
        F.sum("si_part").alias("si"),
        F.sum("sj_part").alias("sj"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("si") / n) * (F.col("sj") / n)
    return agg.select("i", "j", "n", cov.alias("cov"))


def _cov_matrix(cells) -> np.ndarray:
    d = max(r["j"] for r in cells) + 1
    m = np.zeros((d, d))
    for r in cells:
        m[r["i"], r["j"]] = r["cov"]
        m[r["j"], r["i"]] = r["cov"]
    return m


def pca_components(emb: DataFrame, k: int = 4, vec_col: str = "embedding"):
    """(components ndarray [k, d], explained_variance_ratio [k]) from
    the GEMM covariance. The d×d collect is broadcast-scale by
    construction; eigh on a symmetric matrix is deterministic on a
    given BLAS. Sign convention: per component, the largest-|loading|
    coordinate is made positive."""
    cells = covariance_cells_gemm(emb, vec_col).collect()
    cov = _cov_matrix(cells)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    for c in comps:
        peak = np.argmax(np.abs(c))
        if c[peak] < 0:
            c *= -1.0
    ratio = vals[order] / vals.sum()
    return comps, ratio


# --- exact power-iteration PCA (r10): engine-portable twin ----------------
#
# pca_project above is the float throughput path: LAPACK eigh makes its
# eigenvectors BLAS-specific, so it can never value-hash against another
# engine. This twin quantizes the ENTIRE algorithm onto integer grids so
# every step — scatter matrix, matrix normalization, power-iteration
# matvecs, iterate renormalization, sign fix, Hotelling deflation, and
# the corpus projection — is exact integer arithmetic that unrolls into
# a DuckDB twin (the logreg_train_fixedpoint / kmeans_centroids_exact
# precedent, operators/mlgd.py / operators/similarity.py):
#
#   * features: q = floor(x · 2³⁰) per coordinate (the tie-free grid of
#     covariance_cells_exact above);
#   * scatter matrix: S = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ (= n²·Cov(q), PSD), exact
#     integer sums — DECIMAL(38,0) in Spark, HUGEINT in DuckDB;
#   * normalization: T = floor(S·2³⁰ / max|S|) — bounds every later
#     product inside int128 regardless of corpus size;
#   * power iteration: w = T·v; v ← floor(w·2¹⁸ / max|w|), a fixed
#     iteration count, start vector v⁰ᵢ = 2¹⁸ − i (deterministic,
#     symmetry-breaking);
#   * sign fix: the largest-|v| coordinate (smallest index on ties) is
#     made positive;
#   * deflation: T ← T − floor(floor(λnum·v_a/λden)·v_b/λden) with
#     (a, b) = (min(i,j), max(i,j)) so the update stays symmetric,
#     λnum = vᵀTv, λden = vᵀv — two-stage division keeps every
#     intermediate under int128;
#   * projection: pcᶜ = Σᵢ qᵢ·vᶜᵢ, an exact integer < 2⁶³.
#
# All Python divisions are `//` on positive divisors (floor); the SQL
# twin reproduces floor on signed dividends with the +K·D shift
# (floor((a + K·D)/D) − K == floor(a/D) for D > 0 — Spark `div` and
# DuckDB `//` truncate, so the shift makes truncation and floor agree).
# Driver state is the d×d cell table — bounded by the embedding
# dimension, never by the corpus (the same justified tiny collect as
# the k-means codebook); the corpus is touched by exactly two shuffles
# (scatter cells, projection) over a persisted posexploded frame.

#: iterate grid 2^18 — sized so the deflation's K-shifted dividends
#: stay inside int128 (see the bound notes in pca_power_oracle_sql)
_GRID = 262144
#: +K·D shift multiples for the SQL twin's floor divisions
_K_T = 2**31  # T normalization: |S·2³⁰| < 2³¹·max|S|
_K_V = 2**19  # iterate renorm: |w·2¹⁸| < 2¹⁹·max|w|
_K_D1 = 2**61  # deflation stage 1: |λnum·v| / λden < 2⁶¹
_K_D2 = 2**43  # deflation stage 2: |stage1·v| / λden < 2⁴³


def scatter_cells_exact(emb: DataFrame, vec_col: str = "embedding"):
    """(flat, cells, dims): the persisted posexploded 2³⁰-grid frame,
    upper-triangle Σqᵢqⱼ product cells, and per-dimension Σqᵢ sums —
    one (i,j)-keyed shuffle of n·d(d+1)/2 rows with map-side combine,
    one d-row dimension sum. cells/dims are d-bounded (d(d+1)/2 and d
    rows); flat is returned so the projection pass reuses the cache."""
    flat = emb.select(
        F.col("vec_id"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * _Q).cast("long").alias("q"),
    )
    flat = flat.persist_tracked()
    a, b = flat.alias("a"), flat.alias("b")
    cells = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .select(
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            (F.col("a.q").cast("decimal(19,0)") * F.col("b.q"))
            .cast("decimal(38,0)")
            .alias("xy"),
        )
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("sxy"))
    )
    dims = flat.groupBy("i").agg(
        F.sum(F.col("q").cast("decimal(19,0)")).cast("decimal(38,0)").alias("s")
    )
    return flat, cells, dims


def _power_components(
    scatter: list[list[int]], k: int, iters: int, squarings: int = 6
) -> list[list[int]]:
    """Exact integer power iteration with deflation over the full d×d
    scatter matrix (Python ints == the oracle's HUGEINT, but unbounded
    so overflow is impossible driver-side; the grid constants keep the
    SQL twin inside int128).

    ``squarings`` spectral-gap amplification rounds PER COMPONENT: the
    component's base matrix is squared-and-renormalized (T ←
    floor(T·T·2³⁰ / max|T·T|)) before its matvec rounds — eigenvectors
    are unchanged (T is PSD), eigenvalue ratios are powered by
    2^squarings, so near-degenerate spectra (the embeddings corpus
    measures λ₂/λ₁ ≈ 0.99) converge in a fixed small iteration count
    that a SQL unroll can afford. The squaring is per component — and
    deflation happens on the UNSQUARED base — because a separated
    spectrum runs the other way: (λ₂/λ₁)^64 underflows the integer
    grid, so a once-squared matrix would lose every later component."""
    d = len(scatter)
    max_s = max((abs(c) for row in scatter for c in row), default=0) or 1
    t = [[(scatter[i][j] * _Q_INT) // max_s for j in range(d)] for i in range(d)]
    comps: list[list[int]] = []
    for c in range(k):
        tq = t
        for _ in range(squarings):
            p = [
                [sum(tq[i][x] * tq[x][j] for x in range(d)) for j in range(d)]
                for i in range(d)
            ]
            max_p = max((abs(x) for row in p for x in row), default=0) or 1
            tq = [
                [(p[i][j] * _Q_INT) // max_p for j in range(d)] for i in range(d)
            ]
        v = [_GRID - i for i in range(d)]
        for _ in range(iters):
            w = [sum(tq[i][j] * v[j] for j in range(d)) for i in range(d)]
            m = max((abs(x) for x in w), default=0) or 1
            v = [(x * _GRID) // m for x in w]
        p_ix = min(range(d), key=lambda i: (-abs(v[i]), i))
        if v[p_ix] < 0:
            v = [-x for x in v]
        comps.append(v)
        if c + 1 < k:
            w = [sum(t[i][j] * v[j] for j in range(d)) for i in range(d)]
            lam_num = sum(v[i] * w[i] for i in range(d))
            lam_den = sum(x * x for x in v)
            for i in range(d):
                for j in range(d):
                    va, vb = (v[i], v[j]) if i <= j else (v[j], v[i])
                    t[i][j] -= ((lam_num * va) // lam_den * vb) // lam_den
    return comps


def pca_power_exact(
    emb: DataFrame,
    k: int = 2,
    iters: int = 8,
    squarings: int = 6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus projected onto its top-k exact power-iteration axes:
    (vec_id, pc0_q..pc{k-1}_q) — projections on the 2³⁰·2¹⁸ integer
    grid, value-hash portable across engines."""
    flat, cells, dims = scatter_cells_exact(emb, vec_col)
    n = emb.count()
    s_dim = {r["i"]: int(r["s"]) for r in dims.collect()}  # d rows
    d = 1 + max(s_dim)
    scatter = [[0] * d for _ in range(d)]
    for r in cells.collect():  # d(d+1)/2 rows — d-bounded by construction
        s = n * int(r["sxy"]) - s_dim[r["i"]] * s_dim[r["j"]]
        scatter[r["i"]][r["j"]] = s
        scatter[r["j"]][r["i"]] = s
    comps = _power_components(scatter, k, iters, squarings)

    spark = emb.sparkSession
    comp_rows = [tuple([i, *[comps[c][i] for c in range(k)]]) for i in range(d)]
    comp_schema = "i int, " + ", ".join(f"v{c} long" for c in range(k))
    comp_wide = local_frame(spark, comp_rows, comp_schema)
    out = (
        flat.join(F.broadcast(comp_wide), "i")
        .groupBy("vec_id")
        .agg(
            *[
                F.sum((F.col("q") * F.col(f"v{c}")).cast("decimal(38,0)"))
                .cast("long")
                .alias(f"pc{c}_q")
                for c in range(k)
            ]
        )
    )
    return out


#: integer twin of the float _Q constant (2^30)
_Q_INT = 1073741824


def pca_power_oracle_sql(
    k: int = 2, iters: int = 8, squarings: int = 6
) -> str:
    """Unrolled DuckDB twin of :func:`pca_power_exact` over the
    ``embeddings`` view. Every reused CTE is MATERIALIZED (each feeds
    ≥2 references; DuckDB inlining would re-evaluate the chain).
    int128 bounds at the grid constants: |S| ≤ n²·2⁶⁰ keeps S·2³⁰+K_T·S
    under 10³⁷ through sf-1-scale corpora; squaring products ≤ d·2⁶⁰
    so p·2³⁰+K_T·p stays under 10²⁹; T entries ≤ 2³⁰(+d·2³⁰ after
    deflation), iterates ≤ 2¹⁸, so matvecs ≤ d·2⁴⁸·2¹⁸ ≈ 10²⁶ and the
    deflation's two-stage divisions peak at K_D1·λden ≈ 10³¹."""
    parts = [f"""WITH flat AS MATERIALIZED (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1073741824.0)
              AS HUGEINT) AS q
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS t(i)
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM embeddings),
cells_u AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS sxy
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
dims AS MATERIALIZED (SELECT i, SUM(q) AS s FROM flat GROUP BY i),
scat AS MATERIALIZED (
  SELECT c.i, c.j, nn.n * c.sxy - di.s * dj.s AS sc
  FROM (SELECT i, j, sxy FROM cells_u
        UNION ALL
        SELECT j AS i, i AS j, sxy FROM cells_u WHERE i < j) c
  JOIN dims di ON di.i = c.i JOIN dims dj ON dj.i = c.j, nn
),
mx AS MATERIALIZED (
  SELECT GREATEST(MAX(ABS(sc)), CAST(1 AS HUGEINT)) AS m FROM scat
),
t0 AS MATERIALIZED (
  SELECT i, j, (sc * {_Q_INT} + {_K_T} * m) // m - {_K_T} AS t
  FROM scat, mx
)"""]
    for c in range(k):
        # per-component spectral-gap squarings of THIS component's base
        # matrix t{c} (deflation below stays on the unsquared base —
        # see _power_components for why)
        sq = f"t{c}"
        for s in range(1, squarings + 1):
            parts.append(f""",
p{c}_{s} AS MATERIALIZED (
  SELECT a.i AS i, b.j AS j, SUM(a.t * b.t) AS p
  FROM {sq} a JOIN {sq} b ON a.j = b.i GROUP BY a.i, b.j
),
pm{c}_{s} AS MATERIALIZED (
  SELECT GREATEST(MAX(ABS(p)), CAST(1 AS HUGEINT)) AS m FROM p{c}_{s}
),
q{c}_{s} AS MATERIALIZED (
  SELECT i, j, (p * {_Q_INT} + {_K_T} * m) // m - {_K_T} AS t
  FROM p{c}_{s}, pm{c}_{s}
)""")
            sq = f"q{c}_{s}"
        parts.append(f""",
v{c}_0 AS (SELECT i, CAST({_GRID} - i AS HUGEINT) AS v FROM dims)""")
        for r in range(1, iters + 1):
            parts.append(f""",
w{c}_{r} AS MATERIALIZED (
  SELECT t.i, SUM(t.t * v.v) AS w
  FROM {sq} t JOIN v{c}_{r - 1} v ON t.j = v.i GROUP BY t.i
),
m{c}_{r} AS MATERIALIZED (
  SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w{c}_{r}
),
v{c}_{r} AS MATERIALIZED (
  SELECT i, (w * {_GRID} + {_K_V} * m) // m - {_K_V} AS v
  FROM w{c}_{r}, m{c}_{r}
)""")
        parts.append(f""",
sg{c} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT v FROM v{c}_{iters}
                    ORDER BY ABS(v) DESC, i LIMIT 1) < 0
         THEN CAST(-1 AS HUGEINT) ELSE CAST(1 AS HUGEINT) END AS s
),
u{c} AS MATERIALIZED (
  SELECT i, v * (SELECT s FROM sg{c}) AS v FROM v{c}_{iters}
)""")
        if c + 1 < k:
            parts.append(f""",
wf{c} AS MATERIALIZED (
  SELECT t.i, SUM(t.t * u.v) AS w
  FROM t{c} t JOIN u{c} u ON t.j = u.i GROUP BY t.i
),
lam{c} AS MATERIALIZED (
  SELECT (SELECT SUM(u.v * w.w) FROM u{c} u JOIN wf{c} w ON u.i = w.i)
           AS num,
         (SELECT SUM(v * v) FROM u{c}) AS den
),
t{c + 1} AS MATERIALIZED (
  SELECT t.i, t.j,
         t.t - ((((l.num * (CASE WHEN t.i <= t.j THEN ua.v ELSE ub.v END)
                   + {_K_D1} * l.den) // l.den - {_K_D1})
                 * (CASE WHEN t.i <= t.j THEN ub.v ELSE ua.v END)
                 + {_K_D2} * l.den) // l.den - {_K_D2}) AS t
  FROM t{c} t JOIN u{c} ua ON ua.i = t.i JOIN u{c} ub ON ub.i = t.j,
       lam{c} l
)""")
    pcs = ", ".join(
        f"CAST(SUM(f.q * u{c}.v) AS BIGINT) AS pc{c}_q" for c in range(k)
    )
    joins = " ".join(f"JOIN u{c} ON u{c}.i = f.i" for c in range(k))
    parts.append(f"""
SELECT f.vec_id, {pcs}
FROM flat f {joins}
GROUP BY f.vec_id
ORDER BY f.vec_id""")
    return "".join(parts)


def pca_project(
    emb: DataFrame, k: int = 4, vec_col: str = "embedding"
) -> DataFrame:
    """Corpus projected onto its top-k principal axes — one broadcast
    [k, d] matrix, one Arrow-batched matmul per partition."""
    comps, _ = pca_components(emb, k, vec_col)
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast(comps)

    def project(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            p = m @ bc.value.T
            out = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy()})
            for c in range(p.shape[1]):
                out[f"pc{c}"] = p[:, c]
            yield out

    schema = "vec_id long, " + ", ".join(f"pc{c} double" for c in range(k))
    return emb.select("vec_id", vec_col).mapInPandas(project, schema)
