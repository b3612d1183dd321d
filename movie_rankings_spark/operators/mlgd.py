"""In-engine model training: full-batch logistic regression by
gradient descent, one aggregation per iteration.

This is the classic "train on the cluster, no external ML stack"
loop: the training set never leaves the executors — each GD step is a
single d+1-column aggregate (gradient sums + loss), the driver holds
only the O(d) weight vector and re-emits it as literals in the next
step's expressions. The feature DataFrame is persisted once; every
iteration's plan is one partial-aggregated scan of the cache, so cost
is iters × one reduce, and lineage never grows.

At 100 TB this shape is exactly how distributed LR is trained (and is
MLlib's own layout for small d): gradients are associative sums with
map-side combine; the only driver state is the model. Double-precision
sums are order-dependent across runs at the 1e-12 level, so the query
is registered rows-only and the equality test against a single-node
numpy reference uses tolerances.

Reference scope: north-star [EXT] tier — the reference has no
training surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def logreg_train(
    features: DataFrame,
    label_col: str,
    feature_cols: list[str],
    lr: float = 0.5,
    iters: int = 15,
) -> tuple[list[float], list[dict]]:
    """Train w (bias first) on `features`; returns (weights, history)
    where history has one dict per iteration: iter, loss, weights."""
    cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    cached = features.select(
        y.alias("_y"), *[c.alias(f"_x{j}") for j, c in enumerate(cols)]
    ).persist_tracked()
    n = cached.count()  # materializes the cache; n is reused every step

    w = [0.0] * len(cols)
    history: list[dict] = []
    for it in range(1, iters + 1):
        z = sum(
            (F.col(f"_x{j}") * F.lit(wj) for j, wj in enumerate(w)),
            start=F.lit(0.0),
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("_y")
        agg = cached.agg(
            *[F.sum(err * F.col(f"_x{j}")).alias(f"g{j}") for j in range(len(w))],
            F.sum(
                -F.col("_y") * F.log(p)
                - (F.lit(1.0) - F.col("_y")) * F.log(F.lit(1.0) - p)
            ).alias("loss"),
        ).collect()[0]
        w = [wj - lr * agg[f"g{j}"] / n for j, wj in enumerate(w)]
        history.append({"iter": it, "loss": agg["loss"] / n, "weights": list(w)})
    cached.unpersist()
    if any(math.isnan(x) for x in w):
        raise RuntimeError("logreg_train diverged (NaN weights); lower lr")
    return w, history


def logreg_train_history_df(
    features: DataFrame,
    label_col: str,
    feature_cols: list[str],
    lr: float = 0.5,
    iters: int = 15,
) -> DataFrame:
    """Training history as a DataFrame: iter, loss, w0..wd."""
    _, history = logreg_train(features, label_col, feature_cols, lr, iters)
    spark = features.sparkSession
    rows = [
        tuple([h["iter"], h["loss"], *h["weights"]]) for h in history
    ]
    d = len(feature_cols) + 1
    schema = "iter int, loss double, " + ", ".join(
        f"w{j} double" for j in range(d)
    )
    return local_frame(spark, rows, schema)


# --- fixed-point variant (r9): engine-portable training -------------------
#
# The float GD loop above is the true-sigmoid throughput path; its
# double gradient sums are reduce-order-dependent at the 1e-12 level,
# so it can never value-hash against another engine. This variant
# quantizes the ENTIRE algorithm onto integer grids so every step —
# features, forward pass, gradients, updates — is exact integer
# arithmetic that unrolls into a DuckDB twin:
#
#   * features: non-negative integers scaled by FS=10^6, built with
#     integer floor-divisions only (dividends non-negative, so
#     truncating and flooring division agree on every engine);
#   * activation: the piecewise-linear "hard sigmoid"
#     clamp(z/4 + 1/2, 0, 1) — exact on the grid (z is shifted by +2
#     before the downscale division so the dividend stays
#     non-negative; Spark's `div` and DuckDB's `//` both truncate,
#     Python's `//` floors — identical on non-negatives);
#   * gradients: integer products summed as DECIMAL(38,0) (Spark) /
#     HUGEINT (DuckDB) — associative, order-free, overflow-free;
#   * update: W -= floordiv(G, 2·n·FS) with the dividend shifted
#     non-negative by K·D (floor((a+K·D)/D)-K == floor(a/D) for D>0),
#     computed driver-side in exact Python integers and replayed by
#     the oracle in HUGEINT.
#
# Hard-sigmoid logistic regression is a standard quantized-training
# formulation (the same GD shape, one map-side-combined aggregate per
# iteration); the registered query trains it instead of the float
# loop precisely so the training TRAJECTORY is value-hash verifiable.

FS = 1_000_000  # feature / weight / sigmoid grid
_Z_SCALE = FS * FS  # z = Σ W·X is scaled by WS·FS = 10^12
_SHIFT_K = 10**9  # update-shift multiple; bounds |ΔW| from above


def logreg_train_fixedpoint(
    features: DataFrame,
    label_col: str,
    feature_cols: list[str],
    iters: int = 10,
) -> DataFrame:
    """Train hard-sigmoid LR on integer features (each already scaled
    by FS, non-negative longs); lr fixed at 1/2. Returns the training
    history: iter, abs_err_sum_q (Σ|σ_q − y·FS|, the exact
    training-error mass of the forward pass, scaled by FS), and the
    post-update fixed-point weights w0..wd (bias first, scaled FS).

    Scale shape — identical to the float loop: the integer feature
    frame is persisted once; each iteration is ONE partial-aggregated
    scan (d+2 integer/decimal sums with map-side combine) plus an
    O(d) driver update re-emitted as literals, so lineage never grows
    and the shuffle carries d+2 cells per partition."""
    cols = [F.lit(FS).cast("long")] + [
        F.col(c).cast("long") for c in feature_cols
    ]
    y = F.col(label_col).cast("long")
    cached = features.select(
        y.alias("_y"), *[c.alias(f"_x{j}") for j, c in enumerate(cols)]
    ).persist_tracked()
    n = cached.count()

    d = len(cols)
    w = [0] * d
    div = 2 * n * FS
    rows: list[tuple] = []
    for it in range(1, iters + 1):
        # z accumulates as DECIMAL(38,0) — matching the oracle's
        # HUGEINT — so a corpus with very long documents (x_len grows
        # with n_words·10⁴) cannot silently wrap a LONG in Spark while
        # the DuckDB twin stays exact (r9 ADVICE item)
        z = sum(
            (
                (F.col(f"_x{j}").cast("decimal(19,0)") * F.lit(wj)).cast(
                    "decimal(38,0)"
                )
                for j, wj in enumerate(w)
            ),
            start=F.lit(0).cast("decimal(38,0)"),
        )
        t = F.greatest(
            F.lit(0).cast("decimal(38,0)"),
            F.least(
                F.lit(4 * _Z_SCALE).cast("decimal(38,0)"),
                (z + F.lit(2 * _Z_SCALE)).cast("decimal(38,0)"),
            ),
        )
        sig = F.expr(f"_t div {4 * FS}")
        err = sig - F.col("_y") * F.lit(FS)
        agg = (
            cached.withColumn("_t", t)
            .select(err.alias("_e"), *[f"_x{j}" for j in range(d)])
            .agg(
                *[
                    F.sum(
                        (F.col("_e") * F.col(f"_x{j}")).cast("decimal(38,0)")
                    ).alias(f"g{j}")
                    for j in range(d)
                ],
                F.sum(F.abs(F.col("_e")).cast("decimal(38,0)")).alias("mae"),
            )
            .collect()[0]
        )
        # exact integer update; the +K·D shift keeps the dividend
        # non-negative so Python's floor `//` matches the oracle's
        # truncating `//` (they differ on negatives)
        w = [
            wj - ((int(agg[f"g{j}"]) + _SHIFT_K * div) // div - _SHIFT_K)
            for j, wj in enumerate(w)
        ]
        rows.append((it, int(agg["mae"]), *w))
    cached.unpersist()
    spark = features.sparkSession
    schema = "iter int, abs_err_sum_q long, " + ", ".join(
        f"w{j} long" for j in range(d)
    )
    return local_frame(spark, rows, schema)


def logreg_fp_oracle_sql(
    feat_sql: str, n_features: int, iters: int = 10
) -> str:
    """Unrolled DuckDB twin of :func:`logreg_train_fixedpoint`.
    ``feat_sql`` must yield columns y (0/1) and x0..x{d-1} — the SAME
    integer features the engine query builds (x0 is added here as the
    FS bias). Every per-round CTE is MATERIALIZED: w{k} feeds both the
    next forward pass and the output union, and DuckDB's inlining
    would otherwise re-evaluate the whole chain per reference."""
    d = n_features + 1
    xs = ", ".join(
        [f"CAST({FS} AS HUGEINT) AS x0"]
        + [f"CAST(x{j} AS HUGEINT) AS x{j + 1}" for j in range(n_features)]
    )
    parts = [f"""WITH feat AS MATERIALIZED (
  SELECT CAST(y AS HUGEINT) AS y, {xs} FROM ({feat_sql})
),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM feat),
w0 AS MATERIALIZED (SELECT {', '.join(f'CAST(0 AS HUGEINT) AS w{j}' for j in range(d))})"""]
    for r in range(1, iters + 1):
        prev = f"w{r - 1}"
        z = " + ".join(f"w.w{j} * f.x{j}" for j in range(d))
        gs = ", ".join(
            f"SUM(e.err * e.x{j}) AS g{j}" for j in range(d)
        )
        ws = ", ".join(
            f"p.w{j} - ((g.g{j} + {_SHIFT_K} * (2 * nn.n * {FS}))"
            f" // (2 * nn.n * {FS}) - {_SHIFT_K}) AS w{j}"
            for j in range(d)
        )
        parts.append(f""",
e{r} AS (
  SELECT GREATEST(CAST(0 AS HUGEINT),
           LEAST(CAST({4 * _Z_SCALE} AS HUGEINT),
                 ({z}) + {2 * _Z_SCALE})) // {4 * FS}
         - f.y * {FS} AS err,
         {', '.join(f'f.x{j}' for j in range(d))}
  FROM feat f, {prev} w
),
a{r} AS MATERIALIZED (
  SELECT {gs}, SUM(ABS(err)) AS mae FROM e{r} e
),
w{r} AS MATERIALIZED (
  SELECT {ws} FROM {prev} p, a{r} g, nn
)""")
    out = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS iter,"
        f" CAST((SELECT mae FROM a{r}) AS BIGINT) AS abs_err_sum_q, "
        + ", ".join(f"CAST(w{j} AS BIGINT) AS w{j}" for j in range(d))
        + f" FROM w{r}"
        for r in range(1, iters + 1)
    )
    parts.append(f"\n{out}\nORDER BY iter")
    return "".join(parts)
