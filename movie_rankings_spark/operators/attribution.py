"""Marketing-style conversion attribution over an event stream.

Last-touch: each conversion event (e.g. ``purchase``) is credited to
the most recent preceding touch event (e.g. ``view``/``click``) by the
same user within a lookback window; conversions with no qualifying
touch are credited to ``direct``.

Implementation is a single user-partitioned window pass — the same
shape as sessionization (operators/sessionize.py): ``last(touch,
ignorenulls=True)`` over ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING``
carries the latest touch forward with O(1) state per user, then a
plain filter applies the lookback bound and one partial-aggregated
groupBy rolls up revenue per touch type.

Scale: one shuffle on user_id (the window), one on touch_type (the
rollup, pre-reduced map-side to #touch_types rows per partition).
No join — the naive formulation (conversions ⋈ touches, per-pair
range predicate, argmax) shuffles the event table twice and its skew
follows the heaviest user; the window form never materializes pairs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame


def last_touch_attribution(
    events: DataFrame,
    touch_types: Sequence[str] = ("view", "click"),
    conversion_type: str = "purchase",
    lookback_hours: int = 24,
) -> DataFrame:
    """Revenue rollup per attributed touch type.

    Returns (touch_type, conversions, attributed_revenue) where
    ``touch_type`` is one of ``touch_types`` or ``'direct'``; revenue
    is the exact-decimal sum of the conversion events' ``value``.
    Event order within a user is (ts, event_id) — total because
    event_id is unique — so attribution is deterministic even when a
    touch and a conversion share a timestamp (the touch must sort
    strictly before the conversion to receive credit).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin(list(touch_types)),
        F.struct(F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type")),
    )
    carried = events.withColumn("_touch", F.last(touch, ignorenulls=True).over(w))
    conv = carried.filter(F.col("event_type") == conversion_type)
    attributed = conv.select(
        F.when(
            F.col("_touch").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros(F.col("_touch.t_ts"))
                <= lookback_hours * 3_600_000_000
            ),
            F.col("_touch.t_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("touch_type"),
        F.col("value"),
    )
    return (
        attributed.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("attributed_revenue"),
        )
        .orderBy("touch_type")
    )


def position_based_attribution(
    events: DataFrame,
    touch_types: Sequence[str] = ("view", "click"),
    conversion_type: str = "purchase",
    lookback_hours: int = 24,
) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each
    conversion splits its value over every qualifying touch in the
    lookback window — 100% to a lone touch, 50/50 to a pair, else
    40% first / 40% last / 20% spread over the middles. Conversions
    with no touch credit 'direct'.

    Returns (touch_type, credited_conversions, attributed_revenue):
    fractional conversion credit and revenue, each share rounded to
    DECIMAL(18,6) BEFORE summing so the rollup is order-independent
    and bit-identical to the SQL oracle.

    Scale: unlike last-touch (O(1) window state), multi-touch needs
    the touch SET per conversion. The window frame is
    RANGE-bounded to the lookback interval (micros), so per-row state
    is the touches inside the window — bounded by lookback × event
    rate, NOT user history; the naive conversions⋈touches range join
    would shuffle the event table twice. Within-frame order is made
    total by sorting the collected (ts, event_id) structs, so
    first/last credit is deterministic under timestamp ties."""
    mic = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(mic)
        .rangeBetween(-(lookback_hours * 3_600_000_000), -1)
    )
    touch = F.when(
        F.col("event_type").isin(list(touch_types)),
        F.struct(
            F.unix_micros(F.col("ts")).alias("t_mic"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    conv = events.withColumn(
        "_touches", F.array_sort(F.collect_list(touch).over(w))
    ).filter(F.col("event_type") == conversion_type)

    n = F.size("_touches")
    weighted = conv.select(
        F.col("value"),
        F.when(
            n == 0,
            F.array(
                F.struct(
                    F.lit("direct").alias("t_type"), F.lit(1.0).alias("wt")
                )
            ),
        )
        .otherwise(
            F.transform(
                "_touches",
                lambda t, i: F.struct(
                    t["t_type"].alias("t_type"),
                    F.when(n == 1, F.lit(1.0))
                    .when(n == 2, F.lit(0.5))
                    .when((i == 0) | (i == n - 1), F.lit(0.4))
                    .otherwise(F.lit(0.2) / (n - 2).cast("double"))
                    .alias("wt"),
                ),
            )
        )
        .alias("credits"),
    ).select(F.col("value"), F.explode("credits").alias("c"))

    share = (F.col("value") * F.col("c.wt")).cast("decimal(18,6)")
    credit = F.col("c.wt").cast("decimal(18,6)")
    return (
        weighted.groupBy(F.col("c.t_type").alias("touch_type"))
        .agg(
            F.sum(credit).cast("double").alias("credited_conversions"),
            F.sum(share).cast("double").alias("attributed_revenue"),
        )
        .orderBy("touch_type")
    )


def shapley_attribution(
    journeys: DataFrame,
    mask_col: Column,
    converted_col: Column,
    channels: "list[str]",
) -> DataFrame:
    """Shapley-value channel attribution over converting journeys
    (Shapley 1953 applied to marketing paths, e.g. Zhao et al. 2018):
    with coalition value v(S) = number of conversions from journeys
    whose touched-channel set ⊆ S,

        φ_c = Σ_{S ⊆ C∖{c}} |S|!·(n−1−|S|)!/n! · (v(S∪{c}) − v(S))

    — the fair division of conversions across channels, the
    game-theoretic upgrade of the last-touch / position-based rules
    in this module (which this function complements, same fact).

    Shape: the caller reduces the fact to journeys ONCE (a user-day
    groupBy); here ONE aggregate collapses converting journeys to at
    most 2ⁿ (mask, count) cells, and everything after is bounded
    2ⁿ×2ⁿ broadcast grid algebra (n = |channels| ≤ 12 enforced) —
    subset sums for v(S), then the weighted marginal sum per channel.
    No driver loop, no per-journey work past the first aggregate.

    Exactness: v(S) and the weighted marginal numerators are exact
    longs (weights pre-scaled by n! in Python ints); φ_c is ONE
    correctly-rounded division ⇒ value-hash exact. Σφ_c =
    v(C) − v(∅) by construction (efficiency axiom), emitted per row
    as conversions_total for the audit.

    Output: one row per channel — channel, phi_num (×n!), phi,
    conversions_total — ordered by channel.
    """
    n = len(channels)
    if not 1 <= n <= 12:
        raise ValueError(f"need 1..12 channels, got {n}")
    fact = [1] * (n + 1)
    for i in range(2, n + 1):
        fact[i] = fact[i - 1] * i
    n_fact = fact[n]
    # weight(|S|)·n! = |S|!·(n−1−|S|)!  — exact ints
    w = {s: fact[s] * fact[n - 1 - s] for s in range(n)}

    spark = journeys.sparkSession
    cells = (
        journeys.select(
            mask_col.cast("int").alias("m"),
            converted_col.cast("int").alias("cv"),
        )
        .filter((F.col("cv") == 1) & F.col("m").isNotNull())
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    subsets = spark.range(2**n).select(F.col("id").cast("int").alias("s"))
    vs = (
        subsets.join(
            F.broadcast(cells),
            cells["m"].bitwiseAND(F.col("s")) == cells["m"],
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long").alias("v"))
        .persist_tracked()  # read by S-side, S∪{c}-side, and the total
    )
    popcnt = sum(
        F.shiftright(F.col("s"), i).bitwiseAND(F.lit(1)) for i in range(n)
    )
    wcase = F.lit(None).cast("long")
    for size, wt in w.items():
        wcase = F.when(popcnt == size, F.lit(wt)).otherwise(wcase)
    chan = local_frame(
        spark,
        [(i, name) for i, name in enumerate(channels)], "c int, channel string"
    )
    v2 = vs.select(F.col("s").alias("s2"), F.col("v").alias("v2"))
    total = vs.agg(
        (F.max(F.when(F.col("s") == 2**n - 1, F.col("v"))).cast("long")
         - F.max(F.when(F.col("s") == 0, F.col("v"))).cast("long")
         ).alias("conversions_total")
    )
    marg = (
        F.broadcast(chan)
        .join(vs, F.expr("(s & shiftleft(1, c)) = 0"))
        .withColumn("_w", wcase)
        .join(F.broadcast(v2), F.expr("s2 = (s | shiftleft(1, c))"))
        .groupBy("c", "channel")
        .agg(
            F.sum(F.col("_w") * (F.col("v2") - F.col("v")))
            .cast("long")
            .alias("phi_num")
        )
    )
    return (
        marg.crossJoin(F.broadcast(total))
        .select(
            "channel",
            "phi_num",
            (F.col("phi_num").cast("double") / F.lit(float(n_fact))).alias(
                "phi"
            ),
            "conversions_total",
        )
        .orderBy("channel")
    )
