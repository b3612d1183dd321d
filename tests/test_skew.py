"""Skew mitigation: AQE must split a pathologically hot join key into
multiple tasks (OptimizeSkewedJoin), complementing the explicit
salting strategy pinned in test_plan_shapes for per-group top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_rankings_spark.session import session_conf


def test_aqe_splits_skewed_join_partitions(spark):
    # one key owns ~97% of the left side; thresholds lowered so the
    # skew is "pathological" at test scale (defaults: 256 MB)
    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    with session_conf(spark, conf):
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 100 < 97, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        joined = left.join(right, "k")
        # collect() so THIS DataFrame's adaptive execution finalizes
        # (count() would plan and execute a separate query)
        assert len(joined.collect()) == 300_000

        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
        assert "skewed" in final_plan  # AQEShuffleRead …​ and skewed
