"""The two-pass prefix scan (operators/prefix.py) against a global
``Window.orderBy`` reference on small frames, at 1, 2, 7 and 64
buckets: sketch placement keeps bucket ids monotone in the value and
equal values together, and the running sums and totals are exact."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import local_frame
from movie_rankings_spark.operators.prefix import running_sums, sketch_bucket
from movie_rankings_spark.session import session_conf

#: value lists; weights are derived from the row index
CASES = {
    "empty": [],
    "one_row": [5],
    # one distinct value: every bound is the same, dedup leaves one
    "all_equal": [7] * 20,
    # every value sits exactly on a percentile bound
    "on_bounds": [v for v in range(0, 100, 10) for _ in range(3)],
    # one value holds most rows, so its tie spans several quantiles
    "straddling_ties": [1] * 5 + [2] * 90 + [3, 4, 5, 6, 7],
}


@pytest.mark.parametrize("buckets", [1, 2, 7, 64])
@pytest.mark.parametrize("case", sorted(CASES))
def test_running_sums_match_global_window(spark, case, buckets):
    rows = [(i, v, i % 4 + 1) for i, v in enumerate(CASES[case])]
    df = local_frame(spark, rows, "id long, v long, w long")
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(buckets)}):
        bucket = sketch_bucket(df, "v")
        placed = {
            (r["v"], r["b"]) for r in df.select("v", bucket.alias("b")).collect()
        }
        cum, totals = running_sums(
            df, bucket, ["v", "id"], {"cw": F.col("w"), "n": F.lit(1)}
        )
        got = sorted((r["id"], r["cw"], r["n"]) for r in cum.collect())
    w = Window.orderBy("v", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = sorted(
        (r["id"], r["cw"], r["n"])
        for r in df.select(
            "id", F.sum("w").over(w).alias("cw"), F.count("*").over(w).alias("n")
        ).collect()
    )
    assert got == want
    assert totals == {"cw": sum(r[2] for r in rows), "n": len(rows)}
    # one bucket per value, ids monotone in the value, at most `buckets`
    by_value = dict(placed)
    assert len(by_value) == len(placed)
    ids = [by_value[v] for v in sorted(by_value)]
    assert ids == sorted(ids)
    assert len(set(ids)) <= buckets
