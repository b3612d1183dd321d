"""Spark 4 function-surface pins: SQL UDFs (CREATE FUNCTION ...
RETURN — the ANSI scalar-function front-end) and Arrow-optimized
Python UDFs (useArrow=True ⇒ ArrowEvalPython, the vectorized plan the
repo's no-BatchEvalPython contract allows).

Both are front-ends over semantics already checked elsewhere: the SQL
UDF reproduces the title-normalization chain
(functions/normalize.py::normalize_title, the reference's title_comp
derivation), and the Arrow UDF is pinned to plan as ArrowEvalPython —
not the row-at-a-time BatchEvalPython that the plan lint
(`pytest tests/test_plan_lint.py`) trips on."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_rankings_spark.functions.normalize import normalize_title


def test_sql_udf_matches_dataframe_normalize_chain(spark):
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS title_comp_sql")
    spark.sql(
        r"""
        CREATE TEMPORARY FUNCTION title_comp_sql(s STRING) RETURNS STRING
        RETURN lower(regexp_replace(regexp_replace(s,
                     '[^a-zA-Z0-9 ]', ''), '\\s{2,}', ' '))
        """
    )
    rows = [
        ("The Godfather",),
        ("Se7en",),
        ("Star Wars: Episode IV — A New Hope",),
        ("Monty  Python's   Life of Brian",),
    ]
    df = spark.createDataFrame(rows, "title string")
    got = [
        r["t"]
        for r in spark.sql(
            "SELECT title_comp_sql(title) AS t FROM {df}", df=df
        ).collect()
    ]
    expect = [
        r["t"]
        for r in df.select(normalize_title(F.col("title")).alias("t")).collect()
    ]
    assert got == expect
    assert "se7en" in got and "monty pythons life of brian" in got


def test_sql_udf_composes_in_relational_query(spark):
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS bucket10")
    spark.sql(
        "CREATE TEMPORARY FUNCTION bucket10(x DOUBLE) RETURNS BIGINT "
        "RETURN CAST(floor(x / 10.0) AS BIGINT)"
    )
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    got = {
        (r["b"], r["n"])
        for r in spark.sql(
            "SELECT bucket10(v) AS b, COUNT(*) AS n FROM {df} GROUP BY 1",
            df=df,
        ).collect()
    }
    assert got == {(b, 10) for b in range(10)}


def test_arrow_python_udf_plans_as_arrow_eval(spark):
    tokenish = F.udf(lambda s: len(s.split()), "int", useArrow=True)
    df = spark.createDataFrame(
        [("a b c",), ("d e",)], "text string"
    ).select(tokenish("text").alias("n"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # the tripwired slow path
    assert sorted(r["n"] for r in df.collect()) == [2, 3]
