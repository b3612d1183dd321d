"""Skyline operator (operators/skyline.py): equality with the naive
quadratic NOT-EXISTS semantics on randomized fixtures (including ties
and duplicates), and bucket-count invariance."""

from __future__ import annotations

from movie_rankings_spark.operators.skyline import skyline_2d
from movie_rankings_spark.session import session_conf


def _ids(spark, df, buckets):
    """Skyline ids with the session asking for ``buckets`` buckets."""
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(buckets)}):
        return sorted((r["id"],) for r in skyline_2d(df, "x", "y").collect())


def _naive(rows):
    out = []
    for a in rows:
        dominated = any(
            b[1] <= a[1]
            and b[2] >= a[2]
            and (b[1] < a[1] or b[2] > a[2])
            for b in rows
        )
        if not dominated:
            out.append(a)
    return sorted(out)


def _fixture(n=300):
    # deterministic pseudo-random with ties and exact duplicates
    rows = []
    for i in range(n):
        x = float((i * 131) % 50)  # heavy x ties
        y = (i * 17) % 40
        rows.append((i, x, y))
    rows.append((n, 3.0, 39))
    rows.append((n + 1, 3.0, 39))  # duplicate frontier point: both kept
    return rows


def test_matches_naive_semantics(spark):
    rows = _fixture()
    df = spark.createDataFrame(rows, "id long, x double, y int")
    got = sorted(
        (r["id"], r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    assert got == _naive(rows)
    # the duplicate frontier rows both survive
    ids = {i for i, _, _ in got}
    assert {300, 301} <= ids


def test_bucket_count_invariance(spark):
    rows = _fixture(200)
    df = spark.createDataFrame(rows, "id long, x double, y int")
    base = _ids(spark, df, 1)
    for b in (2, 7, 64):
        assert _ids(spark, df, b) == base, b


def test_single_point_and_monotone_chain(spark):
    df1 = spark.createDataFrame([(1, 5.0, 5)], "id long, x double, y int")
    assert [r["id"] for r in skyline_2d(df1, "x", "y").collect()] == [1]
    # strictly improving chain: only the (min x, max y) point survives
    chain = [(i, float(i), 100 - i) for i in range(10)]
    df2 = spark.createDataFrame(chain, "id long, x double, y int")
    assert [r["id"] for r in skyline_2d(df2, "x", "y").collect()] == [0]


def test_null_rows_excluded_both_engines(spark):
    """NULL contract (r5 advice fix): rows with NULL x or y are
    excluded up front — the Spark plan and the NOT-EXISTS oracle must
    agree on corpora with NULLs instead of diverging (oracle keeps
    never-dominated NULL rows, join plan drops them)."""
    import duckdb

    from movie_rankings_spark.operators.skyline import skyline_oracle_sql

    rows = [(0, 1.0, 10), (1, None, 99), (2, 5.0, None), (3, 2.0, 20)]
    df = spark.createDataFrame(rows, "id long, x double, y int")
    got = _ids(spark, df, 2)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, x DOUBLE, y INT)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = sorted(
        (r[0],)
        for r in con.execute(
            skyline_oracle_sql("x", "y", "t", "a.id", "a.id")
        ).fetchall()
    )
    assert got == want == [(0,), (3,)]
