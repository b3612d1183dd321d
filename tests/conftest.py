from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_rankings_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("movie-rankings-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def built_query(spark, sf_dir):
    """Each registered query built once per session at ``sf_dir``:
    name -> (output schema, simple physical plan; None for ``stream_*``
    queries, whose build runs a whole stream, session drift). The
    registry-wide compile, plan, schema and drift lints share it, so
    Tier-1 builds each query once for all of them. Each build's
    persisted intermediates are released once its plan is captured, so
    no query's cached fragment rewrites a later query's plan. The drift
    is ``perfbench.probes.drift`` between snapshots taken before the
    build and after that release: (new temp views, conf keys changed,
    new persisted RDDs)."""
    from movie_rankings_spark.caching import release_persisted
    from movie_rankings_spark.plans.all_queries import QUERIES
    from perfbench.probes import drift, session_snapshot

    memo = {}

    def build(name: str):
        if name not in memo:
            before = session_snapshot(spark)
            df = QUERIES[name](spark, sf_dir)
            plan = None
            if not name.startswith("stream_"):
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "simple"
                )
            schema = df.schema
            release_persisted()
            memo[name] = (schema, plan, drift(before, session_snapshot(spark)))
        return memo[name]

    return build
