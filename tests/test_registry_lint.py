"""Registry-wide output-schema lint.

The driver's correctness harness canonicalizes every registered
query's result with a pandas sort over all columns before hashing;
a top-level array/map/struct column makes that sort raise
``TypeError: unhashable type: 'list'`` and the query registers as
ERR even when the operator is correct (this killed
``embedding_jl_projection`` in round 7). Pin the contract here:
every ``queries()`` entry must produce only flat scalar columns.

For most queries, building the DataFrame is enough — Spark resolves
the schema at plan time, so nothing executes except the handful of
bounded collects some operators perform during plan construction.
Two groups are NOT build-is-free and are linted in their own tests:
streaming queries run a real micro-batch engine when *called*, and
the warehouse sink/ingest ROUND-TRIP queries execute full
write(+streaming) jobs at plan-build time before returning the
audit-readback plan (r9 ADVICE — the batch lint must not imply those
builds are free). Every lint reads the schema from the session's one
build of each query (the ``built_query`` fixture in conftest.py), and
the drift lint reads the session drift that build left.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from movie_rankings_spark.plans.all_queries import QUERIES

#: Streaming queries execute a full micro-batch engine run on call;
#: they are linted too but kept in a separate (slower) test so the
#: fast batch lint stays cheap to iterate on.
_STREAMING = tuple(n for n in QUERIES if n.startswith("stream_"))
#: Side-effecting round-trips (plans/warehouse_queries.py): write to
#: scratch + read back happens inside the query FUNCTION, so "build"
#: costs real write/stream jobs.
_SIDE_EFFECTING = (
    "sink_sorted_write_roundtrip",
    "interchange_files_roundtrip",
    "ingest_exactly_once_roundtrip",
    "schema_evolution_roundtrip",
    "sink_stdout_roundtrip",  # renders + parses the stdout sink (r9)
    "bloom_semijoin_contract",  # explains + collects the pruned join (r9)
)
_BATCH = tuple(
    n
    for n in QUERIES
    if not n.startswith("stream_") and n not in _SIDE_EFFECTING
)


def _nested_columns(schema) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_build_leaves_session_as_found(name, built_query):
    """A query leaves the shared session as it found it: no new temp
    view, no changed conf key, no persisted RDD left after
    ``release_persisted`` — so results and timings do not depend on
    run order. The drift is (new views, changed conf keys, new RDDs)."""
    assert built_query(name)[2] == (0, 0, 0)


@pytest.mark.parametrize("name", _BATCH)
def test_batch_query_output_is_flat(name, built_query):
    nested = _nested_columns(built_query(name)[0])
    assert not nested, (
        f"query {name!r} returns non-scalar top-level columns {nested}; "
        "the driver's pandas canonicalizer cannot sort/hash them — "
        "emit a digest (e.g. xxhash64(to_json(struct(col)))) instead"
    )


@pytest.mark.parametrize("name", _STREAMING)
def test_streaming_query_output_is_flat(name, built_query):
    nested = _nested_columns(built_query(name)[0])
    assert not nested, (
        f"streaming query {name!r} returns non-scalar top-level "
        f"columns {nested}; the driver's canonicalizer cannot hash them"
    )


@pytest.mark.parametrize("name", _SIDE_EFFECTING)
def test_roundtrip_query_output_is_flat(name, built_query):
    nested = _nested_columns(built_query(name)[0])
    assert not nested, (
        f"round-trip query {name!r} returns non-scalar top-level "
        f"columns {nested}; the driver's canonicalizer cannot hash them"
    )
