"""Local mimic of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a scale factor and
compares it against the matching ``oracle_sql()`` in DuckDB:
row count, column names, and order-insensitive value equality. Each
query gets one status with its reason and seconds: ``pass``, ``wrong``
(the answers differ), ``error`` (Spark or DuckDB raised) or
``rows-only`` (no oracle).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from movie_rankings_spark.catalog import TABLES, table_path  # noqa: E402
from movie_rankings_spark.scratch import scratch_dir  # noqa: E402
from movie_rankings_spark.session import get_spark  # noqa: E402

#: DuckDB's own default is 80% of RAM, which starves the Spark JVM
#: beside it; past the limit an oracle spills to scratch, and past
#: the spill cap it fails and is reported as an ``error``
DUCKDB_CONFIG = {"memory_limit": "4GB", "max_temp_directory_size": "8GB"}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes the way a value-hash would see them
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    scols, dcols = sorted(spark_df.columns), sorted(duck_df.columns)
    if scols != dcols:
        problems.append(f"columns: spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    a, b = _normalize(spark_df), _normalize(duck_df)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not _values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"col {c}: {len(bad)}/{len(av)} values differ; first@{i}: "
                f"spark={x!r} duck={y!r}"
            )
    return problems


def _check(spark, con, sf_dir: str, fn, oracle: str | None) -> tuple[str, str]:
    """(status, reason) of one query against its oracle."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return "error", f"spark error: {e}"
    if oracle is None:
        return "rows-only", f"rows={len(sdf)} (no oracle)"
    try:
        ddf = con.execute(oracle).df()
    except Exception as e:  # noqa: BLE001
        return "error", f"duckdb error: {e}"
    problems = compare(sdf, ddf)
    if problems:
        return "wrong", "; ".join(problems)
    return "pass", f"rows={len(sdf)}"


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    spark = get_spark("oracle-check")
    con = duckdb.connect(
        config={**DUCKDB_CONFIG, "temp_directory": scratch_dir("duckdb")}
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    statuses: dict[str, str] = {}
    reasons: dict[str, str] = {}
    seconds: dict[str, float] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        statuses[name], reasons[name] = _check(
            spark, con, sf_dir, fn, oracles.get(name)
        )
        seconds[name] = round(time.perf_counter() - t0, 3)
        print(
            f"{statuses[name].upper():9s} {name}: {reasons[name]} "
            f"({seconds[name]:.1f} s)"
        )
    found = list(statuses.values())
    counts = {k: found.count(k) for k in ("pass", "wrong", "error", "rows-only")}
    failures = counts["wrong"] + counts["error"]
    print(f"\n{failures} failures / {len(found)} queries: {counts}")
    if not only:  # full runs refresh the local-status snapshot
        import json

        with open(os.path.join(_REPO, "ORACLE_LOCAL.json"), "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "statuses": statuses,
                    "reasons": reasons,
                    "seconds": seconds,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
