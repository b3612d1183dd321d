"""Warehouse-lifecycle tier: SCD2 history, conversion attribution,
z-order layout.

Round-3 additions to the [EXT] surface — the slowly-changing-dimension
and data-layout machinery a 100 TB warehouse runs daily, each as a
registered oracle-checked query over the standard test tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_rankings_spark.catalog import load_table, local_frame
from movie_rankings_spark.operators.attribution import last_touch_attribution
from movie_rankings_spark.operators.layout import morton_sql, zorder_bucket_stats
from movie_rankings_spark.operators.scd2 import scd2_history
from movie_rankings_spark.plans.registry import REGISTRY
from movie_rankings_spark.session import session_conf


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- SCD Type-2 history -----------------------------------------------------

_SCD2_ORACLE = """
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       event_id, value,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
ORDER BY user_id, event_type, valid_from_us, event_id
"""


@REGISTRY.register("scd2_user_event_history", _SCD2_ORACLE)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events changelog as a Type-2 dimension: every version kept,
    half-open [valid_from, valid_to) validity intervals attached via a
    lead(1) window — one shuffle on the key, O(1) window state
    (operators/scd2.py). Point-in-time lookups then need no window at
    read time."""
    hist = scd2_history(
        _t(spark, sf_dir, "events"),
        keys=["user_id", "event_type"],
        version_cols=["ts", "event_id"],
        payload_cols=["value"],
    )
    return hist.select(
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        "event_id",
        "value",
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    ).orderBy("user_id", "event_type", "valid_from_us", "event_id")


# --- last-touch attribution -------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH carried AS (
  SELECT event_type, value, ts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN struct_pack(t_ts := ts, t_type := event_type)
                    END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT COALESCE(
         CASE WHEN touch IS NOT NULL
               AND epoch_us(ts) - epoch_us(touch.t_ts) <= 86400000000
              THEN touch.t_type END,
         'direct') AS touch_type,
       COUNT(*) AS conversions,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_revenue
FROM carried
WHERE event_type = 'purchase'
GROUP BY touch_type
ORDER BY touch_type
"""


@REGISTRY.register("attribution_last_touch", _ATTRIBUTION_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases credited to the user's most recent view/click within
    24 h, else 'direct'; revenue rolled up per touch type. Windowed
    carry-forward, no self-join (operators/attribution.py)."""
    return last_touch_attribution(
        _t(spark, sf_dir, "events"),
        touch_types=("view", "click"),
        conversion_type="purchase",
        lookback_hours=24,
    )


# --- z-order layout ---------------------------------------------------------

_ZORDER_ORACLE = f"""
WITH keyed AS (
  SELECT {morton_sql(
      'o_custkey',
      "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))")} AS z,
         o_custkey AS a,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS b
  FROM orders
)
SELECT (z >> 16) AS z_bucket,
       COUNT(*) AS n_rows,
       MIN(a) AS a_min, MAX(a) AS a_max,
       MIN(b) AS b_min, MAX(b) AS b_max
FROM keyed GROUP BY z_bucket ORDER BY z_bucket
"""


@REGISTRY.register("layout_zorder_orders", _ZORDER_ORACLE)
def layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code layout stats for orders clustered on
    (o_custkey, order epoch-day): per-z-bucket occupancy and min/max
    of BOTH dimensions — the stats a file-skipping reader sees after a
    z-order re-layout (operators/layout.py; write path covered by
    tests/test_layout.py). Pure bit-math projection + one partial
    aggregate; no UDF, no extra shuffle."""
    o = _t(spark, sf_dir, "orders")
    return zorder_bucket_stats(
        o,
        F.col("o_custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long"),
        bucket_shift=16,
    )


# --- sink / ingest round-trips (r8: registered queries for S10-S12) ---------
# Each query exercises a WRITE path end-to-end — write to a fresh
# scratch dir, read back, and emit layout-independent audit
# invariants the DuckDB oracle recomputes from the source parquet
# alone (file layout is engine-private; the invariants — row counts,
# exact key/value checksums, disjointness and exactly-once booleans —
# are not). NOTE these four queries run their write/stream jobs at
# plan-BUILD time (the returned DataFrame only reads the audit back),
# so tests/test_registry_lint.py groups them with the side-effecting
# queries, not the build-is-free batch lint.

def _scratch(prefix: str) -> str:
    from movie_rankings_spark.scratch import scratch_dir

    return scratch_dir(prefix)


_SORTED_WRITE_ORACLE = """
SELECT CAST(8 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       TRUE AS spans_disjoint
FROM orders
"""


@REGISTRY.register("sink_sorted_write_roundtrip", _SORTED_WRITE_ORACLE)
def sink_sorted_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 clustered-write contract, driver-checkable: write orders
    with sources/sinks.py::write_sorted (repartitionByRange +
    sortWithinPartitions, 8 files), read the directory back, and audit
    WHAT THE LAYOUT PROMISES — 8 files whose per-file key spans are
    pairwise disjoint (the property parquet row-group skipping prunes
    on), with no row lost or duplicated (count + exact key checksum +
    min/max). The oracle pins the expected invariants from the source
    table; the spans themselves are engine-private layout, so
    disjointness is reduced to a boolean via an 8x8 span self-join
    (no global window, no driver collect)."""
    import os

    from movie_rankings_spark.sources.sinks import write_sorted

    path = os.path.join(_scratch("sorted_write_"), "orders_sorted")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_sorted(orders, path, ["o_orderkey"], num_files=8)

    back = spark.read.parquet(path)
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        .persist_tracked()  # file count + overlap join read this
    )
    n_files = spans.agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    a, b = spans.alias("a"), spans.alias("b")
    overlaps = (
        a.join(
            b,
            (F.col("a.f") < F.col("b.f"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .agg((F.count(F.lit(1)) == 0).alias("spans_disjoint"))
    )
    totals = back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
    return (
        n_files.crossJoin(totals)
        .crossJoin(overlaps)
        .select(
            "n_files", "n_rows", "sum_key", "min_key", "max_key",
            "spans_disjoint",
        )
    )


_INTERCHANGE_ORACLE = """
WITH sample AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 = 0
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM sample
)
SELECT fmt, n_rows, n_corrupt, sum_key, sum_cents
FROM agg, (VALUES ('csv', CAST(0 AS BIGINT)),
                  ('jsonl', CAST(1 AS BIGINT)),
                  ('orc', CAST(0 AS BIGINT))) AS v(fmt, n_corrupt)
ORDER BY fmt
"""


@REGISTRY.register("interchange_files_roundtrip", _INTERCHANGE_ORACLE)
def interchange_files_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 interchange-format contract, driver-checkable: a 1%-key
    sample of orders (price pre-quantized to exact cents so the text
    round-trip is integer-exact) written as CSV and JSON-lines via
    sources/files.py, read back with MANDATORY schemas (no inference
    scan) and PERMISSIVE corrupt-row quarantine; one hand-planted
    malformed JSON line must land in the quarantine column, not kill
    the read or leak into the aggregates; the self-describing ORC arm
    (no quarantine concept — binary columnar) round-trips the same
    sample. Output: per-format row count, quarantined-row count, and
    exact key/cents checksums — all recomputed by the oracle from the
    source parquet."""
    import os

    from movie_rankings_spark.sources import files as fsrc
    from movie_rankings_spark.sources.sinks import write_csv

    base = _scratch("interchange_")
    csv_dir, json_dir = os.path.join(base, "csv"), os.path.join(base, "jsonl")
    orc_dir = os.path.join(base, "orc")
    sample = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    write_csv(sample, csv_dir)
    fsrc.write_jsonl(sample, json_dir)
    fsrc.write_orc(sample, orc_dir)
    with open(os.path.join(json_dir, "corrupt.json"), "w") as fh:
        fh.write('{"o_orderkey": broken line\n')

    schema = "o_orderkey long, o_orderpriority string, cents long"
    back_csv = fsrc.read_csv(spark, csv_dir, schema)
    back_json = fsrc.read_jsonl(spark, json_dir, schema)
    back_orc = fsrc.read_orc(spark, orc_dir)

    def audit(df: DataFrame, fmt: str) -> DataFrame:
        good = (
            fsrc.good_rows(df) if fsrc.CORRUPT_COL in df.columns else df
        )
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).cast("long").alias("n_seen"),
        ).crossJoin(
            good.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("sum_key"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
        ).select(
            "fmt",
            "n_rows",
            (F.col("n_seen") - F.col("n_rows")).alias("n_corrupt"),
            "sum_key",
            "sum_cents",
        )

    return (
        audit(back_csv, "csv")
        .unionByName(audit(back_json, "jsonl"))
        .unionByName(audit(back_orc, "orc"))
        .orderBy("fmt")
    )


_INGEST_ORACLE = """
WITH src AS (SELECT event_id FROM events WHERE event_id % 50 = 0),
extra AS (SELECT event_id FROM events WHERE event_id % 50 = 7
          AND event_id < 1000)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n_first,
       CAST(0 AS BIGINT) AS n_second_delta,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM extra) AS n_third_delta,
       (SELECT CAST(SUM(event_id) AS BIGINT) FROM src)
         + (SELECT CAST(COALESCE(SUM(event_id), 0) AS BIGINT) FROM extra)
         AS sum_ids
"""


@REGISTRY.register("ingest_exactly_once_roundtrip", _INGEST_ORACLE)
def ingest_exactly_once_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 exactly-once incremental ingest, driver-checkable: land a
    2%-sample of events as parquet files, drain the landing dir into
    the lake via streaming/ingest.py (readStream + availableNow +
    checkpoint file log), then (run 2) re-run with NOTHING new — the
    checkpoint must skip every committed file, adding zero rows — and
    (run 3) land one more file and re-run — only ITS rows may appear.
    Output: the three run deltas plus the exact id checksum of the
    final lake; the oracle recomputes all four from the source
    parquet (n_second_delta pinned to 0 — the exactly-once claim)."""
    import os

    from movie_rankings_spark.streaming.ingest import (
        ingest_to_parquet,
        read_file_stream,
    )

    base = _scratch("ingest_once_")
    landing = os.path.join(base, "landing")
    lake = os.path.join(base, "lake")
    ckpt = os.path.join(base, "ckpt")
    schema = "event_id long"

    events = _t(spark, sf_dir, "events")
    events.filter(F.col("event_id") % 50 == 0).select("event_id").repartition(
        4
    ).write.mode("overwrite").parquet(landing)

    def drain() -> int:
        ingest_to_parquet(
            read_file_stream(spark, landing, schema), lake, ckpt
        )
        return spark.read.parquet(lake).count()

    n_first = drain()
    n_second = drain()  # nothing new landed: must be a no-op
    events.filter(
        (F.col("event_id") % 50 == 7) & (F.col("event_id") < 1000)
    ).select("event_id").coalesce(1).write.mode("append").parquet(landing)
    n_third = drain()

    lake_sum = spark.read.parquet(lake).agg(
        F.sum("event_id").cast("long").alias("sum_ids")
    )
    return lake_sum.select(
        F.lit(n_first).cast("long").alias("n_first"),
        F.lit(n_second - n_first).cast("long").alias("n_second_delta"),
        F.lit(n_third - n_second).cast("long").alias("n_third_delta"),
        "sum_ids",
    )


_SCHEMA_EVOLUTION_ORACLE = """
WITH g1 AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 1
), g2 AS (
  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 100 = 2
)
SELECT gen, n_rows, n_priority_null, sum_key FROM (
  SELECT CAST(1 AS INTEGER) AS gen,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_priority_null,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
  FROM g1
  UNION ALL
  SELECT CAST(2 AS INTEGER),
         CAST(COUNT(*) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT)
  FROM g2
) ORDER BY gen
"""


@REGISTRY.register("schema_evolution_roundtrip", _SCHEMA_EVOLUTION_ORACLE)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 schema-drift contract, driver-checkable: generation-1 files
    carry (gen, o_orderkey); generation-2 files add o_orderpriority —
    the column-added drift every long-lived landing zone accumulates.
    A mergeSchema read must unify the generations: old rows surface
    the new column as NULL (never dropped, never misaligned), new
    rows keep their values. Output: per-generation row count,
    NULL-count of the late column (gen-1 rows must ALL be null, gen-2
    none), and the exact key checksum — recomputed by the oracle from
    the source parquet. The unification mechanics are additionally
    pinned in tests/test_file_sources.py."""
    import os

    base = _scratch("schema_evo_")
    orders = _t(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 100 == 1).select(
        F.lit(1).alias("gen"), "o_orderkey"
    ).coalesce(1).write.mode("overwrite").parquet(base + "/d")
    orders.filter(F.col("o_orderkey") % 100 == 2).select(
        F.lit(2).alias("gen"), "o_orderkey", "o_orderpriority"
    ).coalesce(1).write.mode("append").parquet(base + "/d")

    merged = spark.read.option("mergeSchema", "true").parquet(base + "/d")
    return (
        merged.groupBy("gen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("o_orderpriority").isNull().cast("long"))
            .cast("long")
            .alias("n_priority_null"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .orderBy("gen")
    )


# --- driver-certified contracts for the remaining test-pinned rows (r9) -----

_INT_CELL = __import__("re").compile(r"^-?\d+$")

_STDOUT_SINK_ORACLE = """
WITH top AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  ORDER BY cents DESC, o_orderkey ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS n_printed,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM top
"""


@REGISTRY.register("sink_stdout_roundtrip", _STDOUT_SINK_ORACLE)
def sink_stdout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 stdout-sink contract, driver-checkable (r9; previously
    test-pinned only): render the top-10 orders by price through the
    reference-parity stdout sink (sources/sinks.py::show_top — the
    reference's own output surface, top_movies.py:139-143), capture
    the TEXT it printed, parse the rows back out of the rendered
    table, and emit their count and exact key/cents checksums — the
    oracle recomputes all three from the source parquet, so a sink
    that truncated, reordered, or mis-rendered a row hash-mismatches.
    Prices are pre-quantized to integer cents so the text round-trip
    is exact."""
    import contextlib
    import io

    from movie_rankings_spark.sources.sinks import show_top

    top = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .orderBy(F.col("cents").desc(), F.col("o_orderkey").asc())
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        show_top(top, k=10)
    rows = []
    for line in buf.getvalue().splitlines():
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        # only bare-integer data rows count: header rows, separator
        # art, or a future show()-render drift (locale separators,
        # truncation ellipses) must surface as a CHECKSUM mismatch the
        # driver reports, not a parse ValueError that ERRs the whole
        # query (r9 ADVICE item)
        if len(cells) < 2 or not (
            _INT_CELL.match(cells[0]) and _INT_CELL.match(cells[1])
        ):
            continue
        rows.append((int(cells[0]), int(cells[1])))
    return local_frame(
        spark,
        [
            (
                len(rows),
                sum(k for k, _ in rows),
                sum(c for _, c in rows),
            )
        ],
        "n_printed long, sum_key long, sum_cents long",
    )


_BLOOM_SEMIJOIN_ORACLE = """
SELECT TRUE AS plan_has_bloom,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l.l_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_qty_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
"""


@REGISTRY.register("bloom_semijoin_contract", _BLOOM_SEMIJOIN_ORACLE)
def bloom_semijoin_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 runtime bloom-filter semi-join reduction, driver-checkable
    (r9; previously test-pinned only): with the production size
    thresholds lowered (they only fire at scale), a selective filter
    on the orders side of a shuffle join must inject a bloom filter
    of its join keys below the lineitem scan — semi-join reduction
    without a broadcast, the 100 TB join-pruning mechanism. The query
    returns the PLAN assertion as data (plan_has_bloom: both
    might_contain and bloom_filter_agg present — the
    sink_sorted_write_roundtrip contract-boolean pattern) alongside
    the join's row count and exact key/quantity checksums, which the
    oracle recomputes — certifying the pruned join loses and
    duplicates nothing.

    Serial-execution assumption (r9 ADVICE note): the conf overrides
    below are session-global for the duration of the build/collect —
    any query PLANNED concurrently in the same SparkSession during
    that window would inherit them. Safe under this repo's harnesses
    (driver, check_oracle, bench), which run queries strictly
    serially; a concurrent caller should hand this query its own
    ``spark.newSession()``."""
    bloom = "spark.sql.optimizer.runtime.bloomFilter."
    with session_conf(
        spark,
        {
            bloom + "creationSideThreshold": "100MB",
            bloom + "applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        # plan-contract query: InjectRuntimeFilter only fires when the
        # application side is a bare scan, which is what load_table
        # gives without fanout=True — the small-scan fan-out exchange
        # (catalog.py) would sit between scan and join and suppress the
        # injection this query exists to certify.
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("l_orderkey").cast("long").alias("sum_key"),
            F.sum((F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("sum_qty_cents"),
        )
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "simple"
        )
        has_bloom = "might_contain" in plan and "bloom_filter_agg" in plan
        audit = joined.collect()[0]
    return local_frame(
        spark,
        [
            (
                bool(has_bloom),
                audit["n_rows"],
                audit["sum_key"],
                audit["sum_qty_cents"],
            )
        ],
        "plan_has_bloom boolean, n_rows long, sum_key long, "
        "sum_qty_cents long",
    )
