"""Library-scoped persist tracking (movie_rankings_spark/caching.py):
operators' persisted intermediates must be releasable WITHOUT touching
the consumer's own cache (the r5 advice fix — previously the only
remedy for leaked intermediates was catalog-wide clearCache)."""

from __future__ import annotations

import pytest

import movie_rankings_spark as mrs


def test_release_persisted_scoped_to_library(spark, sf_dir):
    from movie_rankings_spark.operators.hllsketch import hll_pairwise_overlap

    mrs.release_persisted()  # drain anything earlier tests tracked
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hll_pairwise_overlap(events, key="user_id", group_col="event_type")
    out.collect()
    assert mrs.tracked_count() >= 1

    consumer = spark.range(100).persist()
    consumer.count()
    try:
        released = mrs.release_persisted()
        assert released >= 1
        assert mrs.tracked_count() == 0
        # consumer's own cache untouched
        assert consumer.storageLevel.useMemory
    finally:
        consumer.unpersist()


def test_release_before_materialization_is_safe(spark, sf_dir):
    """Releasing early only forfeits reuse — the returned plan must
    still compute correctly (Spark recomputes the unpersisted frame)."""
    from movie_rankings_spark.operators.skyline import skyline_2d

    mrs.release_persisted()
    parts = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = skyline_2d(parts, "p_retailprice", "p_size")
    mrs.release_persisted()  # before the action
    rows = plan.collect()
    assert rows  # recomputed fine


def test_dead_thread_bucket_reaped_not_inherited(spark):
    """A thread that persists and dies without releasing must not leak
    its bucket, and a later thread must never inherit (and thus never
    cross-release) it: the registry weak-refs the owning Thread and
    reaps dead buckets — unpersisting the orphans — on next access."""
    import threading

    from movie_rankings_spark import caching

    mrs.release_persisted()
    df_holder = {}

    def work():
        df = spark.range(50).persist_tracked()
        df.count()
        df_holder["df"] = df
        df_holder["ident"] = threading.get_ident()

    t = threading.Thread(target=work)
    t.start()
    t.join()
    # dead thread's bucket is still registered (nothing accessed yet)
    with caching._LOCK:
        assert df_holder["ident"] in caching._TRACKED
    # any registry access reaps it and unpersists the orphan
    assert mrs.tracked_count() == 0
    with caching._LOCK:
        assert df_holder["ident"] not in caching._TRACKED
    assert not df_holder["df"].storageLevel.useMemory


def test_release_only_touches_calling_thread(spark):
    """A LIVE sibling thread's tracked frames survive this thread's
    release (thread scoping) — only dead threads' buckets are reaped."""
    import threading

    from movie_rankings_spark import caching

    mrs.release_persisted()
    ready = threading.Event()
    done = threading.Event()
    state = {}

    def work():
        df = spark.range(64).persist_tracked()
        df.count()
        state["df"] = df
        ready.set()
        done.wait(timeout=30)
        state["released"] = mrs.release_persisted()

    t = threading.Thread(target=work)
    t.start()
    assert ready.wait(timeout=30)
    try:
        mrs.release_persisted()  # main thread: must not touch sibling
        assert state["df"].storageLevel.useMemory
    finally:
        done.set()
        t.join()
    assert state["released"] == 1
    assert not state["df"].storageLevel.useMemory


def test_rotating_checkpoint_bounds_live_copies_and_preserves_values(spark):
    """Each rotation must free the previous round's materialized RDD
    (live persistent-RDD count stays bounded instead of growing with
    rounds — the r8 kcore sf1 GC-thrash class) while the final
    checkpoint still reads correctly."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.caching import (
        _persistent_rdds,
        rotating_checkpoint,
    )

    base = len(_persistent_rdds(spark.sparkContext))
    ckpt = rotating_checkpoint(spark)
    df = spark.range(1000).select(F.col("id"))
    df = ckpt(df)
    counts = []
    for _ in range(5):
        df = ckpt(df.select((F.col("id") + 1).alias("id")))
        counts.append(len(_persistent_rdds(spark.sparkContext)) - base)
    # only the newest checkpoint's RDD(s) stay live each round
    assert max(counts) <= max(counts[0], 2), counts
    assert counts[-1] <= counts[0], counts
    got = df.agg(F.sum("id")).collect()[0][0]
    assert got == sum(i + 5 for i in range(1000))


def test_rotating_checkpoint_never_adopts_foreign_persists(spark):
    """The r8 ADVICE class: an RDD that happens to materialize its
    persistence DURING a rotation's checkpoint action — here a lazily
    cached frame the checkpointed plan itself reads, exactly
    label_propagation's `nodes` shape — must NOT be adopted by the
    rotation, or the next rotation would unpersist a cache it does
    not own."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.caching import (
        _persistent_rdds,
        rotating_checkpoint,
    )

    ckpt = rotating_checkpoint(spark)
    foreign = spark.range(500).select(F.col("id")).persist()
    # NOT materialized yet: its cache RDD enters the registry only
    # when the checkpoint action below computes it.
    try:
        df = ckpt(foreign.select((F.col("id") * 2).alias("id")))
        assert foreign.storageLevel.useMemory
        # second rotation: with registry-diff inference this is where
        # the foreign cache got wrongly unpersisted
        df = ckpt(df.select((F.col("id") + 1).alias("id")))
        assert foreign.storageLevel.useMemory
        cached_ids = {
            i
            for i, r in _persistent_rdds(spark.sparkContext).items()
            if "Memory" in r.getStorageLevel().description()
        }
        # the foreign cache must still be materialized in storage
        assert foreign.count() == 500
        assert any(cached_ids), cached_ids
        got = df.agg(F.sum("id")).collect()[0][0]
        assert got == sum(i * 2 + 1 for i in range(500))
    finally:
        foreign.unpersist()


def test_release_frees_every_tracked_checkpoint(spark):
    """A rotation's final checkpoint and a ``checkpoint_tracked`` one,
    eager or lazy, leave no persisted RDD behind once released."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.caching import (
        _persistent_rdds,
        rotating_checkpoint,
    )

    mrs.release_persisted()
    base = set(_persistent_rdds(spark.sparkContext))
    ckpt = rotating_checkpoint(spark)
    df = ckpt(spark.range(100))
    df = ckpt(df.select((F.col("id") + 1).alias("id")))
    eager = spark.range(10).checkpoint_tracked()
    lazy = spark.range(20).checkpoint_tracked(eager=False)
    assert (df.count(), eager.count(), lazy.count()) == (100, 10, 20)
    assert len(set(_persistent_rdds(spark.sparkContext)) - base) == 3
    assert mrs.release_persisted() == 4  # both rotations + eager + lazy
    assert set(_persistent_rdds(spark.sparkContext)) - base == set()


@pytest.mark.parametrize(
    "name", ["hits_purchase_graph", "stream_dedup_incremental"]
)
def test_checkpointing_query_leaves_no_rdds(spark, sf_dir, name):
    """hits_purchase_graph checkpoints through two rotations and one
    plain checkpoint; stream_dedup_incremental persists inside its
    micro-batches, on a callback thread. After release the session
    holds no RDD either query created."""
    from movie_rankings_spark.caching import _persistent_rdds
    from movie_rankings_spark.plans.all_queries import QUERIES

    mrs.release_persisted()
    base = set(_persistent_rdds(spark.sparkContext))
    assert QUERIES[name](spark, sf_dir).collect()
    mrs.release_persisted()
    assert set(_persistent_rdds(spark.sparkContext)) - base == set()
