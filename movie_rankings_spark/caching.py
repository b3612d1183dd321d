"""Library-scoped persist and checkpoint tracking + release hook.

Operators persist or locally checkpoint reused intermediates (join
sides, iterative state, threshold tables) and cannot release them
before returning — the returned lazy plan still references them. In a
long-lived session those entries accumulate into executor memory
pressure, and without this hook the only remedy was a catalog-wide
``spark.catalog.clearCache()`` that also evicts the CONSUMER's own
cached frames (the advice finding on hll_pairwise_overlap et al.).

Every persist inside this library goes through
``DataFrame.persist_tracked()`` and every local checkpoint through
``DataFrame.checkpoint_tracked()`` or :class:`rotating_checkpoint`
(registered here, pandas-accessor style — ``DataFrame.persist`` and
``localCheckpoint`` themselves are untouched), which record the
DataFrame or the checkpoint's RDD in a module registry. After
materializing a query's result, call :func:`release_persisted` to
unpersist exactly the library's intermediates — consumer caches
survive.

Releasing a persist before a returned plan is materialized is safe
(Spark recomputes), it just forfeits the reuse the persist bought. A
released checkpoint is gone: its data exists nowhere else, so a plan
that reads it fails. Release only after the last read.

Thread-safety: the registry is guarded by a lock, and it is
THREAD-SCOPED — each thread tracks (and releases) only its own
persists, so concurrent queries on one SparkSession cannot release
each other's in-flight intermediates. Buckets are keyed by
``(ident, weakref(thread))``, not the raw ident alone: CPython reuses
thread idents, so a raw-ident registry would let a NEW thread inherit
— and later unpersist — a dead thread's frames, and threads that died
without releasing would leak their bucket forever. Every registry
access first reaps buckets whose owning thread is gone, unpersisting
the orphaned frames best-effort. ``release_persisted`` from a thread
touches only that thread's entries.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# thread ident -> (weakref to owning Thread, tracked DataFrames and
# checkpoint JVM RDDs in insertion order; both have
# ``unpersist(blocking)``). The weakref disambiguates ident reuse: a
# bucket whose thread object is dead (or collected) belongs to a
# finished thread and is reaped — never inherited by a new thread that
# drew the same ident.
_TRACKED: dict[int, tuple[weakref.ref, list]] = {}


def _reap_dead_locked() -> list:
    """Drop buckets owned by dead/collected threads; return their
    orphaned frames for the caller to unpersist OUTSIDE the lock
    (unpersist does a JVM round-trip)."""
    orphans: list = []
    for ident in [
        i
        for i, (ref, _) in _TRACKED.items()
        if (t := ref()) is None or not t.is_alive()
    ]:
        orphans.extend(_TRACKED.pop(ident)[1])
    return orphans


def _unpersist_quiet(frames: list, blocking: bool = False) -> int:
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    return n


def _bucket() -> list:
    t = threading.current_thread()
    with _LOCK:
        orphans = _reap_dead_locked()
        entry = _TRACKED.get(t.ident)
        if entry is None or entry[0]() is not t:
            # fresh thread (or an ident whose previous owner somehow
            # survived the reap while a different live thread now
            # holds the ident — never inherit its frames)
            if entry is not None:
                orphans.extend(entry[1])
            entry = (weakref.ref(t), [])
            _TRACKED[t.ident] = entry
    _unpersist_quiet(orphans)
    return entry[1]


def _track(handle) -> None:
    bucket = _bucket()
    with _LOCK:
        bucket.append(handle)


def _persist_tracked(self: DataFrame, *args, **kwargs) -> DataFrame:
    """``df.persist(...)`` + registration in the calling thread's
    release registry. Same signature/return as ``DataFrame.persist``."""
    out = self.persist(*args, **kwargs)
    _track(out)
    return out


def _checkpoint_rdd(out: DataFrame):
    """The JVM RDD a ``localCheckpoint`` result reads, or None.
    ``Dataset.localCheckpoint`` always returns a ``LogicalRDD``
    wrapping exactly the RDD it persisted; anything else (no known
    Spark version) is left untracked rather than guessed at."""
    plan = out._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return plan.rdd()


def _checkpoint_tracked(self: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + registration of the checkpoint's
    RDD in the calling thread's release registry."""
    out = self.localCheckpoint(eager=eager)
    rdd = _checkpoint_rdd(out)
    if rdd is not None:
        _track(rdd)
    return out


DataFrame.persist_tracked = _persist_tracked  # type: ignore[attr-defined]
DataFrame.checkpoint_tracked = _checkpoint_tracked  # type: ignore[attr-defined]


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every DataFrame and checkpoint RDD THIS THREAD tracked
    since its last release; returns how many were released. Only
    library-tracked handles from the calling thread are touched — never
    the consumer's own cache, never another thread's in-flight
    intermediates. A released checkpoint can no longer be read, so
    call this only after the last read of the plans built on it."""
    t = threading.current_thread()
    with _LOCK:
        orphans = _reap_dead_locked()
        entry = _TRACKED.pop(t.ident, None)
        frames = entry[1] if entry is not None and entry[0]() is t else []
        if entry is not None and entry[0]() is not t:
            orphans.extend(entry[1])
    _unpersist_quiet(orphans)
    return _unpersist_quiet(frames, blocking)


def tracked_count() -> int:
    """Number of currently tracked (not yet released) persists and
    checkpoints for the calling thread."""
    t = threading.current_thread()
    with _LOCK:
        orphans = _reap_dead_locked()
        entry = _TRACKED.get(t.ident)
        n = len(entry[1]) if entry is not None and entry[0]() is t else 0
    _unpersist_quiet(orphans)
    return n


def _persistent_rdds(sc) -> dict[int, object]:
    """id → JVM RDD handle for every currently persisted RDD (the
    Scala SparkContext registry — catalog caches and localCheckpoint
    data both live there)."""
    out: dict[int, object] = {}
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class rotating_checkpoint:
    """Per-round ``localCheckpoint`` that FREES the previous round's
    checkpoint once the new one is materialized.

    An iterative operator that checkpoints a large state (an edge
    list) every round otherwise keeps EVERY round's materialized copy
    alive until the session GCs the plans — n_rounds × |state| of
    executor storage for state only the next round ever reads (the
    r8 kcore sf1 GC-thrash finding). Usage::

        ckpt = rotating_checkpoint(df.sparkSession)
        e = ckpt(e)            # rounds call this instead of
        ...                    # e.localCheckpoint()

    Each call reads the checkpoint RDD handle DIRECTLY off the
    returned plan (:func:`_checkpoint_rdd`), then unpersists the one
    the PREVIOUS call created: the new checkpoint never reads it (it
    materialized from it already). Each round checkpoints through
    ``checkpoint_tracked``, so :func:`release_persisted` frees the
    final one, which the returned plan reads.

    Identifying the RDD from the plan (r9, replacing a global
    persistent-registry diff) is what makes the rotation safe under
    concurrency: anything ELSE that happens to persist during the
    checkpoint action — a sibling thread's cache, a lazily
    materialized ``persist_tracked`` frame referenced by ``df``
    itself — is never adopted, so it can never be wrongly unpersisted
    on the next rotation. If the plan is ever not a ``LogicalRDD``
    (no known Spark version does this), the call degrades to a plain
    non-rotating checkpoint for that round rather than guessing from
    global state. Instances are single-threaded, like the loops that
    use them."""

    def __init__(self, spark) -> None:
        self._prev: list[object] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        out = df.checkpoint_tracked(eager=True)
        created = _checkpoint_rdd(out)
        for rdd in self._prev:
            try:
                rdd.unpersist(False)
            except Exception:  # noqa: BLE001 — already cleaned is fine
                pass
        self._prev = [created] if created is not None else []
        return out
