"""Measurement taken from outside the engine: counters and timers
wrapped around the public functions of its layers, session-drift
snapshots, and process CPU and memory read from ``/proc``.

The wrappers replace module attributes, so they must be installed
before ``movie_rankings_spark.plans`` is imported: the plan modules bind
``load_table`` and the operators bind ``state_hint`` by name at import.
"""

from __future__ import annotations

import functools
import os
import resource
import time
from collections import Counter

_CLK = os.sysconf("SC_CLK_TCK")


class LayerProbes:
    """Call counts and inclusive seconds per layer function.

    ``counts[key]`` and ``seconds[key]`` accumulate until :meth:`reset`.
    A timed call made while another call of the same key is running
    (``load_tables`` calling ``load_table``) is not counted again."""

    def __init__(self) -> None:
        self.counts: Counter[str] = Counter()
        self.seconds: Counter[str] = Counter()
        self._active: set[str] = set()

    def reset(self) -> None:
        self.counts.clear()
        self.seconds.clear()

    def _timed(self, fn, key: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if key in self._active:
                return fn(*args, **kwargs)
            self._active.add(key)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[key] += time.perf_counter() - t0
                self.counts[key] += 1
                self._active.discard(key)

        return wrapper

    def _counted(self, fn, key: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.counts[key] += 1
            return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        from pyspark.sql import DataFrame

        import movie_rankings_spark.caching  # noqa: F401 — adds persist_tracked
        import movie_rankings_spark.catalog as catalog
        import movie_rankings_spark.operators.adaptive as adaptive
        import movie_rankings_spark.sources.html as html

        for name in ("load_table", "load_tables", "register_views"):
            setattr(catalog, name, self._timed(getattr(catalog, name), "catalog.load"))
        adaptive.state_hint = self._counted(adaptive.state_hint, "operators.state_hint")
        html.scraped_from_sources = self._timed(html.scraped_from_sources, "sources.scrape")
        DataFrame.persist_tracked = self._counted(DataFrame.persist_tracked, "caching.persists")
        DataFrame.localCheckpoint = self._counted(DataFrame.localCheckpoint, "caching.checkpoints")
        DataFrame.checkpoint = self._counted(DataFrame.checkpoint, "caching.checkpoints")


def session_snapshot(spark) -> tuple[frozenset[str], dict[str, str], int]:
    """(temp views and tables, session conf, persisted RDD count)."""
    views = frozenset(t.name for t in spark.catalog.listTables())
    conf = dict(spark.conf.getAll)
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    return views, conf, rdds


def drift(before, after) -> tuple[int, int, int]:
    """(new views, conf keys added/removed/changed, new persisted RDDs)."""
    views0, conf0, rdds0 = before
    views1, conf1, rdds1 = after
    changed = {k for k in conf0.keys() | conf1.keys() if conf0.get(k) != conf1.get(k)}
    return len(views1 - views0), len(changed), max(0, rdds1 - rdds0)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of this process plus ``root`` and all its descendants
    (the JVM, its Python daemon and workers). A descendant that exits is
    counted through its parent's reaped-children time."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children.get(pid, ()))
    own = stats.get(os.getpid())
    return total + (own[1] if own is not None else 0.0)


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    with open(f"/proc/{jvm}/status") as fh:
        hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
