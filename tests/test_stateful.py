"""transformWithStateInPandas processor (streaming/stateful.py).

Two tiers (r6: the engine path runs for real — the vendored
pure-Python protobuf runtime in vendor/ satisfies the state-server
wire protocol, so the end-to-end test is no longer skip-gated and the
old fake-handle tier is reduced to fast pure-logic unit tests of the
accumulator arithmetic):

* pure-logic: handleInputRows against an in-memory fake handle —
  millisecond-fast checks of carry-across-batches and batch-slicing
  invariance of the integer accumulators.
* engine: the registered stream_transform_with_state query end to
  end through the real transformWithStateInPandas operator (RocksDB
  state store, 4 micro-batches), value-compared against the batch
  groupBy aggregate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from movie_rankings_spark.session import session_conf
from movie_rankings_spark.streaming.stateful import UserLifetimeProcessor


class FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class FakeMapState:
    def __init__(self):
        self._m = {}

    def updateValue(self, k, v):
        self._m[tuple(k)] = tuple(v)

    def keys(self):
        return iter(self._m.keys())

    def containsKey(self, k):
        return tuple(k) in self._m

    def clear(self):
        self._m.clear()


class FakeListState:
    def __init__(self):
        self._l = []

    def get(self):
        return iter(self._l)

    def put(self, newState):
        self._l = [tuple(t) for t in newState]

    def appendValue(self, v):
        self._l.append(tuple(v))

    def appendList(self, vs):
        self._l.extend(tuple(t) for t in vs)

    def clear(self):
        self._l.clear()


class FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeValueState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeMapState())

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeListState())


def _batch(ts_us, types, values):
    return pd.DataFrame({"ts_us": ts_us, "event_type": types, "value": values})


def test_processor_accumulates_across_batches():
    p = UserLifetimeProcessor()
    p.init(FakeHandle())
    out1 = list(
        p.handleInputRows(
            (7,), iter([_batch([100, 50], ["view", "click"], [1.5, 2.25])]), None
        )
    )[0]
    assert out1.iloc[0]["n_events"] == 2
    assert out1.iloc[0]["n_types"] == 2
    assert out1.iloc[0]["first_us"] == 50
    assert out1.iloc[0]["last_us"] == 100
    assert out1.iloc[0]["sum_micro"] == 1_500_000 + 2_250_000
    # second micro-batch: state carries, type census dedups
    out2 = list(
        p.handleInputRows((7,), iter([_batch([200], ["view"], [0.5])]), None)
    )[0]
    assert out2.iloc[0]["n_events"] == 3
    assert out2.iloc[0]["n_types"] == 2  # 'view' already known
    assert out2.iloc[0]["first_us"] == 50
    assert out2.iloc[0]["last_us"] == 200
    assert out2.iloc[0]["sum_micro"] == 3_750_000 + 500_000


def test_processor_matches_batch_aggregate_on_random_slicing():
    rng = np.random.RandomState(3)
    n = 200
    ts = rng.randint(0, 10**9, n)
    types = rng.choice(["a", "b", "c", "d"], n)
    vals = np.round(rng.uniform(-5, 5, n), 6)
    p = UserLifetimeProcessor()
    p.init(FakeHandle())
    cuts = sorted(rng.choice(range(1, n), 5, replace=False))
    last = None
    for lo, hi in zip([0] + cuts, cuts + [n]):
        last = list(
            p.handleInputRows(
                (1,),
                iter([_batch(ts[lo:hi], types[lo:hi], vals[lo:hi])]),
                None,
            )
        )[0]
    assert last.iloc[0]["n_events"] == n
    assert last.iloc[0]["n_types"] == len(set(types))
    assert last.iloc[0]["first_us"] == int(ts.min())
    assert last.iloc[0]["last_us"] == int(ts.max())
    assert last.iloc[0]["sum_micro"] == int(
        np.floor(vals * 1_000_000.0).astype(np.int64).sum()
    )


def test_engine_end_to_end_matches_batch_aggregate(spark, sf_dir):
    """The real operator (RocksDB state store, 4 micro-batches) must
    equal the batch groupBy on every column — the same equivalence
    the registered oracle checks, asserted value-exactly here."""
    from pyspark.sql import functions as F

    from movie_rankings_spark.plans.streaming_queries import (
        stream_transform_with_state,
    )

    out = {
        r["user_id"]: (
            r["n_events"], r["n_types"], r["first_us"], r["last_us"],
            r["sum_micro"],
        )
        for r in stream_transform_with_state(spark, sf_dir).collect()
    }
    batch = {
        r["user_id"]: (
            r["n_events"], r["n_types"], r["first_us"], r["last_us"],
            r["sum_micro"],
        )
        for r in (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_type").alias("n_types"),
                F.min(
                    F.unix_micros(F.col("ts").cast("timestamp"))
                ).alias("first_us"),
                F.max(
                    F.unix_micros(F.col("ts").cast("timestamp"))
                ).alias("last_us"),
                F.sum(
                    F.floor(F.col("value") * 1000000.0).cast("long")
                ).alias("sum_micro"),
            )
            .collect()
        )
    }
    assert out == batch


def test_lastk_processor_slicing_invariance():
    """LastKEventsProcessor: final top-3 equals the global top-3 by
    (ts DESC, event_id DESC) regardless of micro-batch slicing."""
    import numpy as np

    from movie_rankings_spark.streaming.stateful import LastKEventsProcessor

    rng = np.random.RandomState(6)
    n = 120
    ts = rng.randint(0, 50, n)  # heavy ties -> event_id tie-break matters
    ids = rng.permutation(n)
    p = LastKEventsProcessor()
    p.init(FakeHandle())
    cuts = sorted(rng.choice(range(1, n), 4, replace=False))
    last = None
    for lo, hi in zip([0] + cuts, cuts + [n]):
        last = list(
            p.handleInputRows(
                (9,),
                iter([pd.DataFrame({"ts_us": ts[lo:hi], "event_id": ids[lo:hi]})]),
                None,
            )
        )[0]
    want = sorted(zip(ts.tolist(), ids.tolist()), key=lambda x: (-x[0], -x[1]))[:3]
    got = [
        (last.iloc[0]["ts1"], last.iloc[0]["id1"]),
        (last.iloc[0]["ts2"], last.iloc[0]["id2"]),
        (last.iloc[0]["ts3"], last.iloc[0]["id3"]),
    ]
    assert last.iloc[0]["n_seen"] == n
    assert [(int(a), int(b)) for a, b in got] == want


class FakeTimerHandle(FakeHandle):
    def __init__(self):
        super().__init__()
        self.timers = set()

    def registerTimer(self, expiry):
        self.timers.add(int(expiry))

    def deleteTimer(self, expiry):
        self.timers.discard(int(expiry))

    def listTimers(self):
        return iter(sorted(self.timers))


class FakeTimerValues:
    def __init__(self, wm_ms):
        self._wm = wm_ms

    def getCurrentWatermarkInMs(self):
        return self._wm

    def getCurrentProcessingTimeInMs(self):
        return 0


class FakeExpiredTimerInfo:
    def __init__(self, expiry_ms):
        self._e = expiry_ms

    def getExpiryTimeInMs(self):
        return self._e


def _sess_batch(ts_us, ids):
    return pd.DataFrame({"ts_us": ts_us, "event_id": ids})


def test_session_processor_gap_split_and_timer_emission():
    """One batch spanning two sessions emits the first immediately;
    the trailing session is emitted by the timer once the watermark
    passes last + gap + slack, and the seq counter survives the
    state clear."""
    from movie_rankings_spark.streaming.stateful import (
        SESSION_CLOSE_SLACK_MS,
        SESSION_GAP_MS,
        SESSION_GAP_US,
        SessionTimeoutProcessor,
    )

    h = FakeTimerHandle()
    p = SessionTimeoutProcessor()
    p.init(h)
    t0 = 1_000_000_000_000  # us
    t1 = t0 + SESSION_GAP_US + 1  # strictly past the gap -> new session
    out = list(
        p.handleInputRows(
            (7,), iter([_sess_batch([t0, t1], [1, 2])]), FakeTimerValues(0)
        )
    )
    assert len(out) == 1
    assert out[0].iloc[0].to_dict() == {
        "user_id": 7, "session_seq": 1, "n_events": 1,
        "start_us": t0, "last_us": t0,
    }
    expiry = t1 // 1000 + SESSION_GAP_MS + SESSION_CLOSE_SLACK_MS
    assert h.timers == {expiry}
    # early firing (watermark short of threshold): no emission, re-armed
    assert (
        list(p.handleExpiredTimer((7,), FakeTimerValues(expiry - 1),
                                  FakeExpiredTimerInfo(expiry))) == []
    )
    assert h.timers == {expiry}
    # real firing: trailing session emitted, state cleared
    [fired] = list(
        p.handleExpiredTimer((7,), FakeTimerValues(expiry),
                             FakeExpiredTimerInfo(expiry))
    )
    assert fired.iloc[0].to_dict() == {
        "user_id": 7, "session_seq": 2, "n_events": 1,
        "start_us": t1, "last_us": t1,
    }
    # a fresh event after the clear continues the numbering at 3
    nxt = list(
        p.handleInputRows(
            (7,),
            iter([_sess_batch([t1 + 2 * SESSION_GAP_US], [3])]),
            FakeTimerValues(0),
        )
    )
    assert nxt == []  # opens session 3, nothing closed yet
    [row] = list(
        p.handleExpiredTimer(
            (7,), FakeTimerValues(10**18), FakeExpiredTimerInfo(0)
        )
    )
    assert row.iloc[0]["session_seq"] == 3


def test_session_processor_extends_across_batches():
    """A session straddling a batch boundary stays ONE session; the
    old timer is replaced by the extended one."""
    from movie_rankings_spark.streaming.stateful import (
        SESSION_CLOSE_SLACK_MS,
        SESSION_GAP_MS,
        SESSION_GAP_US,
        SessionTimeoutProcessor,
    )

    h = FakeTimerHandle()
    p = SessionTimeoutProcessor()
    p.init(h)
    t0 = 1_000_000_000_000
    t1 = t0 + SESSION_GAP_US  # == gap: still the same session (<=)
    assert list(
        p.handleInputRows((3,), iter([_sess_batch([t0], [1])]),
                          FakeTimerValues(0))
    ) == []
    assert list(
        p.handleInputRows((3,), iter([_sess_batch([t1], [2])]),
                          FakeTimerValues(0))
    ) == []
    assert h.timers == {t1 // 1000 + SESSION_GAP_MS + SESSION_CLOSE_SLACK_MS}
    [row] = list(
        p.handleExpiredTimer((3,), FakeTimerValues(10**18),
                             FakeExpiredTimerInfo(0))
    )
    assert row.iloc[0].to_dict() == {
        "user_id": 3, "session_seq": 1, "n_events": 2,
        "start_us": t0, "last_us": t1,
    }


def test_ttl_state_evicts_between_microbatches(spark, tmp_path):
    """State TTL (ProcessingTime mode — the only one Spark permits
    ttlDurationMs in): with a 1 ms TTL every micro-batch starts from
    empty state (batches are spaced far beyond 1 ms of wall time), so
    each emitted count is that batch's own size; with no TTL the
    counts accumulate. ProcessingTime-mode TWS keeps scheduling
    no-data micro-batches even under trigger(availableNow) — the
    query never self-terminates — so the test polls the memory sink
    for both data batches' emissions and stops the query itself."""
    import os
    import time
    import uuid

    from movie_rankings_spark.streaming.stateful import ttl_count_tws

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows_a = [(1, i) for i in range(3)]
    rows_b = [(1, i) for i in range(100, 102)]
    for i, rows in enumerate([rows_a, rows_b]):
        tmp = str(tmp_path / f"w{i}")
        spark.createDataFrame(
            rows, "user_id long, event_id long"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    with session_conf(spark, rocksdb):
        def run(ttl_ms):
            name = f"ttl_{uuid.uuid4().hex[:10]}"
            stream = (
                spark.readStream.schema("user_id long, event_id long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                ttl_count_tws(stream, ttl_ms)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option(
                    "checkpointLocation", str(tmp_path / f"ck_{name}")
                )
                .trigger(availableNow=True)
                .start()
            )
            try:
                deadline = time.time() + 120
                while time.time() < deadline:
                    if spark.table(name).count() >= 2:
                        break
                    time.sleep(0.5)
            finally:
                q.stop()
                q.awaitTermination(30)
            return sorted(
                r["batch_count"] for r in spark.table(name).collect()
            )

        assert run(ttl_ms=1) == [2, 3]       # each batch counts alone
        assert run(ttl_ms=None) == [3, 5]    # state survives -> running
