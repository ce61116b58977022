"""Contract of ``streaming.stateful._watermark_fold``, the event-time
protocol the five buffered stateful operators share. Its ``update``
function is driven directly with a fake ``GroupState``: no Spark session,
no stream, every call and its state write visible."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from kafka_streams_common_spark.streaming.stateful import _watermark_fold

BUFFER = [("ts_us", T.LongType()), ("x", T.DoubleType())]
CARRY = [T.StructField("n", T.LongType())]
OUT = T.StructType(
    [T.StructField("key", T.LongType()), T.StructField("ts_us", T.LongType())]
)


class FakeState:
    """The slice of ``GroupState`` the helper uses."""

    def __init__(self, wm_ms, value=None, timed_out=False):
        self.wm_ms = wm_ms
        self.value = value
        self.hasTimedOut = timed_out
        self.timeout_ms = None
        self.removed = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


class FakeStream:
    """Records the one ``groupBy(...).applyInPandasWithState(...)`` call."""

    def __init__(self):
        self.call = {}

    def groupBy(self, key):
        self.call["key"] = key
        return self

    def applyInPandasWithState(self, func, **kwargs):
        self.call.update(kwargs, func=func)
        return "out"


def make(keep=True, wake_us=None):
    """Build the helper around a fold that counts the rows it sees, emits
    one ``(key, ts_us)`` row each, and drops its carry unless ``keep``."""
    seen = []

    def fold(key, carry, rows, wm_us):
        seen.append((carry, list(rows), wm_us))
        n = (carry[0] if carry else 0) + len(rows)
        return ((n,) if keep else None), [(key[0], r[0]) for r in rows], wake_us

    stream = FakeStream()
    assert _watermark_fold(stream, "k", BUFFER, CARRY, fold, OUT, "append") == "out"
    return stream.call, seen


def run(update, state, *rows):
    pdfs = [pd.DataFrame(rows, columns=["ts_us", "x"])] if rows else []
    return list(update((7,), iter(pdfs), state))


def test_one_call_with_uniform_state_layout():
    call, _ = make()
    assert call["key"] == "k"
    assert call["outputMode"] == "append"
    assert call["timeoutConf"] == GroupStateTimeout.EventTimeTimeout
    assert call["outputStructType"] == OUT
    assert call["stateStructType"] == T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("buf_ts_us", T.ArrayType(T.LongType())),
            T.StructField("buf_x", T.ArrayType(T.DoubleType())),
        ]
    )


def test_event_at_watermark_stays_buffered_and_eligible_rows_fold_sorted():
    call, seen = make()
    state = FakeState(wm_ms=10)
    out = run(call["func"], state, (10_000, 1.0), (9_999, 2.0), (5_000, 3.0))
    assert seen == [(None, [(5_000, 3.0), (9_999, 2.0)], 10_000)]
    assert state.value == (2, [10_000], [1.0])
    assert len(out) == 1
    assert out[0].to_dict("list") == {"key": [7, 7], "ts_us": [5_000, 9_999]}


def test_timer_is_earliest_buffered_event_past_the_watermark():
    call, _ = make(wake_us=1)
    state = FakeState(wm_ms=10)
    run(call["func"], state, (25_500, 1.0), (40_000, 2.0), (10_000, 3.0))
    # max(earliest_us // 1000 + 1, wm_ms + 1) with earliest 10_000
    assert state.timeout_ms == max(10_000 // 1000 + 1, 10 + 1) == 11
    state = FakeState(wm_ms=10)
    run(call["func"], state, (25_500, 1.0), (40_000, 2.0))
    assert state.timeout_ms == 26


def test_timed_out_call_adds_no_input_but_folds_newly_eligible_rows():
    call, seen = make()
    state = FakeState(wm_ms=30, value=(4, [20_000, 50_000], [1.0, 2.0]),
                      timed_out=True)
    out = run(call["func"], state, (21_000, 9.0))
    assert seen == [((4,), [(20_000, 1.0)], 30_000)]
    assert state.value == (5, [50_000], [2.0])
    assert state.timeout_ms == 51
    assert out[0].to_dict("list") == {"key": [7], "ts_us": [20_000]}


def test_no_carry_and_empty_buffer_removes_state():
    call, _ = make(keep=False, wake_us=90_000_000)
    state = FakeState(wm_ms=30, value=(1, [20_000], [1.0]), timed_out=True)
    run(call["func"], state)
    assert state.removed and not state.exists
    assert state.timeout_ms is None


def test_no_carry_with_buffered_rows_keeps_state_with_null_carry():
    call, seen = make(keep=False)
    state = FakeState(wm_ms=10)
    run(call["func"], state, (20_000, 1.0))
    assert not state.removed
    assert state.value == (None, [20_000], [1.0])
    # an all-null carry reads back as "no carry"
    state.wm_ms, state.hasTimedOut = 30, True
    run(call["func"], state)
    assert seen[-1] == (None, [(20_000, 1.0)], 30_000)
    assert state.removed


def test_wake_is_used_only_when_the_buffer_is_empty():
    call, _ = make(wake_us=90_000_000)
    state = FakeState(wm_ms=10)
    run(call["func"], state, (20_000, 1.0))
    assert state.timeout_ms == 21
    state = FakeState(wm_ms=10)
    run(call["func"], state, (5_000, 1.0))
    assert state.value == (1, [], [])
    assert state.timeout_ms == 90_001
    # a wake at or before the watermark still arms past it
    call, _ = make(wake_us=0)
    state = FakeState(wm_ms=10)
    run(call["func"], state, (5_000, 1.0))
    assert state.timeout_ms == 11


def test_no_wake_and_empty_buffer_sets_no_timer():
    call, _ = make()
    state = FakeState(wm_ms=10)
    out = run(call["func"], state, (5_000, 1.0))
    assert state.value == (1, [], [])
    assert state.timeout_ms is None
    assert len(out) == 1


def test_nulls_round_trip_through_the_buffer():
    call, seen = make()
    state = FakeState(wm_ms=10)
    run(call["func"], state, (20_000, None))
    assert math.isnan(state.value[2][0])
    state.wm_ms = 30
    run(call["func"], state)
    (_, rows, _), = seen[-1:]
    assert rows[0][0] == 20_000 and math.isnan(rows[0][1])
