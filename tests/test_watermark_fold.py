"""Contract of ``streaming.stateful._watermark_fold``, the event-time
protocol the six timer-driven stateful operators share, and micro-batch
cut invariance for each of them. Each ``update`` function is driven
directly with a fake ``GroupState``: no Spark session, no stream, every
call and its state write visible."""

from __future__ import annotations

import math
import pathlib
from collections import Counter

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from kafka_streams_common_spark.streaming import stateful
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


def test_apply_in_pandas_with_state_is_only_called_by_watermark_fold():
    """Python per-key state has one entry point: ``_watermark_fold``.
    Per-key state a built-in aggregation can hold (the KTable winner)
    stays in the engine."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "kafka_streams_common_spark"
    sites = {
        str(p.relative_to(pkg)): p.read_text().count(".applyInPandasWithState(")
        for p in pkg.rglob("*.py")
    }
    assert {p: n for p, n in sites.items() if n} == {"streaming/stateful.py": 1}


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


# Micro-batch cut invariance (D-Streams: a stream is a series of batch
# computations whose result matches one batch job over the same input).
# Every operator reads its columns from one frame: ``a`` doubles as the
# funnel stage and (odd or even) the as-of side, one id as every id.
OPERATORS = {
    "session": lambda s: stateful.session_aggregate_state(s, gap_seconds=1),
    "funnel": lambda s: stateful.funnel_state_machine(s, n_stages=3),
    "rate_limit": lambda s: stateful.rate_limit_state(s, 2, 1_000_000),
    "temporal_asof": stateful.temporal_asof_state,
    "holt": stateful.holt_state,
    "ewma": stateful.ewma_state,
}


def frame(rows):
    """``(key, ts_us, a, x, id)`` rows as the columns every operator reads."""
    k, ts, a, x, i = (list(c) for c in zip(*rows))
    return pd.DataFrame(
        {"key": k, "ts_us": ts, "event_id": i, "id": i, "stage": a,
         "side": [v % 2 for v in a], "rkey": i, "rval": x, "value": x}
    )


def canon(v):
    v = v.item() if hasattr(v, "item") else v
    return None if v is None or v != v else v


def drive(update, batches, delay_ms, final_wm_ms):
    """Run ``update`` over ``batches`` as Spark runs an operator with
    event-time timeouts: each batch's watermark is the previous batches'
    maximum event time (milliseconds) less the delay, never decreasing;
    rows below it are dropped, keys with data are called first, then
    keys without data whose timer the watermark passed. A last batch with
    no data runs at ``final_wm_ms``. Returns the emitted rows and the
    admitted ones."""
    states, emitted, admitted = {}, [], []
    wm_ms = 0

    def call(key, rows, timed_out):
        state = states.setdefault(key, FakeState(wm_ms))
        state.wm_ms, state.hasTimedOut, state.timeout_ms = wm_ms, timed_out, None
        pdfs = [frame(rows)] if rows else []
        for pdf in update((key,), iter(pdfs), state):
            emitted.extend(tuple(map(canon, r)) for r in pdf.itertuples(index=False))
        if not state.exists:
            del states[key]

    for n, batch in enumerate([*batches, []]):
        if n == len(batches):
            wm_ms = max(wm_ms, final_wm_ms)
        live = [r for r in batch if r[1] >= wm_ms * 1000]
        admitted += live
        keys = sorted({r[0] for r in live})
        for key in keys:
            call(key, [r for r in live if r[0] == key], False)
        due = [k for k, s in states.items() if k not in keys
               and s.timeout_ms is not None and s.timeout_ms < wm_ms]
        for key in sorted(due):
            call(key, [], True)
        if batch:
            wm_ms = max(wm_ms, max(r[1] for r in batch) // 1000 - delay_ms)
    return emitted, admitted


# (key, ts_us, a, x, rank). Times on a 0.5 s grid meet the watermark and
# each other exactly; the rank gives the id its high digits, so rows with
# equal times do not arrive in id order.
events = st.lists(
    st.tuples(
        st.integers(0, 1),
        st.one_of(
            st.integers(0, 12).map(lambda t: t * 500_000),
            st.integers(0, 6_000_000),
        ),
        st.integers(1, 3),
        st.sampled_from([0.5, -1.25, 3.0, 10.0]),
        st.integers(0, 9),
    ),
    max_size=30,
)


@pytest.mark.parametrize("name", sorted(OPERATORS))
@settings(deadline=None, max_examples=60)
@given(
    events=events,
    cuts=st.lists(st.integers(0, 30), max_size=6),
    delay_ms=st.sampled_from([0, 500, 2_000, 5_000]),
)
# The session counterexample: 150 us is admitted after 5 s under a 5 s
# delay, and must join the session of 100 us, not the open one at 5 s.
@example(
    events=[(7, 100, 1, 0.5, 0), (7, 5_000_000, 1, 0.5, 0), (7, 150, 1, 0.5, 0)],
    cuts=[2],
    delay_ms=5_000,
)
# A row exactly at the watermark is admitted: an as-of probe there must
# be emitted, and a session ending one gap before it must not close yet.
@example(events=[(0, 200_000, 1, 0.5, 0)] * 2, cuts=[1], delay_ms=0)
@example(
    events=[(0, 0, 1, 0.5, 0), (1, 1_000_000, 1, 0.5, 0), (0, 1_000_000, 1, 0.5, 0)],
    cuts=[2],
    delay_ms=0,
)
# Equal-time rows reach the watermark one batch at a time, ids descending.
@example(
    events=[(0, 1_000_000, 1, x, r) for x, r in ((0.5, 9), (3.0, 5), (10.0, 1))],
    cuts=[1, 2],
    delay_ms=0,
)
def test_micro_batch_cuts_do_not_change_the_result(name, events, cuts, delay_ms):
    """However the input is cut into micro-batches, the rows an operator
    emits equal one batch over the rows the cut admitted; an update-mode
    operator is compared by its last emission per key."""
    rows = [(*e[:4], e[4] * 100 + i) for i, e in enumerate(events)]
    bounds = sorted({0, len(rows), *(c for c in cuts if c < len(rows))})
    batches = [rows[lo:hi] for lo, hi in zip(bounds, bounds[1:])]
    stream = FakeStream()
    OPERATORS[name](stream)
    update = stream.call["func"]
    final_wm_ms = 60_000 + max((r[1] for r in rows), default=0) // 1000
    got, admitted = drive(update, batches, delay_ms, final_wm_ms)
    want, _ = drive(update, [admitted], delay_ms, final_wm_ms)
    if stream.call["outputMode"] == "update":
        got, want = ({r[0]: r for r in rs} for rs in (got, want))
    else:
        got, want = Counter(got), Counter(want)
    assert got == want
