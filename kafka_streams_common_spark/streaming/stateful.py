"""Custom stateful streaming operators on ``applyInPandasWithState``:
per-key state the built-in aggregations cannot express.

Six order-sensitive folds that must see each key's events in event-time
order although the stream delivers them out of order:
:func:`session_aggregate_state`, :func:`funnel_state_machine`,
:func:`rate_limit_state`, :func:`temporal_asof_state`, :func:`holt_state`
and :func:`ewma_state`. They share :func:`_watermark_fold`, which buffers
rows in state until the watermark passes them and owns the state layout
and the timer; each operator supplies only its schemas and a pure fold.
Each reads fixed column names, listed in its docstring. The KTable winner
needs none of this: it is the engine's own ``latest_per_key`` aggregation
(``runner.run_latest_per_key_state``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_streams_common_spark.operators.timeseries import ewma_scan, holt_scan


# Buffered values as plain Python scalars, from pandas input or state
# arrays alike: a NULL bigint stays None, a NULL double becomes NaN.
def _long(v):
    return None if v is None or v != v else int(v)


def _double(v):
    return float("nan") if v is None else float(v)


def _column(values: list, dtype: T.DataType):
    # A NULL in a bigint column keeps it object-typed: pandas would widen
    # it to float64, exact only up to 2**53.
    if isinstance(dtype, T.LongType) and None in values:
        return pd.Series(values, dtype=object)
    return values


def _watermark_fold(
    stream: DataFrame,
    key_field: str,
    buffer: list[tuple[str, T.DataType]],
    carry: list[T.StructField],
    fold: Callable[[tuple, tuple | None, list[tuple], int], tuple],
    out_schema: T.StructType,
    output_mode: str,
) -> DataFrame:
    """Fold each key's rows in event-time order, as the watermark decides
    them: the one event-time protocol of the six timer-driven operators.

    ``buffer`` lists the input columns a row keeps while it waits, as
    ``(column, LongType() | DoubleType())`` pairs; the first is the event
    time in microseconds, and tuple order is fold order. ``carry`` is the
    per-key value the fold threads from call to call. The state struct is
    the carry fields, then one ``buf_<column>`` array per buffered column.

    Each call (new input for the key, or its timer firing) appends the
    input rows to the buffer unless the call timed out, then passes the
    rows the watermark has passed, sorted, to
    ``fold(key, carry, eligible_rows, wm_us) -> (carry, out_rows,
    wake_us)``; ``carry`` is None for a key with no carry yet. The cut is
    STRICT ``ts < wm``: the engine admits rows with ts == watermark (only
    ts < watermark is guaranteed late-dropped), so an equal-ts peer may
    still arrive, and folding at equality could fold out of order.

    Then, if the fold returned no carry and nothing stays buffered, the
    state row is removed. Otherwise state is written back (a None carry
    as nulls) and the timer armed at the earliest buffered event, or at
    ``wake_us`` when the buffer is empty (no timer when that is None), as
    ``max(us // 1000 + 1, wm_ms + 1)``: past the event, and past the
    current watermark as the engine requires. ``out_rows`` are tuples in
    ``out_schema`` order.
    """
    n_carry = len(carry)
    cols = [c for c, _ in buffer]
    convs = [_double if isinstance(t, T.DoubleType) else _long for _, t in buffer]
    state_schema = T.StructType(
        list(carry)
        + [T.StructField(f"buf_{c}", T.ArrayType(t)) for c, t in buffer]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        prior, buf = None, []
        if state.exists:
            row = state.get
            if any(v is not None for v in row[:n_carry]):
                prior = row[:n_carry]
            buf = list(zip(*(map(f, row[n_carry + j]) for j, f in enumerate(convs))))
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(zip(*(map(f, pdf[c].tolist()) for c, f in zip(cols, convs))))
        eligible = sorted(e for e in buf if e[0] < wm_us)
        buf = [e for e in buf if e[0] >= wm_us]
        new, rows, wake_us = fold(key, prior, eligible, wm_us)
        if new is None and not buf:
            state.remove()
        else:
            held = [list(c) for c in zip(*buf)] if buf else [[] for _ in cols]
            state.update((*((None,) * n_carry if new is None else new), *held))
            if buf:
                wake_us = min(e[0] for e in buf)
            if wake_us is not None:
                state.setTimeoutTimestamp(max(wake_us // 1000 + 1, wm_ms + 1))
        if rows:
            yield pd.DataFrame(
                {
                    f.name: _column(list(c), f.dataType)
                    for f, c in zip(out_schema.fields, zip(*rows))
                }
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def session_aggregate_state(stream: DataFrame, gap_seconds: int) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator: Kafka
    Streams' ``SessionWindows.with(inactivityGap)`` on event time. Per
    ``user_id``, events buffer until the watermark passes them, then fold
    in event-time order: a session extends while the next event is at
    most ``gap_seconds`` after its end, else it is emitted and a new one
    opens. The open session is emitted once the watermark passes
    end + gap, when no admitted event can still join it. Emits one
    ``(key, session_start_us, session_end_us, n_events)`` row per closed
    session, in append mode: a session row is final when emitted.

    Input contract: a watermarked stream of ``(user_id, ts, ts_us)``,
    ``ts_us`` the event time as bigint microseconds (keep the watermarked
    ``ts`` in the projection; event-time timeouts resolve the watermark
    from it). Sessions still open when a bounded source ends stay in
    state: the decided-region caveat of stream-stream outer joins.

    State per key: the open session plus the events inside the watermark
    lag; a key with neither has its state row removed.
    """
    gap_us = gap_seconds * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def fold(key, carry, rows, wm_us):
        closed = []
        for (t,) in rows:
            if carry is None:
                carry = (t, t, 1)
            elif t - carry[1] <= gap_us:
                carry = (carry[0], t, carry[2] + 1)
            else:
                closed.append((key[0], *carry))
                carry = (t, t, 1)
        if carry is not None and carry[1] + gap_us < wm_us:
            closed.append((key[0], *carry))
            carry = None
        return carry, closed, None if carry is None else carry[1] + gap_us

    return _watermark_fold(
        stream,
        "user_id",
        [("ts_us", T.LongType())],
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ],
        fold,
        out_schema,
        "append",
    )


def funnel_state_machine(stream: DataFrame, n_stages: int) -> DataFrame:
    """STREAMING k-step funnel — the strict-sequential-min semantics of
    ``operators.funnel.funnel_conversion`` computed incrementally, and
    the reason this needs a custom state machine rather than a chain of
    streaming joins: the funnel fold is ORDER-SENSITIVE (stage i's
    earliest qualifying event must be strictly after stage i-1's), but a
    stream delivers events out of order across microbatches. The
    watermark is exactly the order oracle: events BUFFER in state until
    the watermark passes them, then fold into the per-user stage
    timestamps in global event-time order — at that point no earlier
    event can still arrive, so every fold decision is final.

    Input contract: watermarked stream of ``(user_id, ts_us, stage)`` where
    ``stage`` ∈ 1..n_stages is the funnel stage the event satisfies
    (map the predicates upstream; non-stage events filtered out). The
    WATERMARKED column itself must survive the caller's projection —
    event-time timeouts resolve the watermark from that column, and
    ``unix_micros(ts)`` does not inherit the tag (keep ``ts`` in the
    select even though this operator reads only ``ts_us``).
    Emits ``(key, t1_us..tk_us, funnel_stage)`` in update mode whenever
    a user's folded state changes (t_i = earliest stage-i event strictly
    after t_{i-1}; nulls past the user's depth); a user appears once
    entered (t1 set). Emissions are monotone — t_i is set at most once,
    ``funnel_stage`` never decreases — so the per-key compaction is a
    null-skipping max per column.

    Scale shape: state per key = k stage slots + the events inside the
    watermark lag (bounded by delay × per-key rate, the standard
    buffered-reorder cost); everything folds in per-key Arrow batches.
    """
    out_schema = T.StructType(
        [T.StructField("key", T.LongType())]
        + [T.StructField(f"t{i}_us", T.LongType()) for i in range(1, n_stages + 1)]
        + [T.StructField("funnel_stage", T.LongType())]
    )

    def fold(key, carry, rows, wm_us):
        t = list(carry[0]) if carry else [-1] * n_stages
        changed = False
        for ts, s in rows:
            if s == 1:
                if t[0] < 0:
                    t[0] = ts
                    changed = True
            elif t[s - 2] >= 0 and ts > t[s - 2] and t[s - 1] < 0:
                t[s - 1] = ts
                changed = True
        out = []
        if changed and t[0] >= 0:
            depth = next((i for i, v in enumerate(t) if v < 0), n_stages)
            out.append((key[0], *(v if v >= 0 else None for v in t), depth))
        return (t,), out, None

    return _watermark_fold(
        stream,
        "user_id",
        [("ts_us", T.LongType()), ("stage", T.LongType())],
        [T.StructField("t", T.ArrayType(T.LongType()))],
        fold,
        out_schema,
        "update",
    )


def rate_limit_state(
    stream: DataFrame, n_per_window: int, window_us: int
) -> DataFrame:
    """STREAMING per-key quota enforcement: admit at most ``n_per_window``
    events per key per tumbling window of ``window_us`` microseconds,
    chosen by EVENT TIME — the ingest-throttling / dedup-budget operator
    (cap per-user contributions per hour so one hot producer cannot
    flood a training corpus or a billing pipeline).

    Admission is order-sensitive (the FIRST n events of the window win),
    so — like the streaming funnel — events buffer in state until the
    watermark passes them, then fold in global (ts, id) event-time
    order; at that point every earlier same-window event has already
    folded, making each admit/reject decision final. Input: a
    watermarked stream of ``(user_id, ts, ts_us, event_id)``. Emits
    admitted events in APPEND mode: ``(key, id, ts_us, window_start_us)``.

    State per key: admitted-count per OPEN window plus the buffered
    events inside the watermark lag. Windows whose end the watermark has
    passed are evicted (their counts can never change), so state is
    bounded by windows-in-flight × lag — the metrics-asserted contract
    in tests/test_stateful_and_bucketing.py. A key with no open window
    and nothing buffered has its state row removed, so dormant keys do
    not accumulate; a key with open windows but an empty buffer wakes
    when its last open window ends, to evict it. Buffered events whose
    window was already evicted (late beyond watermark) are dropped, the
    same policy windowed aggregation applies to late data.
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("window_start_us", T.LongType()),
        ]
    )

    def fold(key, carry, rows, wm_us):
        starts, counts, evict_wm = carry or ([], [], 0)
        wins = dict(zip(starts, counts))
        admitted = []
        for ts, eid in rows:
            w = ts - (ts % window_us)
            if w + window_us <= evict_wm:
                # late beyond an earlier fold's watermark: its window's
                # count was already evicted — drop (the windowed-agg
                # late-data policy); re-admitting here would overshoot
                continue
            c = wins.get(w, 0)
            if c < n_per_window:
                wins[w] = c + 1
                admitted.append((key[0], eid, ts, w))
        # evict windows that can never change again (no event with
        # ts < window end can still be eligible in a FUTURE fold, and
        # evict_wm above drops the contract-violating stragglers)
        wins = {w: c for w, c in wins.items() if w + window_us > wm_us}
        if not wins:
            return None, admitted, None
        carry = (list(wins), list(wins.values()), max(evict_wm, wm_us))
        return carry, admitted, max(wins) + window_us

    return _watermark_fold(
        stream,
        "user_id",
        [("ts_us", T.LongType()), ("event_id", T.LongType())],
        [
            T.StructField("win_starts", T.ArrayType(T.LongType())),
            T.StructField("win_counts", T.ArrayType(T.LongType())),
            T.StructField("evict_wm", T.LongType()),
        ],
        fold,
        out_schema,
        "append",
    )


def temporal_asof_state(stream: DataFrame) -> DataFrame:
    """STREAMING temporal (backward as-of) join — the Flink
    temporal-table join Spark has no built-in for: each LEFT event is
    enriched with the latest RIGHT version whose event time is ≤ the
    left event's time, decided in EVENT-TIME order under a watermark.

    Input is the two sides UNIONED into one keyed, watermarked stream
    (the stateful twin of ``operators/asof.py``'s union+window batch
    construction) with columns ``(key, ts, ts_us, side, id, rkey,
    rval)`` — ``side`` 0 for right/version rows (payload in
    ``rkey``/``rval``), 1 for left/probe rows. Rows buffer in state
    until the watermark passes them, then fold sorted by
    ``(ts, side, id)``: a right row advances the carried version iff
    its ``(ts, id)`` exceeds the carried one (monotone carry — a late
    right older than the current version is correctly ignored), a left
    row emits with whatever version is carried at its event time
    (NULLs before the first version). Side 0 < side 1 means a version
    timestamped exactly at the probe's time IS visible to it — the
    ``≥`` convention of the batch as-of and DuckDB's ASOF JOIN; at
    equal right timestamps the max-id version wins, matching the batch
    oracle's ``row_number() … ORDER BY id DESC`` dedupe.

    State per key after folding: ONE carried version + the
    inside-watermark buffer — the KTable-minimum footprint of any
    temporal join (the version must persist for future probes, so
    dormant keys keep exactly one row; the buffer is bounded by the
    lag). Left rows arriving later than an already-folded watermark
    are dropped — the same late-data contract as windowed aggregation.

    Emits in APPEND mode: ``(key, id, ts_us, matched_rkey,
    matched_rval, matched_ts_us)``.
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("matched_rkey", T.LongType()),
            T.StructField("matched_rval", T.DoubleType()),
            T.StructField("matched_ts_us", T.LongType()),
        ]
    )

    def fold(key, carry, rows, wm_us):
        last_ts, last_id, last_rkey, last_rval, evict_wm = carry or (
            None, None, None, None, 0,
        )
        emitted = []
        for t, s, i, rk, rv in rows:
            if s == 0:
                # monotone version carry: a late right OLDER than the
                # carried version must not regress it
                if last_ts is None or (t, i) >= (last_ts, last_id):
                    last_ts, last_id, last_rkey, last_rval = t, i, rk, rv
            elif t >= evict_wm:  # else: left beyond an earlier fold, late-drop
                emitted.append((key[0], i, t, last_rkey, last_rval,
                                last_ts if last_rkey is not None else None))
        carry = (last_ts, last_id, last_rkey, last_rval, max(evict_wm, wm_us))
        return carry, emitted, None

    return _watermark_fold(
        stream,
        "key",
        [
            ("ts_us", T.LongType()),
            ("side", T.LongType()),
            ("id", T.LongType()),
            ("rkey", T.LongType()),
            ("rval", T.DoubleType()),
        ],
        [
            T.StructField("last_ts", T.LongType()),
            T.StructField("last_id", T.LongType()),
            T.StructField("last_rkey", T.LongType()),
            T.StructField("last_rval", T.DoubleType()),
            T.StructField("evict_wm", T.LongType()),
        ],
        fold,
        out_schema,
        "append",
    )


def holt_state(
    stream: DataFrame, alpha: float = 0.5, beta: float = 0.25
) -> DataFrame:
    """STREAMING Holt linear-trend smoothing — the
    ``operators/timeseries.py: holt_linear`` recurrence computed
    incrementally on a live stream: per key, in GLOBAL EVENT-TIME
    order, ``l = α·x + (1−α)·(l_prev + b_prev)`` then
    ``b = β·(l − l_prev) + (1−β)·b_prev``; each event emits its folded
    (level, trend, forecast = level + trend) exactly once when the
    watermark decides it. Identical conventions to :func:`ewma_state`
    (the buffered watermark fold): the only difference is TWO carried
    scalars instead of one — still the O(1)-per-key KTable-aggregate
    footprint, never removed because any later event continues the
    chain. Input: a watermarked stream of ``(event_type, ts, ts_us,
    event_id, value)``, as for :func:`ewma_state`.

    The fold continues ``operators/timeseries.py: holt_scan`` from the
    carried ``(level, trend, n)``, the same scan the batch kernel runs,
    so stream ≡ batch bit-for-bit on the decided region (see its
    determinism contract).
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fold(key, carry, rows, wm_us):
        lt, carry = holt_scan(
            [x for _, _, x in rows], alpha, beta, *(carry or (0.0, 0.0, 0))
        )
        out = [
            (str(key[0]), t, i, x, lv, bv, lv + bv)
            for (t, i, x), (lv, bv) in zip(rows, lt)
        ]
        return carry, out, None

    return _watermark_fold(
        stream,
        "event_type",
        [
            ("ts_us", T.LongType()),
            ("event_id", T.LongType()),
            ("value", T.DoubleType()),
        ],
        [
            T.StructField("lv", T.DoubleType()),
            T.StructField("bv", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ],
        fold,
        out_schema,
        "append",
    )


def ewma_state(stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """STREAMING EWMA — the ``operators/timeseries.py: ewma`` recurrence
    computed incrementally on a live stream: per key, every event's
    smoothed value is ``a·x + (1−a)·prev`` over the sequence in GLOBAL
    EVENT-TIME order. The recurrence is order-sensitive (one early event
    folded late changes every subsequent output), so events BUFFER in
    state until the watermark passes them and fold in (ts, id) order —
    the funnel/rate-limiter buffered-reorder convention: once the
    watermark passes an event no earlier event can arrive, so its folded
    EWMA is final and is emitted exactly once.

    Input: a watermarked stream of ``(event_type, ts, ts_us, event_id,
    value)``; the key is ``event_type``.

    State per key = ONE carried scalar (the running EWMA) + the buffer
    inside the watermark lag (bounded by delay × per-key rate). The
    carried scalar is the whole point: unlike windowed smoothing, the
    recurrence needs no history — this is the O(1)-per-key state a
    Kafka Streams ``aggregate()`` would keep, which is why state is
    never removed (a key's next event, whenever it comes, continues the
    chain; |keys| scalars is the permanent footprint, not a leak).

    The fold continues ``operators/timeseries.py: ewma_scan`` from the
    carried ``(ewma, n)``, the same scan the batch kernel runs, so
    stream ≡ batch bit-for-bit on the decided region (see its
    determinism contract).
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )

    def fold(key, carry, rows, wm_us):
        ys, carry = ewma_scan([x for _, _, x in rows], alpha, *(carry or (0.0, 0)))
        return carry, [(str(key[0]), *r, y) for r, y in zip(rows, ys)], None

    return _watermark_fold(
        stream,
        "event_type",
        [
            ("ts_us", T.LongType()),
            ("event_id", T.LongType()),
            ("value", T.DoubleType()),
        ],
        [T.StructField("prev", T.DoubleType()), T.StructField("n", T.LongType())],
        fold,
        out_schema,
        "append",
    )
