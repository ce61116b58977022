"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the Spark-side shape for per-key state the built-in aggregations can't
express (session state machines, per-key counters with emission policies,
enrichment caches).

``running_counter`` is the demonstration operator: a per-key cumulative
event counter whose state survives across microbatches. The structure —
state schema, GroupState get/update, Arrow-batched group iteration — is the
production pattern; the body is where domain logic goes.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("total", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType())])


def running_counter(grouped_stream: DataFrame, key_col: str) -> DataFrame:
    """Per-key cumulative row counter over a stream.

    Emits one ``(key, total)`` row per key per microbatch in which the key
    appears; ``total`` is cumulative across the whole stream (kept in
    GroupState, the RocksDB-backed state-store analog of a Kafka Streams
    ``transformValues`` with a KeyValueStore).
    """

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (total,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"key": [str(key[0])], "total": [total]})

    return grouped_stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def latest_per_key_tws(
    stream: DataFrame,
    key_field: str,
    seq_field: str,
    tiebreak_field: str,
) -> DataFrame:
    """KTable latest-per-key as a NATIVE Spark 4 stateful operator —
    ``transformWithStateInPandas`` with one ValueState row per key holding
    the current winner under the ``(seq, tiebreak)`` total order. Emits a
    key's row whenever its winner changes (update mode): a true changelog
    stream, the idiomatic endgame for S2 streaming that SURVEY §4.2 staged
    after the ``foreachBatch`` parquet merge
    (cited: KTableRegistry.java:41-50 — the RocksDB-backed KTable this
    mirrors; here the state store IS RocksDB, managed by Spark).

    Requires the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass`` — set by
    :func:`run_latest_per_key_tws`). All input columns must be scalar
    (project timestamps to ``unix_micros`` first; the caller restores
    them) so state round-trips through Arrow without engine-specific
    timestamp semantics.

    Scale shape: state is one row per DISTINCT key (RocksDB-backed,
    incrementally checkpointed), input streams through per-key Arrow
    batches, and nothing is collected — the same posture as the built-in
    streaming aggregations.

    ENVIRONMENT GATE (declared, like the Kafka broker wiring): Spark's
    ``transformWithState`` Python worker speaks a protobuf protocol to
    the JVM state server and needs the ``protobuf`` package at runtime —
    absent from this container (no installs allowed), so the equivalence
    + recovery test skips here (``tests/test_streaming.py``, importorskip).
    The SAME semantics are fully exercised at runtime anyway:
    :func:`latest_per_key_state` is the ``applyInPandasWithState`` twin
    (no protobuf — its GroupState protocol rides the regular Arrow
    channel), with a live multi-batch pytest and a registered
    oracle-gated query (``streaming_latest_per_key_state``), alongside
    the ``foreachBatch`` merge path (``streaming_latest_per_key``). On a
    cluster with protobuf this operator is the drop-in upgrade of both.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    schema = stream.schema
    cols = [f.name for f in schema.fields]
    seq_i, tie_i = cols.index(seq_field), cols.index(tiebreak_field)

    class _LatestPerKey(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState("latest", schema)

        def handleInputRows(self, key, rows, timer_values):
            best = tuple(self._latest.get()) if self._latest.exists() else None
            changed = False
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                top = pdf.sort_values(
                    [seq_field, tiebreak_field], ascending=False
                ).iloc[0]
                cand = tuple(
                    x.item() if hasattr(x, "item") else x for x in (top[c] for c in cols)
                )
                if best is None or (cand[seq_i], cand[tie_i]) > (
                    best[seq_i],
                    best[tie_i],
                ):
                    best = cand
                    changed = True
            if changed:
                self._latest.update(best)
                yield pd.DataFrame([best], columns=cols)

        def close(self) -> None:
            pass

    return stream.groupBy(key_field).transformWithStateInPandas(
        _LatestPerKey(),
        outputStructType=schema,
        outputMode="Update",
        timeMode="None",
    )


def run_latest_per_key_tws(
    stream: DataFrame,
    spark,
    key_field: str,
    seq_field: str,
    tiebreak_field: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drive :func:`latest_per_key_tws` to completion and return the final
    state table as a batch DataFrame.

    The memory sink appends every changelog emission; per key those
    emissions are monotone in ``(seq, tiebreak)`` by construction, so the
    final state is their per-key max — the same compaction a Kafka
    changelog-topic consumer applies. The RocksDB provider is set for the
    query and restored afterwards (built-in streaming aggs elsewhere keep
    their default provider). Runs through ``runner._drain``, so state
    gets one task wave of partitions; the ``tws_*`` temp view is dropped
    before returning (the result plan binds eagerly at ``spark.table``)."""
    import uuid

    from kafka_streams_common_spark.registry import latest_per_key
    from kafka_streams_common_spark.streaming.runner import _drain

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        out = latest_per_key_tws(stream, key_field, seq_field, tiebreak_field)
        name = f"tws_{uuid.uuid4().hex[:12]}"
        writer = (
            out.writeStream.format("memory").queryName(name).outputMode("update")
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        _drain(spark, writer)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    try:
        return latest_per_key(
            spark.table(name), key_field, seq_field, tiebreak_field
        )
    finally:
        spark.catalog.dropTempView(name)


def latest_per_key_state(
    stream: DataFrame,
    key_field: str,
    seq_field: str,
    tiebreak_field: str,
) -> DataFrame:
    """KTable latest-per-key as a custom stateful operator via
    ``applyInPandasWithState`` — the SAME changelog semantics as
    :func:`latest_per_key_tws` (one state row per key holding the current
    winner under the ``(seq, tiebreak)`` total order, emitted on change)
    but on the GroupState API, whose Python protocol rides the regular
    Arrow worker channel and needs NO protobuf — so unlike the
    transformWithState twin this one RUNS in this container and carries a
    live runtime test + a registered oracle-gated query
    (``streaming_latest_per_key_state``).

    Same caller contract as the TWS twin: all columns scalar (project
    timestamps to ``unix_micros`` first; restore after). State is one row
    per distinct key in the state store; emissions per key are monotone
    in ``(seq, tiebreak)`` by construction. Mirrors
    ``KTableRegistry.java:41-50`` (the reference's RocksDB-backed KTable).
    """
    schema = stream.schema
    cols = [f.name for f in schema.fields]
    seq_i, tie_i = cols.index(seq_field), cols.index(tiebreak_field)

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        changed = False
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = pdf.sort_values(
                [seq_field, tiebreak_field], ascending=False
            ).iloc[0]
            cand = tuple(
                x.item() if hasattr(x, "item") else x
                for x in (top[c] for c in cols)
            )
            if best is None or (cand[seq_i], cand[tie_i]) > (
                best[seq_i],
                best[tie_i],
            ):
                best = cand
                changed = True
        if changed:
            state.update(best)
            yield pd.DataFrame([best], columns=cols)

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=schema,
        stateStructType=schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_latest_per_key_state(
    stream: DataFrame,
    spark,
    key_field: str,
    seq_field: str,
    tiebreak_field: str,
    checkpoint_dir: str | None = None,
):
    """Drive :func:`latest_per_key_state` to completion; return the final
    state table as a batch DataFrame (per-key max over the monotone
    changelog emissions — the Kafka changelog-topic compaction) and the
    query's last StreamingQueryProgress rows for state-size assertions.
    Runs through ``runner._drain``; the ``lpks_*`` temp view is dropped
    before returning."""
    import uuid

    from kafka_streams_common_spark.registry import latest_per_key
    from kafka_streams_common_spark.streaming.runner import _drain

    out = latest_per_key_state(stream, key_field, seq_field, tiebreak_field)
    name = f"lpks_{uuid.uuid4().hex[:12]}"
    writer = (
        out.writeStream.format("memory").queryName(name).outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    progress = _drain(spark, writer)
    final = latest_per_key(
        spark.table(name), key_field, seq_field, tiebreak_field
    )
    spark.catalog.dropTempView(name)
    return final, progress


_SESSION_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def session_aggregate_state(
    stream: DataFrame,
    key_field: str,
    ts_us_field: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator with
    EVENT-TIME TIMERS — the third rung of the GroupState ladder after
    :func:`running_counter` (plain state) and
    :func:`latest_per_key_state` (winner state): the open session lives
    in state, in-batch gap splits close sessions immediately, and the
    LAST open session per key is closed by ``setTimeoutTimestamp`` —
    the state store's timer fires when the WATERMARK passes
    session_end + gap, exactly Kafka Streams' ``SessionWindows.with(
    inactivityGap)`` close semantics. Emits one
    ``(key, session_start_us, session_end_us, n_events)`` row per CLOSED
    session (append-style — a session row is final when emitted).

    Caller contract: ``stream`` must carry ``withWatermark`` on the
    event-time column underlying ``ts_us_field`` (event-time timeouts
    require it), and ``ts_us_field`` is the same instants as bigint
    microseconds. Sessions still open when a bounded source ends stay in
    state (their timer never fires) — the same decided-region caveat as
    stream-stream outer joins; unbounded deployments have no such tail.

    Scale shape: state is one open-session row per ACTIVE key (closed
    sessions leave state immediately), timers are state-store metadata —
    no scan, no driver involvement; input streams through per-key Arrow
    batches.
    """

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        gap_us = gap_seconds * 1_000_000
        if state.hasTimedOut:
            if state.exists:
                s, e, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "key": [key[0]],
                        "session_start_us": [s],
                        "session_end_us": [e],
                        "n_events": [n],
                    }
                )
            return
        ts = []
        for pdf in pdfs:
            ts.extend(int(x) for x in pdf[ts_us_field])
        ts.sort()
        cur = tuple(state.get) if state.exists else None
        closed = []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_us:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
            else:
                closed.append(cur)
                cur = (t, t, 1)
        if cur is not None:
            state.update(cur)
            # close the open session when the WATERMARK passes end + gap
            state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def funnel_state_machine(
    stream: DataFrame,
    n_stages: int,
    key_field: str = "user_id",
    ts_us_field: str = "ts_us",
    stage_field: str = "stage",
) -> DataFrame:
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

    Input contract: watermarked stream of ``(key, ts_us, stage)`` where
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

    Event-time timers flush the tail: after each input fold the timer is
    set to the earliest still-buffered event, so when the watermark
    passes it (including the engine's trailing no-data batch) the
    timeout path folds newly-eligible events and re-arms for the rest.
    Scale shape: state per key = k stage slots + the events inside the
    watermark lag (bounded by delay × per-key rate, the standard
    buffered-reorder cost); everything folds in per-key Arrow batches.
    """
    out_fields = [T.StructField("key", T.LongType())]
    out_fields += [
        T.StructField(f"t{i}_us", T.LongType()) for i in range(1, n_stages + 1)
    ]
    out_fields.append(T.StructField("funnel_stage", T.LongType()))
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType(
        [
            T.StructField("t", T.ArrayType(T.LongType())),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_stage", T.ArrayType(T.LongType())),
        ]
    )

    def _fold(t, buf, wm_us):
        """Fold buffered (ts, stage) events with ts < wm_us in event-time
        order; return (changed, remaining_buffer)."""
        # STRICT <: the engine admits rows with ts == watermark (only
        # ts < watermark is guaranteed late-dropped), so an equal-ts
        # peer may still arrive — folding at equality could emit
        # out of (ts, id) order
        eligible = sorted(e for e in buf if e[0] < wm_us)
        remaining = [e for e in buf if e[0] >= wm_us]
        changed = False
        for ts, stage in eligible:
            s = int(stage)
            if s == 1:
                if t[0] < 0:
                    t[0] = ts
                    changed = True
            elif t[s - 2] >= 0 and ts > t[s - 2] and t[s - 1] < 0:
                t[s - 1] = ts
                changed = True
        return changed, remaining

    def _emit(key, t):
        depth = 0
        for v in t:
            if v < 0:
                break
            depth += 1
        row = {"key": [key[0]]}
        for i, v in enumerate(t, start=1):
            row[f"t{i}_us"] = [v if v >= 0 else None]
        row["funnel_stage"] = [depth]
        return pd.DataFrame(row)

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            t, buf_ts, buf_stage = (
                list(state.get[0]),
                list(state.get[1]),
                list(state.get[2]),
            )
        else:
            t, buf_ts, buf_stage = [-1] * n_stages, [], []
        buf = list(zip(buf_ts, buf_stage))
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    (int(a), int(b))
                    for a, b in zip(pdf[ts_us_field], pdf[stage_field])
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        changed, buf = _fold(t, buf, wm_us)
        state.update((t, [e[0] for e in buf], [e[1] for e in buf]))
        if buf:
            # re-arm: fold the rest when the watermark passes the
            # EARLIEST still-buffered event (must stay > current wm)
            nxt = max(min(e[0] for e in buf) // 1000 + 1,
                      state.getCurrentWatermarkMs() + 1)
            state.setTimeoutTimestamp(nxt)
        if changed and t[0] >= 0:
            yield _emit(key, t)

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def rate_limit_state(
    stream: DataFrame,
    n_per_window: int,
    window_us: int,
    key_field: str = "user_id",
    ts_us_field: str = "ts_us",
    id_field: str = "event_id",
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
    folded, making each admit/reject decision final. Emits admitted
    events in APPEND mode: ``(key, id, ts_us, window_start_us)``.

    State per key: admitted-count per OPEN window plus the buffered
    events inside the watermark lag. Windows whose end the watermark has
    passed are evicted (their counts can never change), so state is
    bounded by windows-in-flight × lag — the metrics-asserted contract
    in tests/test_stateful_and_bucketing.py. Buffered events whose
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
    state_schema = T.StructType(
        [
            T.StructField("win_starts", T.ArrayType(T.LongType())),
            T.StructField("win_counts", T.ArrayType(T.LongType())),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_id", T.ArrayType(T.LongType())),
            T.StructField("evict_wm", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            wins = dict(zip(state.get[0], state.get[1]))
            buf = list(zip(state.get[2], state.get[3]))
            evict_wm = int(state.get[4] or 0)
        else:
            wins, buf, evict_wm = {}, [], 0
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    (int(a), int(b))
                    for a, b in zip(pdf[ts_us_field], pdf[id_field])
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        # STRICT <: the engine admits rows with ts == watermark (only
        # ts < watermark is guaranteed late-dropped), so an equal-ts
        # peer may still arrive — folding at equality could emit
        # out of (ts, id) order
        eligible = sorted(e for e in buf if e[0] < wm_us)
        buf = [e for e in buf if e[0] >= wm_us]
        admitted = []
        for ts, eid in eligible:
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
        evict_wm = max(evict_wm, wm_us)
        if not wins and not buf:
            # Nothing buffered and every window's count evicted: delete
            # the state row so dormant keys don't accumulate forever
            # (high-cardinality key sets would otherwise grow state
            # unboundedly — one empty row per key ever seen).
            state.remove()
        else:
            state.update(
                (
                    list(wins.keys()),
                    list(wins.values()),
                    [e[0] for e in buf],
                    [e[1] for e in buf],
                    evict_wm,
                )
            )
            if buf:
                nxt = max(
                    min(e[0] for e in buf) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            else:
                # No buffered events but open windows remain: wake when
                # the last open window's end passes the watermark so the
                # eviction above fires and the state row is removed.
                nxt = max(
                    max(w + window_us for w in wins) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            state.setTimeoutTimestamp(nxt)
        if admitted:
            yield pd.DataFrame(
                {
                    "key": [a[0] for a in admitted],
                    "id": [a[1] for a in admitted],
                    "ts_us": [a[2] for a in admitted],
                    "window_start_us": [a[3] for a in admitted],
                }
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def temporal_asof_state(
    stream: DataFrame,
    key_field: str = "key",
) -> DataFrame:
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
    state_schema = T.StructType(
        [
            T.StructField("last_ts", T.LongType()),
            T.StructField("last_id", T.LongType()),
            T.StructField("last_rkey", T.LongType()),
            T.StructField("last_rval", T.DoubleType()),
            T.StructField("buf_side", T.ArrayType(T.LongType())),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_id", T.ArrayType(T.LongType())),
            T.StructField("buf_rkey", T.ArrayType(T.LongType())),
            T.StructField("buf_rval", T.ArrayType(T.DoubleType())),
            T.StructField("evict_wm", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            (last_ts, last_id, last_rkey, last_rval,
             b_side, b_ts, b_id, b_rkey, b_rval, evict_wm) = state.get
            buf = [
                (int(t), int(s), int(i),
                 None if rk is None else int(rk),
                 None if rv is None or rv != rv else float(rv))
                for s, t, i, rk, rv in zip(b_side, b_ts, b_id, b_rkey, b_rval)
            ]
            evict_wm = int(evict_wm or 0)
        else:
            last_ts, last_id, last_rkey, last_rval = None, None, None, None
            buf, evict_wm = [], 0
        if not state.hasTimedOut:
            for pdf in pdfs:
                for s, t, i, rk, rv in zip(
                    pdf["side"], pdf["ts_us"], pdf["id"],
                    pdf["rkey"], pdf["rval"],
                ):
                    buf.append(
                        (int(t), int(s), int(i),
                         None if pd.isna(rk) else int(rk),
                         None if pd.isna(rv) else float(rv))
                    )
        wm_us = state.getCurrentWatermarkMs() * 1000
        # STRICT <: the engine admits rows with ts == watermark (only
        # ts < watermark is guaranteed late-dropped), so an equal-ts
        # peer may still arrive — folding at equality could emit
        # out of (ts, id) order
        eligible = sorted(e for e in buf if e[0] < wm_us)
        buf = [e for e in buf if e[0] >= wm_us]
        emitted = []
        for t, s, i, rk, rv in eligible:
            if s == 0:
                # monotone version carry: a late right OLDER than the
                # carried version must not regress it
                if last_ts is None or (t, i) >= (last_ts, last_id):
                    last_ts, last_id, last_rkey, last_rval = t, i, rk, rv
            else:
                if t <= evict_wm:
                    continue  # left beyond an earlier fold: late-drop
                emitted.append((key[0], i, t, last_rkey, last_rval,
                                last_ts if last_rkey is not None else None))
        evict_wm = max(evict_wm, wm_us)
        state.update(
            (
                last_ts, last_id, last_rkey, last_rval,
                [e[1] for e in buf],
                [e[0] for e in buf],
                [e[2] for e in buf],
                [e[3] for e in buf],
                [float("nan") if e[4] is None else e[4] for e in buf],
                evict_wm,
            )
        )
        if buf:
            state.setTimeoutTimestamp(
                max(
                    min(e[0] for e in buf) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if emitted:
            yield pd.DataFrame(
                {
                    "key": [e[0] for e in emitted],
                    "id": [e[1] for e in emitted],
                    "ts_us": [e[2] for e in emitted],
                    "matched_rkey": pd.array(
                        [e[3] for e in emitted], dtype="Int64"
                    ),
                    "matched_rval": [
                        float("nan") if e[4] is None else e[4]
                        for e in emitted
                    ],
                    "matched_ts_us": pd.array(
                        [e[5] for e in emitted], dtype="Int64"
                    ),
                }
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def holt_state(
    stream: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    key_field: str = "event_type",
    ts_us_field: str = "ts_us",
    id_field: str = "event_id",
    value_field: str = "value",
) -> DataFrame:
    """STREAMING Holt linear-trend smoothing — the
    ``operators/timeseries.py: holt_linear`` recurrence computed
    incrementally on a live stream: per key, in GLOBAL EVENT-TIME
    order, ``l = α·x + (1−α)·(l_prev + b_prev)`` then
    ``b = β·(l − l_prev) + (1−β)·b_prev``; each event emits its folded
    (level, trend, forecast = level + trend) exactly once when the
    watermark decides it. Identical conventions to :func:`ewma_state`
    (buffered reorder under the watermark, strict ``ts < wm`` fold,
    event-time timers re-armed to the earliest buffered event): the
    only difference is TWO carried scalars instead of one — still the
    O(1)-per-key KTable-aggregate footprint, never removed because any
    later event continues the chain.

    Determinism contract: both update expressions are evaluated in
    float64 in exactly the shapes the batch kernel and the
    recursive-CTE oracle use (the oracle re-derives the new level
    inside the trend update), so stream ≡ batch bit-for-bit on the
    decided region with exactly-representable α/β.
    """
    a = float(alpha)
    g = float(beta)
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
    state_schema = T.StructType(
        [
            T.StructField("lv", T.DoubleType()),
            T.StructField("bv", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_id", T.ArrayType(T.LongType())),
            T.StructField("buf_x", T.ArrayType(T.DoubleType())),
        ]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            lv, bv, n, buf_ts, buf_id, buf_x = state.get
            buf = list(zip(buf_ts, buf_id, buf_x))
        else:
            lv, bv, n, buf = 0.0, 0.0, 0, []
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    (int(t), int(i), float(x))
                    for t, i, x in zip(
                        pdf[ts_us_field], pdf[id_field], pdf[value_field]
                    )
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        # STRICT <: same rationale as ewma_state — equal-ts peers may
        # still arrive, folding at equality could emit out of order
        eligible = sorted(e for e in buf if e[0] < wm_us)
        buf = [e for e in buf if e[0] >= wm_us]
        rows: list[tuple] = []
        for t, i, x in eligible:
            if n == 0:
                lv, bv = x, 0.0
            else:
                prev = lv
                # identical expression shapes to the batch kernel/oracle
                lv = a * x + (1.0 - a) * (prev + bv)
                bv = g * (lv - prev) + (1.0 - g) * bv
            n += 1
            rows.append((str(key[0]), t, i, x, lv, bv, lv + bv))
        state.update(
            (
                lv,
                bv,
                n,
                [e[0] for e in buf],
                [e[1] for e in buf],
                [e[2] for e in buf],
            )
        )
        if buf:
            nxt = max(
                min(e[0] for e in buf) // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(nxt)
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "key", "ts_us", "event_id", "x",
                    "level", "trend", "forecast",
                ],
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def ewma_state(
    stream: DataFrame,
    alpha: float = 0.25,
    key_field: str = "event_type",
    ts_us_field: str = "ts_us",
    id_field: str = "event_id",
    value_field: str = "value",
) -> DataFrame:
    """STREAMING EWMA — the ``operators/timeseries.py: ewma`` recurrence
    computed incrementally on a live stream: per key, every event's
    smoothed value is ``a·x + (1−a)·prev`` over the sequence in GLOBAL
    EVENT-TIME order. The recurrence is order-sensitive (one early event
    folded late changes every subsequent output), so events BUFFER in
    state until the watermark passes them and fold in (ts, id) order —
    the funnel/rate-limiter buffered-reorder convention: once the
    watermark passes an event no earlier event can arrive, so its folded
    EWMA is final and is emitted exactly once.

    State per key = ONE carried scalar (the running EWMA) + the buffer
    inside the watermark lag (bounded by delay × per-key rate). The
    carried scalar is the whole point: unlike windowed smoothing, the
    recurrence needs no history — this is the O(1)-per-key state a
    Kafka Streams ``aggregate()`` would keep, which is why state is
    never removed (a key's next event, whenever it comes, continues the
    chain; |keys| scalars is the permanent footprint, not a leak).
    Event-time timers flush the buffered tail exactly like the funnel
    operator: re-armed to the earliest still-buffered event after every
    fold, cleared when the buffer drains (no pending obligation).

    Determinism contract: the fold computes ``a*x + (1.0-a)*prev`` in
    float64 — the same expression shape the batch kernel and the
    recursive-CTE oracle evaluate — so stream ≡ batch bit-for-bit on
    the decided region, with an exactly-representable default α.
    """
    a = float(alpha)
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("prev", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_id", T.ArrayType(T.LongType())),
            T.StructField("buf_x", T.ArrayType(T.DoubleType())),
        ]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            prev, n, buf_ts, buf_id, buf_x = state.get
            buf = list(zip(buf_ts, buf_id, buf_x))
        else:
            prev, n, buf = 0.0, 0, []
        if not state.hasTimedOut:
            for pdf in pdfs:
                buf.extend(
                    (int(t), int(i), float(x))
                    for t, i, x in zip(
                        pdf[ts_us_field], pdf[id_field], pdf[value_field]
                    )
                )
        wm_us = state.getCurrentWatermarkMs() * 1000
        # STRICT <: the engine admits rows with ts == watermark (only
        # ts < watermark is guaranteed late-dropped), so an equal-ts
        # peer may still arrive — folding at equality could emit
        # out of (ts, id) order
        eligible = sorted(e for e in buf if e[0] < wm_us)
        buf = [e for e in buf if e[0] >= wm_us]
        rows: list[tuple] = []
        for t, i, x in eligible:
            # identical expression shape to the batch kernel/oracle
            prev = x if n == 0 else a * x + (1.0 - a) * prev
            n += 1
            rows.append((str(key[0]), t, i, x, prev))
        state.update(
            (
                prev,
                n,
                [e[0] for e in buf],
                [e[1] for e in buf],
                [e[2] for e in buf],
            )
        )
        if buf:
            nxt = max(
                min(e[0] for e in buf) // 1000 + 1,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(nxt)
        if rows:
            yield pd.DataFrame(
                rows, columns=["key", "ts_us", "event_id", "x", "ewma"]
            )

    return stream.groupBy(key_field).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
