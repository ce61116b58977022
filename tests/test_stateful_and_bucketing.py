"""Stateful streaming operators + bucketed co-located join."""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_streams_common_spark.catalog import TableCatalog, TableRef
from kafka_streams_common_spark.streaming import StreamingCompiler
from kafka_streams_common_spark.streaming.runner import run_stream_to_memory
from tests.conftest import SF_SMOKE, write_wave

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("total", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType())])


def running_counter(grouped_stream: DataFrame, key_col: str) -> DataFrame:
    """Per-key cumulative row counter over a stream: plain GroupState, no
    timers. Emits one ``(key, total)`` row per key per microbatch in which
    the key appears; ``total`` is cumulative across the whole stream."""

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


def test_running_counter_state_survives_microbatches(spark, tmp_path):
    """applyInPandasWithState: cumulative totals across microbatches must
    equal the batch group counts (state persisted in the state store)."""
    src = TableCatalog.for_directory(SF_SMOKE).resolve("events").read(spark)
    stream_dir = str(tmp_path / "ev")
    src.repartition(4).write.parquet(stream_dir)

    cat = TableCatalog({"events": TableRef(name="events", path=stream_dir, key_field="user_id")})
    comp = StreamingCompiler(spark, cat, max_files_per_trigger=1)
    stream = comp.stream_source("events")
    out = run_stream_to_memory(
        running_counter(stream, "event_type"), spark, output_mode="update"
    )
    # last emission per key = cumulative total
    final = out.groupBy("key").agg(F.max("total").alias("total"))
    batch = src.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).alias("total")
    )
    got = {r["key"]: r["total"] for r in final.collect()}
    want = {r["key"]: r["total"] for r in batch.collect()}
    assert got == want
    # multiple microbatches really happened: some key has >1 emission
    assert out.count() > final.count()


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark):
    """Pre-bucketing both sides on the join key removes the shuffle entirely
    (the bucketing row of SURVEY.md §2.7 / pyspark guide): SortMergeJoin
    without Exchange on either side."""
    orders = TableCatalog.for_directory(SF_SMOKE).resolve("orders").read(spark)
    cust = TableCatalog.for_directory(SF_SMOKE).resolve("customer").read(spark)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    # the warehouse dir outlives the in-memory catalog: remove orphaned
    # locations from prior sessions or saveAsTable hits LOCATION_ALREADY_EXISTS
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable(
        "b_orders"
    )
    cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite").saveAsTable(
        "b_customer"
    )
    joined = spark.table("b_orders").join(
        spark.table("b_customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # disable broadcast so the join strategy decision is about shuffling
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange" not in plan, plan
    assert joined.count() == 1500


def test_latest_per_key_state_equals_batch_and_bounds_state(spark, tmp_path):
    """State-store latest-per-key under TRUE multi-batch execution: the
    compacted changelog must equal the batch KTable view,
    and the engine's own stateOperators metrics must show exactly one
    state row per distinct key (the operator's whole scale contract)."""
    from kafka_streams_common_spark.registry import latest_per_key
    from kafka_streams_common_spark.streaming.runner import (
        run_latest_per_key_state,
    )

    src = TableCatalog.for_directory(SF_SMOKE).resolve("events").read(spark)
    stream_dir = str(tmp_path / "ev")
    src.repartition(4).write.parquet(stream_dir)

    cat = TableCatalog(
        {"events": TableRef(name="events", path=stream_dir, key_field="user_id")}
    )
    comp = StreamingCompiler(spark, cat, max_files_per_trigger=1)
    stream = comp.stream_source("events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "props",
    )
    final, progress = run_latest_per_key_state(
        stream, spark, key_field="user_id", seq_field="ts_us",
        tiebreak_field="event_id", checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["user_id"]: (r["event_id"], r["ts_us"]) for r in final.collect()
    }
    batch = latest_per_key(
        src.select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
        ),
        "user_id", "ts_us", "event_id",
    )
    want = {
        r["user_id"]: (r["event_id"], r["ts_us"]) for r in batch.collect()
    }
    assert got == want
    # bounded state: exactly one state-store row per distinct key, from
    # the engine's own metrics (not inferred from output)
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert ops, "no stateOperators metrics reported"
    assert ops[-1]["numRowsTotal"] == len(want), ops[-1]
    # multi-batch really happened
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    assert len(batches) > 1, "expected several microbatches"


def test_latest_per_key_state_keeps_bigints_beyond_float64(spark, tmp_path):
    """A bigint above 2**53 in a stream that also carries a double
    column keeps every digit through the state-store KTable: no step
    may widen the winning row to float64."""
    import os

    from kafka_streams_common_spark.streaming.runner import (
        run_latest_per_key_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "key bigint, ts_us bigint, event_id bigint, value double"
    rows = [(1, 2**53 + 1, 7, 0.5), (1, 2**53 - 9, 8, 1.5), (2, 5, 9, 2.5)]
    for k, row in enumerate(rows):
        write_wave(spark, src, k, [row], schema)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final, _ = run_latest_per_key_state(stream, spark, "key", "ts_us", "event_id")
    got = {r["key"]: tuple(r) for r in final.collect()}
    assert got[1][1] == 2**53 + 1, got
    assert got == {1: rows[0], 2: rows[2]}


def test_session_aggregate_state_event_time_timers(spark, tmp_path):
    """Custom sessionization with EVENT-TIME TIMERS: events buffer until
    the watermark passes them, a session closes when the WATERMARK passes
    end+gap, and a late but admitted event joins the session it falls in
    whatever micro-batch it arrives in; sessions still open at stream end
    are never emitted (the decided-region contract)."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import (
        session_aggregate_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)

    schema = "user_id bigint, ts timestamp"

    sec = dt.timedelta(seconds=1)
    # wave 0: user 1 has a 3-event session, then an in-batch gap split;
    # user 2 a single event
    write_wave(spark, src, 0, [
        (1, t0), (1, t0 + 10 * sec), (1, t0 + 20 * sec),
        (1, t0 + 120 * sec),
        (2, t0),
    ], schema)
    # waves 1-3: user 4's events land one per micro-batch, the last one
    # 7 s before its predecessor yet inside the 10 s delay, so it is
    # admitted and bridges the 65 s gap into one session
    T = t0 + 200 * sec
    for k, t in enumerate((T, T + 65 * sec, T + 58 * sec), start=1):
        write_wave(spark, src, k, [(4, t)], schema)
    # wave 4, hours later: advances the watermark far past the earlier
    # waves so their open sessions time out; its own stay open forever
    write_wave(spark, src, 4, [(3, t0 + dt.timedelta(hours=4))], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 seconds")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    out = session_aggregate_state(stream, gap_seconds=60)
    name = "sess_probe"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    got = {
        (r["key"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.table(name).collect()
    }
    assert got == {
        (1, us(t0), us(t0 + 20 * sec), 3),           # split by the gap
        (1, us(t0 + 120 * sec), us(t0 + 120 * sec), 1),  # closed by timer
        (2, us(t0), us(t0), 1),                      # closed by timer
        (4, us(T), us(T + 65 * sec), 3),             # one session across cuts
        # user 3's session is still open at stream end: not emitted
    }, got


def test_funnel_state_machine_out_of_order_across_batches(spark, tmp_path):
    """The streaming funnel's reason to exist: stage events arriving in
    the WRONG order across microbatches (click lands a batch before its
    user's view, with an earlier event time... and vice versa) must fold
    in EVENT-TIME order once the watermark passes them. A bufferless
    arrival-order fold gets user 1 wrong (the click arrives first and
    would be discarded — no view yet); the watermark-buffered machine
    folds view(t+30) then click(t+40) and reaches stage 2."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import (
        funnel_state_machine,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = "user_id bigint, event_type string, ts timestamp"

    # batch 0: user 1's CLICK (event time t+40) arrives FIRST;
    #          user 2's view
    write_wave(
        spark, src, 0,
        [(1, "click", t0 + 40 * sec), (2, "view", t0 + 10 * sec)], schema,
    )
    # batch 1: user 1's VIEW (event time t+30 — EARLIER than the click
    #          already seen); user 2's click
    write_wave(
        spark, src, 1,
        [(1, "view", t0 + 30 * sec), (2, "click", t0 + 20 * sec)], schema,
    )
    # batch 2: user 2's purchase (event time t+25 — BEFORE their click,
    #          so it must NOT count: strict-sequential order); user 3 far
    #          in the future drives the watermark past everything old
    write_wave(spark, src, 2, [
        (2, "purchase", t0 + 25 * sec),
        (3, "view", t0 + dt.timedelta(hours=2)),
    ], schema)

    stage = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "60 seconds")
        .select(
            "user_id",
            "ts",  # the watermarked column must survive the projection
            F.unix_micros("ts").alias("ts_us"),
            stage.cast("bigint").alias("stage"),
        )
        .filter(F.col("stage").isNotNull())
    )
    out = funnel_state_machine(stream, n_stages=3)
    name = "funnel_probe"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    final = (
        spark.table(name)
        .groupBy("key")
        .agg(
            F.max("funnel_stage").alias("funnel_stage"),
            F.max("t1_us").alias("t1_us"),
            F.max("t2_us").alias("t2_us"),
            F.max("t3_us").alias("t3_us"),
        )
    )
    got = {r["key"]: r for r in final.collect()}
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    # user 1: event-time order view(30) → click(40) ⇒ stage 2 (the
    # arrival order was click-then-view)
    assert got[1]["funnel_stage"] == 2
    assert got[1]["t1_us"] == us(t0 + 30 * sec)
    assert got[1]["t2_us"] == us(t0 + 40 * sec)
    # user 2: purchase(25) precedes click(20)? no — 25 > 20, but it
    # arrived after; event-time says view(10) → click(20) → purchase(25)
    # ⇒ stage 3
    assert got[2]["funnel_stage"] == 3
    assert got[2]["t3_us"] == us(t0 + 25 * sec)
    # user 3's events sit above the final watermark: never folded
    assert 3 not in got


def test_rate_limit_state_out_of_order_quota(spark, tmp_path):
    """Windowed per-key quota (2 events / 60s window) under out-of-order
    cross-batch arrival: an EARLIER event arriving late (within the
    watermark) must claim its quota slot and push a later-timestamped
    event over the cap; decisions fold in (ts, id) event-time order, so
    the admitted set is exactly the first-2-per-window by event time."""
    import datetime as dt
    import os
    import uuid

    from kafka_streams_common_spark.streaming.stateful import rate_limit_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = "user_id bigint, event_id bigint, ts timestamp"

    # wave 0: user 1 at t+10 and t+50 (same 60s window)
    write_wave(spark, src, 0, [(1, 1, t0 + 10 * sec), (1, 4, t0 + 50 * sec)], schema)
    # wave 1: user 1 at t+5 — EARLIER event time, arrives later (inside
    # the 120s watermark): must outrank id 4 for the window's 2 slots;
    # user 2 fills a later window with three events
    write_wave(spark, src, 1, [
        (1, 0, t0 + 5 * sec),
        (2, 10, t0 + 70 * sec),
        (2, 11, t0 + 80 * sec),
        (2, 12, t0 + 90 * sec),
    ], schema)
    # wave 2: far-future driver pushes the watermark past everything
    write_wave(spark, src, 2, [(9, 99, t0 + dt.timedelta(hours=1))], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "120 seconds")
        .select("user_id", "event_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    out = rate_limit_state(stream, n_per_window=2, window_us=60_000_000)
    name = f"rls_{uuid.uuid4().hex[:10]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination()
    got = {(r["key"], r["id"]) for r in spark.table(name).collect()}
    # decided region = everything except the far-future driver event:
    # window 0 admits ids 0 (t+5) and 1 (t+10), REJECTS id 4 (t+50);
    # window 1 admits ids 10, 11, rejects 12
    assert got == {(1, 0), (1, 1), (2, 10), (2, 11)}, got
    # state bounded: at most one open window + tail buffer per key —
    # and DORMANT keys are REMOVED outright: once the watermark passes
    # a key's last open window (users 1 and 2 here), its state row is
    # deleted via state.remove()/the drain timeout, so only the
    # far-future driver key's buffered event remains. Without removal,
    # every key ever seen would hold a state row forever.
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert ops and ops[-1]["numRowsTotal"] == 1, ops[-1]
    assert len([p for p in progress if p.get("numInputRows", 0) > 0]) > 1


def test_temporal_asof_out_of_order_across_batches(spark, tmp_path):
    """The streaming temporal join's reason to exist: version and probe
    rows land in the WRONG order across microbatches. A bufferless
    arrival-order join gets user 1 wrong twice (the probe arrives before
    its version; a stale older version arrives after a newer one and
    must not regress the carry). The watermark-buffered fold must
    reproduce the batch as-of answer, including the ≥ (version visible
    at equal timestamp) convention and NULLs before the first version."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import (
        temporal_asof_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = (
        "key bigint, ts timestamp, side bigint, id bigint, "
        "rkey bigint, rval double"
    )

    L, R = 1, 0
    # batch 0: user 1's PROBE (t+20) arrives BEFORE its version;
    #          user 2's version lands at t+30 (after user 2's probe time)
    write_wave(spark, src, 0, [
        (1, t0 + 20 * sec, L, 1001, None, None),
        (2, t0 + 30 * sec, R, 200, 200, 2.0),
    ], schema)
    # batch 1: user 1's version (event time t+10 — EARLIER than the
    #          probe already seen); user 2's probe at t+25 (no version
    #          at-or-before ⇒ NULL match)
    write_wave(spark, src, 1, [
        (1, t0 + 10 * sec, R, 101, 101, 1.0),
        (2, t0 + 25 * sec, L, 1002, None, None),
    ], schema)
    # batch 2: a STALE user-1 version (t+5, older than the carried t+10
    #          one — monotone carry must ignore it); a second user-1
    #          probe at t+40; user 4 probes AT its version's exact
    #          timestamp (the ≥ convention); user 3 far in the future
    #          drives the watermark past everything
    write_wave(spark, src, 2, [
        (1, t0 + 5 * sec, R, 100, 100, 0.5),
        (1, t0 + 40 * sec, L, 1003, None, None),
        (4, t0 + 20 * sec, R, 400, 400, 4.0),
        (4, t0 + 20 * sec, L, 1004, None, None),
        (3, t0 + dt.timedelta(hours=2), R, 300, 300, 3.0),
    ], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "60 seconds")
        .select(
            "key", "ts", F.unix_micros("ts").alias("ts_us"),
            "side", "id", "rkey", "rval",
        )
    )
    out = temporal_asof_state(stream)
    name = "temporal_asof_probe"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got = {
        r["id"]: (r["matched_rkey"], r["matched_rval"], r["matched_ts_us"])
        for r in spark.table(name).collect()
    }
    us = lambda d: int(d.timestamp() * 1_000_000)  # noqa: E731
    # probe(u1, t+20): version t+10 folded first in EVENT-TIME order
    assert got[1001] == (101, 1.0, us(t0 + 10 * sec))
    # probe(u2, t+25): its only version is t+30 — after the probe ⇒ NULL
    assert got[1002] == (None, None, None)
    # probe(u1, t+40): the stale t+5 version must NOT have regressed
    # the carried t+10 one
    assert got[1003] == (101, 1.0, us(t0 + 10 * sec))
    # probe(u4, t+20) at its version's EXACT time: version visible (≥)
    assert got[1004] == (400, 4.0, us(t0 + 20 * sec))


def test_temporal_asof_recovers_from_checkpoint(spark, tmp_path):
    """Fault tolerance for CUSTOM state: stop the temporal-join query
    after the first waves, start a NEW query from the same checkpoint,
    feed the rest — the carried version and buffered probes must
    survive the restart (GroupState is checkpoint-backed), and the
    final emissions must equal the uninterrupted run's."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import (
        temporal_asof_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = (
        "key bigint, ts timestamp, side bigint, id bigint, "
        "rkey bigint, rval double"
    )

    L, R = 1, 0

    def make_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "60 seconds")
            .select(
                "key", "ts", F.unix_micros("ts").alias("ts_us"),
                "side", "id", "rkey", "rval",
            )
        )

    out_dir = str(tmp_path / "out")

    def start():
        # parquet sink, not memory: the memory sink refuses checkpoint
        # recovery ("does not support recovering") — the file sink is
        # the fault-tolerant one, which is the point of this test
        return (
            temporal_asof_state(make_stream())
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    # waves 0-1 before the restart: the version arrives, and a probe
    # BUFFERS (still inside the watermark) — both live only in state
    write_wave(spark, src, 0, [(1, t0 + 10 * sec, R, 101, 101, 1.0)], schema)
    write_wave(spark, src, 1, [(1, t0 + 20 * sec, L, 1001, None, None)], schema)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # wave 2 lands while the query is DOWN; the restarted query must
    # resume from state: carried version 101 + buffered probe 1001
    write_wave(spark, src, 2, [
        (1, t0 + 40 * sec, L, 1002, None, None),
        (2, t0 + dt.timedelta(hours=2), R, 300, 300, 3.0),
    ], schema)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination()

    got = {
        r["id"]: (r["matched_rkey"], r["matched_rval"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # both probes decided after the restart, matched to the version
    # carried ACROSS the checkpoint boundary
    assert got[1001] == (101, 1.0)
    assert got[1002] == (101, 1.0)


def test_streaming_ewma_out_of_order_across_batches(spark, tmp_path):
    """The streaming EWMA's reason to buffer: the recurrence is
    order-sensitive, so folding in ARRIVAL order across microbatches
    gives different smoothed values than event-time order. Deliver one
    key's events shuffled across three batches; the folded chain must
    equal the event-time-ordered recurrence, each event emitted exactly
    once."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import ewma_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = "event_type string, ts timestamp, event_id bigint, value double"

    # event-time order for key "a": t+10 (4.0), t+20 (8.0), t+30 (2.0)
    # delivered: the MIDDLE event first, then the first, then the last
    write_wave(spark, src, 0, [("a", t0 + 20 * sec, 2, 8.0)], schema)
    write_wave(spark, src, 1, [("a", t0 + 10 * sec, 1, 4.0)], schema)
    write_wave(spark, src, 2, [
        ("a", t0 + 30 * sec, 3, 2.0),
        # far-future row drives the global watermark past key a's events
        ("z", t0 + dt.timedelta(hours=2), 99, 1.0),
    ], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "60 seconds")
        .select(
            "event_type", "event_id", "ts",
            F.unix_micros("ts").alias("ts_us"), "value",
        )
    )
    out = ewma_state(stream, alpha=0.25)
    name = "ewma_ooo_probe"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = [r for r in spark.table(name).collect() if r["key"] == "a"]
    got = {r["event_id"]: r["ewma"] for r in rows}
    assert len(rows) == 3  # each decided event exactly once
    # event-time-ordered recurrence, NOT arrival order (which would
    # seed with 8.0): 4.0 -> .25*8+.75*4 = 5.0 -> .25*2+.75*5 = 4.25
    assert got == {1: 4.0, 2: 5.0, 3: 4.25}


def test_streaming_holt_out_of_order_across_batches(spark, tmp_path):
    """holt_state mirrors the EWMA buffered-reorder contract with TWO
    carried scalars: shuffled arrival across microbatches must fold in
    event-time order, each event emitted exactly once with the exact
    (level, trend, forecast) chain."""
    import datetime as dt
    import os

    from kafka_streams_common_spark.streaming.stateful import holt_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)

    schema = "event_type string, ts timestamp, event_id bigint, value double"

    # event-time order for "a": t+10 (4.0), t+20 (8.0), t+30 (2.0);
    # delivered middle-first
    write_wave(spark, src, 0, [("a", t0 + 20 * sec, 2, 8.0)], schema)
    write_wave(spark, src, 1, [("a", t0 + 10 * sec, 1, 4.0)], schema)
    write_wave(spark, src, 2, [
        ("a", t0 + 30 * sec, 3, 2.0),
        ("z", t0 + dt.timedelta(hours=2), 99, 1.0),
    ], schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "60 seconds")
        .select(
            "event_type", "event_id", "ts",
            F.unix_micros("ts").alias("ts_us"), "value",
        )
    )
    out = holt_state(stream, alpha=0.5, beta=0.25)
    name = "holt_ooo_probe"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = [r for r in spark.table(name).collect() if r["key"] == "a"]
    got = {r["event_id"]: (r["level"], r["trend"], r["forecast"]) for r in rows}
    assert len(rows) == 3
    # event-time recurrence: l1=4, b1=0; l2=.5*8+.5*4=6, b2=.25*2+0=.5;
    # l3=.5*2+.5*6.5=4.25, b3=.25*(4.25-6)+.75*.5=-0.0625
    want = {
        1: (4.0, 0.0, 4.0),
        2: (6.0, 0.5, 6.5),
        3: (4.25, -0.0625, 4.1875),
    }
    assert got == want


def test_stateful_survives_vanilla_session_defaults(spark):
    """r16 hardening (VERDICT r15 "What's wrong #3"): under a bare
    session with the 200-partition shuffle default, a multi-batch
    applyInPandasWithState run at sf0.1 measured ~1,055 s
    (``streaming_holt_trend``, SCALE.md) — state-store commit overhead
    times 200 mostly-empty partitions per microbatch. The run harnesses
    now scope ``spark.sql.shuffle.partitions`` down to one task wave
    (``defaultParallelism`` partitions) for the duration of the bounded
    run, so the same query on 200 default partitions must complete in
    the normal ceiling band — and the session's own setting must be
    restored afterwards."""
    import time

    from kafka_streams_common_spark.queries import QUERIES

    sess = spark.newSession()  # shares the JVM, separate SQLConf
    sess.conf.set("spark.sql.shuffle.partitions", "200")
    t0 = time.monotonic()
    out = QUERIES["streaming_ewma_value"](sess, "/root/testdata/sf0.1")
    n = out.count()
    elapsed = time.monotonic() - t0
    assert n > 0
    # pathological (unbounded) is hundreds of seconds; the bounded run
    # sits in the single-digit ceiling band — 120 s is a loose CI bound
    assert elapsed < 120, f"stateful run took {elapsed:.1f}s under 200 partitions"
    assert sess.conf.get("spark.sql.shuffle.partitions") == "200"


def test_bounded_stateful_run_uses_one_wave(spark, tmp_path):
    """A bounded stateful run gets one task wave of state partitions
    (``defaultParallelism``) however high the session's shuffle setting
    is. A restart from a checkpoint written under another partition
    count keeps that count (Spark pins it in the checkpoint) and still
    converges to the batch result."""
    import uuid

    from kafka_streams_common_spark.streaming.runner import _drain

    src = TableCatalog.for_directory(SF_SMOKE).resolve("events").read(spark)
    stream_dir = str(tmp_path / "ev")
    src.filter(F.col("user_id") % 2 == 0).repartition(2).write.parquet(stream_dir)
    sess = spark.newSession()  # shares the JVM, separate SQLConf
    dp = sess.sparkContext.defaultParallelism
    cat = TableCatalog(
        {"events": TableRef(name="events", path=stream_dir, key_field="user_id")}
    )

    def run(partitions: int, ckpt: str):
        sess.conf.set("spark.sql.shuffle.partitions", str(partitions))
        name = f"wave_{uuid.uuid4().hex[:12]}"
        sdf = (
            StreamingCompiler(sess, cat, max_files_per_trigger=1)
            .stream_source("events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )
        progress = _drain(sess, writer)
        got = {r["event_type"]: r["n"] for r in sess.table(name).collect()}
        sess.catalog.dropTempView(name)
        ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        return got, {o["numStateStoreInstances"] for o in ops}

    def batch():
        return {
            r["event_type"]: r["n"]
            for r in sess.read.parquet(stream_dir)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    got, instances = run(dp + 8, str(tmp_path / "fresh"))
    assert got == batch()
    assert instances == {dp}

    narrow = max(1, dp // 2)
    ckpt = str(tmp_path / "restart")
    run(narrow, ckpt)
    src.filter(F.col("user_id") % 2 == 1).repartition(2).write.mode(
        "append"
    ).parquet(stream_dir)
    got, instances = run(dp + 8, ckpt)
    assert got == batch()
    assert instances == {narrow}
