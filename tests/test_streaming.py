"""Streaming layer tests: stream-batch equivalence under true multi-batch
incremental execution (SURVEY.md §5 item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_common_spark.catalog import TableCatalog, TableRef
from kafka_streams_common_spark.registry import latest_per_key
from kafka_streams_common_spark.streaming import (
    StreamingCompiler,
    run_changelog_materialization,
    run_stream_to_memory,
)
from tests.conftest import SF_SMOKE, canonical_rows, write_wave


@pytest.fixture(scope="module")
def multi_file_events(spark, tmp_path_factory):
    """The events fixture re-written as 8 files so file streaming executes
    several microbatches (one file per trigger)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    src = TableCatalog.for_directory(SF_SMOKE).resolve("events").read(spark)
    src.repartition(8).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def stream_catalog(multi_file_events):
    cat = TableCatalog.for_directory(SF_SMOKE)
    cat.register(
        TableRef(
            name="events",
            path=multi_file_events,
            key_field="user_id",
            seq_field="ts",
            tiebreak_field="event_id",
        )
    )
    return cat


def test_streaming_agg_equals_batch(spark, stream_catalog):
    comp = StreamingCompiler(spark, stream_catalog, max_files_per_trigger=1)
    sdf = (
        comp.stream_source("events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    streamed = run_stream_to_memory(sdf, spark, output_mode="complete")
    batch = (
        stream_catalog.resolve("events")
        .read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert canonical_rows(streamed.toPandas()) == canonical_rows(batch.toPandas())


def test_memory_sink_view_cleanup(spark, stream_catalog):
    """run_stream_to_memory must not leak its mem_* temp view (r16 fix),
    AND the returned frame must stay usable after the drop — the eager
    spark.table resolution the fix relies on."""
    comp = StreamingCompiler(spark, stream_catalog, max_files_per_trigger=4)
    sdf = (
        comp.stream_source("events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    streamed = run_stream_to_memory(sdf, spark, output_mode="complete")
    leaked = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")
    ]
    assert leaked == [], leaked
    # the bound memory-sink plan survives the dropTempView
    assert streamed.count() > 0


def test_changelog_materialization_multibatch_equals_batch_view(spark, stream_catalog):
    """The foreachBatch latest-per-key merge must converge to the batch
    latest-per-key view regardless of microbatch boundaries."""
    comp = StreamingCompiler(spark, stream_catalog, max_files_per_trigger=1)
    stream = comp.stream_source("events")
    state = run_changelog_materialization(
        stream,
        spark,
        str(spark._jvm.java.io.File.createTempFile("state", "").getParent())
        + f"/kscs_test_state_{id(stream)}",
        key_field="user_id",
        seq_field="ts",
        tiebreak_field="event_id",
    )
    batch_view = latest_per_key(
        stream_catalog.resolve("events").read(spark), "user_id", "ts", "event_id"
    )
    cols = sorted(state.columns)
    assert canonical_rows(state.select(*cols).toPandas()) == canonical_rows(
        batch_view.select(*cols).toPandas()
    )


def test_streaming_join_chain_equals_batch(spark, stream_catalog):
    from kafka_streams_common_spark.compiler import BatchCompiler
    from kafka_streams_common_spark.pipelines import ENRICHED_ORDERS

    streamed = run_stream_to_memory(
        StreamingCompiler(spark, stream_catalog).compile(ENRICHED_ORDERS),
        spark,
        output_mode="append",
    )
    batch = BatchCompiler(spark, stream_catalog).compile(ENRICHED_ORDERS)
    assert canonical_rows(streamed.toPandas()) == canonical_rows(batch.toPandas())


def test_watermarked_update_mode_converges_to_batch(spark, stream_catalog):
    """Watermarked windowed agg in update mode: after processing everything,
    the latest emitted value per window equals the batch aggregate.

    The multi-file fixture arrives in RANDOM time order (repartition is
    hash-based), so the watermark must exceed the dataset's full time span —
    a tighter watermark would correctly DROP out-of-order rows, which is
    watermark semantics, not convergence. Machinery (state eviction wiring,
    update-mode emission) is still exercised."""
    comp = StreamingCompiler(spark, stream_catalog, max_files_per_trigger=1)
    sdf = (
        comp.stream_source("events")
        .withWatermark("ts", "60 days")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    streamed = run_stream_to_memory(sdf, spark, output_mode="update")
    # update mode re-emits a row each time a window changes: keep the last
    # emission per (window, type) — max(n) since counts only grow
    final = streamed.groupBy("ws", "event_type").agg(F.max("n").alias("n"))
    batch = (
        stream_catalog.resolve("events")
        .read(spark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    assert canonical_rows(final.toPandas()) == canonical_rows(batch.toPandas())


def test_kafka_wiring_surface(spark):
    """Kafka connector absent here: builders must gate cleanly, and the
    serialization expressions must round-trip."""
    from kafka_streams_common_spark.sources.kafka import (
        kafka_available,
        kafka_stream_source,
        parse_json_value,
        serialize_to_kafka,
    )
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType())])
    if not kafka_available(spark):
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            kafka_stream_source(spark, "localhost:9092", "t", schema)

    df = spark.createDataFrame([(1, "a", 2.0)], ["id", "s", "x"])
    wire = serialize_to_kafka(df, key_col="id")
    assert wire.columns == ["key", "value"]
    row = wire.collect()[0]
    assert row["key"] == "1"
    back = spark.createDataFrame([(row["value"],)], ["value"]).select(
        parse_json_value(
            "value",
            T.StructType(
                [T.StructField("s", T.StringType()), T.StructField("x", T.DoubleType())]
            ),
        ).alias("v")
    ).collect()[0]["v"]
    assert back["s"] == "a" and back["x"] == 2.0


def test_topic_provisioner_gating(tmp_path):
    from kafka_streams_common_spark.config import OutputDef
    from kafka_streams_common_spark.sources.admin import ensure_output_table, ensure_topic

    disabled = OutputDef(name="t", enabled=False)
    assert ensure_topic(disabled, "localhost:9092") is False  # gate, no client needed

    enabled = OutputDef(name="t2", enabled=True)
    with pytest.raises(RuntimeError, match="Kafka admin client"):
        ensure_topic(enabled, "localhost:9092")

    path = ensure_output_table(enabled, str(tmp_path))
    import os

    assert os.path.isdir(path)


def _install_fake_kafka_admin(monkeypatch, existing: set[str]):
    """Inject a fake kafka-python admin surface into sys.modules so
    ``ensure_topic`` can be driven through the reference's provisioning
    matrix (TopicProvisioner.java:22-55) without a broker. Returns the
    call log the fakes append to."""
    import sys
    import types

    calls: list[dict] = []

    class TopicAlreadyExistsError(Exception):
        pass

    class NewTopic:
        def __init__(self, name, num_partitions, replication_factor, topic_configs):
            self.name = name
            self.num_partitions = num_partitions
            self.replication_factor = replication_factor
            self.topic_configs = topic_configs

    class KafkaAdminClient:
        def __init__(self, bootstrap_servers):
            calls.append({"op": "connect", "bootstrap": bootstrap_servers})
            self.closed = False

        def create_topics(self, topics):
            for t in topics:
                calls.append(
                    {
                        "op": "create",
                        "name": t.name,
                        "partitions": t.num_partitions,
                        "rf": t.replication_factor,
                        "configs": dict(t.topic_configs),
                    }
                )
                if t.name in existing:
                    raise TopicAlreadyExistsError(t.name)

        def close(self):
            calls.append({"op": "close"})

    kafka_mod = types.ModuleType("kafka")
    admin_mod = types.ModuleType("kafka.admin")
    errors_mod = types.ModuleType("kafka.errors")
    admin_mod.KafkaAdminClient = KafkaAdminClient
    admin_mod.NewTopic = NewTopic
    errors_mod.TopicAlreadyExistsError = TopicAlreadyExistsError
    kafka_mod.admin = admin_mod
    kafka_mod.errors = errors_mod
    monkeypatch.setitem(sys.modules, "kafka", kafka_mod)
    monkeypatch.setitem(sys.modules, "kafka.admin", admin_mod)
    monkeypatch.setitem(sys.modules, "kafka.errors", errors_mod)
    return calls


def test_topic_provisioner_contract_matrix(monkeypatch):
    """Broker-free contract test of the FULL provisioning matrix the
    reference implements (TopicProvisioner.java:33-51): partitions
    default 3, RF default 1, retention_ms > 0 → retention.ms config,
    retention_ms == -1 → cleanup.policy=compact, retention_ms == 0 →
    no configs (broker default), TopicExistsException tolerated
    (returns False, never raises), admin client always closed."""
    from kafka_streams_common_spark.config import OutputDef
    from kafka_streams_common_spark.sources.admin import ensure_topic

    calls = _install_fake_kafka_admin(monkeypatch, existing={"dup"})

    # defaults: partitions 3 / RF 1 / retention 0 → NO configs at all
    assert ensure_topic(OutputDef(name="a"), "b:9092") is True
    create = [c for c in calls if c["op"] == "create"][-1]
    assert create == {
        "op": "create", "name": "a", "partitions": 3, "rf": 1, "configs": {},
    }

    # explicit retention → retention.ms, no cleanup.policy
    assert ensure_topic(
        OutputDef(name="r", partitions=12, replication_factor=2, retention_ms=86400000),
        "b:9092",
    ) is True
    create = [c for c in calls if c["op"] == "create"][-1]
    assert create["partitions"] == 12 and create["rf"] == 2
    assert create["configs"] == {"retention.ms": "86400000"}

    # retention -1 → compacted topic, retention.ms must NOT be set
    assert ensure_topic(OutputDef(name="c", retention_ms=-1), "b:9092") is True
    create = [c for c in calls if c["op"] == "create"][-1]
    assert create["configs"] == {"cleanup.policy": "compact"}

    # already-exists → tolerated: False, no exception, client still closed
    n_close = sum(1 for c in calls if c["op"] == "close")
    assert ensure_topic(OutputDef(name="dup"), "b:9092") is False
    assert sum(1 for c in calls if c["op"] == "close") == n_close + 1

    # every create path closed its client (try/finally discipline)
    assert sum(1 for c in calls if c["op"] == "connect") == sum(
        1 for c in calls if c["op"] == "close"
    )

    # disabled sink: short-circuits before any client construction
    n_connect = sum(1 for c in calls if c["op"] == "connect")
    assert ensure_topic(OutputDef(name="x", enabled=False), "b:9092") is False
    assert sum(1 for c in calls if c["op"] == "connect") == n_connect


@pytest.mark.parametrize("delay,exact", [("365 days", True), ("1 hour", False)])
def test_streaming_dedup_within_watermark_bounds_state(
    spark, stream_catalog, delay, exact
):
    """dropDuplicatesWithinWatermark semantics under multi-batch execution:
    with a delay covering the whole fixture span the state never evicts and
    the output is EXACTLY the batch distinct key set; with a short delay the
    state is bounded and watermark semantics apply in full — a key may
    re-emit after eviction AND a key arriving only in late-beyond-watermark
    rows is dropped — so the distinct emitted keys are a subset of the
    batch distinct set."""
    comp = StreamingCompiler(spark, stream_catalog, max_files_per_trigger=1)
    sdf = (
        comp.stream_source("events")
        .withWatermark("ts", delay)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    streamed = run_stream_to_memory(sdf, spark, output_mode="append")
    batch = (
        stream_catalog.resolve("events")
        .read(spark)
        .select("user_id", "event_type")
        .distinct()
    )
    got, want = streamed.toPandas(), batch.toPandas()
    if exact:
        assert canonical_rows(got) == canonical_rows(want)
    else:
        assert len(got) > 0
        assert set(canonical_rows(got.drop_duplicates())) <= set(canonical_rows(want))


def test_stream_stream_join_state_evicts_under_watermark(spark, tmp_path):
    """The 100×-scale failure mode for stream-stream joins is unbounded
    state: every buffered row that the watermark can no longer match must
    be REMOVED from the state store, not retained forever. Drive the
    windowed click⋈purchase join over three file-batches two hours apart
    (far beyond watermark + join window) and assert, from the engine's
    own StreamingQueryProgress.stateOperators metrics, that (a) rows were
    evicted and (b) the final state size is bounded by one batch's
    working set — while the join output stays exactly correct."""
    import datetime as dt
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    base = dt.datetime(2024, 1, 1)
    n_users = 20
    for k in range(3):
        t0 = base + dt.timedelta(hours=2 * k)
        rows = []
        for u in range(n_users):
            rows.append((1000 * k + u, u, "click", t0))
            rows.append(
                (1000 * k + 500 + u, u, "purchase", t0 + dt.timedelta(minutes=5))
            )
        write_wave(spark, src, k, rows, schema)

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    clicks = (
        reader.filter("event_type = 'click'")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        reader.filter("event_type = 'purchase'")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")

    name = "evict_probe"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination()

    # correctness: every click pairs with exactly its user's purchase in
    # the same 2-hour wave (other waves are outside the 30-minute window)
    out = spark.table(name)
    assert out.count() == 3 * n_users
    assert out.select("user_id").distinct().count() == n_users

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert ops, "no stateOperators metrics reported"
    removed = sum(op.get("numRowsRemoved", 0) for op in ops)
    final_total = ops[-1]["numRowsTotal"]
    total_input = 3 * n_users * 2
    # (a) the watermark actually evicted buffered rows
    assert removed > 0, ops
    # (b) bounded state: the store never ends holding the whole history —
    # at most the last wave's working set (2 sides × n_users), never the
    # cumulative 120 rows
    assert final_total <= 2 * n_users, ops
    assert final_total < total_input


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Stream-stream LEFT OUTER semantics: an unmatched left row may only
    emit (null-padded) once the watermark proves no match can still
    arrive — until then it sits in state. Drive clicks where half the
    users never purchase, across two file-batches far apart so the
    second batch's watermark advance flushes the first wave's unmatched
    clicks; assert matched rows join normally, unmatched clicks from the
    flushed wave appear exactly once with null purchase, and no
    unmatched row from the final wave leaks early (its watermark never
    passes)."""
    import datetime as dt
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    base = dt.datetime(2024, 1, 1)
    n_users = 10
    for k in range(2):
        t0 = base + dt.timedelta(hours=4 * k)
        rows = []
        for u in range(n_users):
            rows.append((1000 * k + u, u, "click", t0))
            if u % 2 == 0:  # only even users purchase
                rows.append(
                    (1000 * k + 500 + u, u, "purchase",
                     t0 + dt.timedelta(minutes=5))
                )
        write_wave(spark, src, k, rows, schema)

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    clicks = (
        reader.filter("event_type = 'click'")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"), "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        reader.filter("event_type = 'purchase'")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")

    name = "outer_probe"
    q = (
        joined.writeStream.format("memory")
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

    rows = spark.table(name).collect()
    matched = {(r["click_id"], r["purchase_id"]) for r in rows
               if r["purchase_id"] is not None}
    unmatched = [r["click_id"] for r in rows if r["purchase_id"] is None]
    # every purchase matched its same-wave click (both waves)
    assert matched == {
        (1000 * k + u, 1000 * k + 500 + u)
        for k in range(2) for u in range(0, n_users, 2)
    }
    # wave-0 odd-user clicks flushed null-padded by wave-1's watermark,
    # exactly once each; wave-1 unmatched clicks still held in state
    # (their no-match proof never arrives before the stream ends)
    assert sorted(unmatched) == [1000 * 0 + u for u in range(1, n_users, 2)]


def test_cdc_tombstone_no_resurrection_across_batches(spark, tmp_path):
    """Compacted-topic DELETE semantics under deliberately out-of-order
    cross-run arrival: a tombstone must suppress its key, an OLDER update
    arriving AFTER the tombstone must NOT resurrect it (the state retains
    winning tombstones), and a NEWER update must resurrect it."""
    from kafka_streams_common_spark.catalog import TableCatalog, TableRef
    from kafka_streams_common_spark.streaming import StreamingCompiler
    from kafka_streams_common_spark.streaming.runner import (
        run_changelog_materialization,
    )

    state_dir = str(tmp_path / "state")
    schema = "user_id bigint, event_id bigint, ts bigint, event_type string"

    def run_batch(rows, subdir):
        d = str(tmp_path / subdir)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        cat = TableCatalog(
            {"cl": TableRef(name="cl", path=d, key_field="user_id")}
        )
        comp = StreamingCompiler(spark, cat, max_files_per_trigger=1)
        return run_changelog_materialization(
            comp.stream_source("cl"),
            spark,
            state_dir,
            key_field="user_id",
            seq_field="ts",
            tiebreak_field="event_id",
            tombstone_predicate="event_type = 'del'",
        )

    # run 1: updates for users 1,2; tombstones for users 1 (latest) and 3
    first = run_batch(
        [
            (1, 100, 10, "upd"),
            (2, 101, 10, "upd"),
            (1, 102, 30, "del"),
            (3, 103, 10, "del"),
        ],
        "b1",
    )
    assert {r["user_id"] for r in first.collect()} == {2}

    # run 2 (later arrival): an OLDER update for user 1 (ts=20 < del ts=30)
    # and a NEWER update for user 3 (ts=50 > del ts=10)
    second = run_batch(
        [(1, 104, 20, "upd"), (3, 105, 50, "upd")],
        "b2",
    )
    got = {r["user_id"]: r["event_type"] for r in second.collect()}
    assert got == {2: "upd", 3: "upd"}, got  # 1 stays deleted, 3 resurrects


def test_fk_join_reemits_dependent_facts_on_dimension_update(spark, tmp_path):
    """KTable FK-join semantics: when a dimension key's row changes,
    every fact referencing it by foreign key re-emits with the fresh
    enrichment; facts of untouched keys do not re-emit; dimension
    updates with no dependent facts emit nothing."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from kafka_streams_common_spark.streaming.runner import (
        run_fk_join_materialization,
    )

    src = str(tmp_path / "dim_src")
    os.makedirs(src)
    t0 = dt.datetime(2024, 1, 1)

    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"

    write_wave(spark, src, 0, [(1, t0, 10, "segA"), (2, t0, 11, "segX")], schema)
    write_wave(spark, src, 1, [
        (1, t0 + dt.timedelta(hours=1), 12, "segB"),
        (3, t0, 13, "segZ"),
    ], schema)

    facts = spark.createDataFrame(
        [(101, 1, 10.0), (102, 1, 20.0), (103, 2, 30.0)],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    dim = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    view, emissions = run_fk_join_materialization(
        dim, facts, spark, str(tmp_path / "state"),
        dim_key="user_id", fk_field="o_custkey",
        seq_field="ts", tiebreak_field="event_id",
    )
    final = {(r["o_orderkey"], r["event_type"]) for r in view.collect()}
    assert final == {(101, "segB"), (102, "segB"), (103, "segX")}

    em = [
        (r["epoch"], r["o_orderkey"], r["event_type"])
        for r in emissions.collect()
    ]
    epochs = sorted({e for e, _, _ in em})
    assert len(epochs) == 2, em
    first, second = epochs
    wave0 = {(ok, seg) for e, ok, seg in em if e == first}
    wave1 = {(ok, seg) for e, ok, seg in em if e == second}
    # wave 0: user 1's two orders enriched segA, user 2's order segX
    assert wave0 == {(101, "segA"), (102, "segA"), (103, "segX")}
    # wave 1: user 1 updated -> ONLY its dependents re-emit, now segB;
    # user 3 has no dependent facts -> nothing
    assert wave1 == {(101, "segB"), (102, "segB")}
