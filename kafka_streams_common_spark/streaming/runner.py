"""Streaming pipeline execution.

Three layers, mirroring SURVEY.md §4.2's staged plan for KTable semantics:

1. :class:`StreamingCompiler` — the batch compiler with a streaming root:
   the source reads via ``readStream`` (file source here; Kafka source wiring
   in ``sources.kafka``), dimension tables stay batch DataFrames, so join
   steps become stream-static joins (J1/J2 streaming) and aggregations
   become update/complete-mode streaming aggs (A1 streaming). All
   projection/join/agg expressions are inherited unchanged — stream-batch
   equivalence by construction, asserted in tests.
2. :func:`run_stream_to_memory` — bounded execution harness: drive a
   streaming DataFrame to completion (``processAllAvailable``) into a memory
   sink and return the final result as a batch DataFrame. This is what lets
   streaming queries participate in the driver's DuckDB-oracle check.
   :func:`run_latest_per_key_state` runs the KTable the same way: the
   ``registry.latest_per_key`` aggregation in update mode, its per-key
   winner held in the engine's state store.
3. :func:`run_changelog_materialization` — the stateful piece
   (S2 streaming): ``foreachBatch`` MERGE of each microbatch into a
   parquet-backed latest-per-key state table (the RocksDB+changelog analog;
   cited: KTableRegistry.java:41-50, SURVEY.md §4.2 "custom work needed").
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_streams_common_spark.catalog import _READER_CONFS, TableCatalog, normalize_ts
from kafka_streams_common_spark.compiler import BatchCompiler
from kafka_streams_common_spark.registry import latest_per_key


@contextmanager
def bounded_shuffle_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` down to one task wave —
    ``defaultParallelism`` partitions — for the duration of a bounded
    streaming run.

    Stateful streaming pays a per-microbatch, per-partition state-store
    commit: under a vanilla session's 200 default shuffle partitions, a
    multi-batch ``applyInPandasWithState`` run at sf0.1 measured ~300×
    pathological (SCALE.md — 1,055 s for ``streaming_holt_trend`` on a
    bare ``local[8]``) purely on empty-partition commit overhead. Any
    count above one wave runs every stateful operator in several waves,
    each with its own round of commits per microbatch; fewer than one
    wave leaves cores idle. The stateful operator's state partitioning is
    pinned to the shuffle partition count at query START (a restart
    keeps the checkpointed count), so an explicit ``repartition()``
    cannot change it — Spark re-inserts its own exchange. The scope only
    ever LOWERS the setting (a session already at or below
    ``defaultParallelism`` is untouched), and restores the previous
    value after the query stops — batch queries planned outside the
    scope never see it.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    target = spark.sparkContext.defaultParallelism
    if int(prev) <= target:
        yield
        return
    spark.conf.set(key, str(target))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


class StreamingCompiler(BatchCompiler):
    """Compile pipeline configs against a streaming root.

    ``max_files_per_trigger`` bounds each microbatch so tests exercise true
    multi-batch incremental execution, not a single-batch degenerate run.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        max_files_per_trigger: int | None = None,
    ):
        super().__init__(spark, catalog)
        self.max_files_per_trigger = max_files_per_trigger

    def stream_source(self, name: str) -> DataFrame:
        """File-based streaming source: schema taken from the batch read
        (streaming file sources require an explicit schema)."""
        ref = self.catalog.resolve(name)
        # raw on-disk schema — normalization (nanos → timestamp) must happen
        # AFTER the scan, or the reader would map int64-nanos columns to a
        # timestamp schema and fail on type mismatch
        for k, v in _READER_CONFS:
            self.spark.conf.set(k, v)
        raw_schema = self.spark.read.format(ref.format).load(ref.path).schema
        reader = self.spark.readStream.format(ref.format).schema(raw_schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        # the file streaming source requires a directory input (it manages
        # basePath internally); expose single-file tables through a temp
        # directory of symlinks
        path = ref.path
        if os.path.isfile(path):
            link_dir = tempfile.mkdtemp(prefix=f"kscs_stream_{name}_")
            os.symlink(os.path.abspath(path), os.path.join(link_dir, os.path.basename(path)))
            path = link_dir
        df = reader.load(path)
        # re-apply time-column normalization on the streaming frame
        return normalize_ts(df, ref.ts_nanos_cols)

    def _read_source(self, p):
        return self.stream_source(p.source.name)

    def _compile_simple_stream(self, p):
        # observe() is unsupported on some streaming plans; identity is the
        # semantic contract (P6 peek is a side-effect tap)
        return self._root(p)


def _drain(spark: SparkSession, writer) -> list:
    """Start ``writer``'s query under :func:`bounded_shuffle_partitions`,
    run it until its bounded input is consumed, stop it, and return its
    ``recentProgress``."""
    with bounded_shuffle_partitions(spark):
        q = writer.start()
        try:
            q.processAllAvailable()
            return q.recentProgress
        finally:
            q.stop()
            q.awaitTermination()


def _current_state(
    spark: SparkSession, marker: str, schema: StructType
) -> DataFrame | None:
    """The state version the ``marker`` file points at, if any, read with
    its known ``schema`` (inferring it would run a Spark job per read)."""
    if not os.path.exists(marker):
        return None
    with open(marker, encoding="utf-8") as fh:
        path = fh.read().strip()
    return spark.read.schema(schema).parquet(path) if path else None


def _fold_into_state(
    spark: SparkSession,
    marker: str,
    schema: StructType,
    batch_df: DataFrame,
    epoch_id: int,
    key_field: str,
    seq_field: str,
    tiebreak_field: str | None,
) -> str:
    """Fold one microbatch into the latest-per-key state beside
    ``marker``: write the merged table to a new versioned directory, then
    atomically repoint the marker at it (plain-parquet MERGE without
    Delta). ``schema`` is the state's: ``latest_per_key`` over the
    stream. Returns the new version's path."""
    state = _current_state(spark, marker, schema)
    merged = batch_df if state is None else state.unionByName(batch_df)
    new_state = latest_per_key(merged, key_field, seq_field, tiebreak_field)
    version_path = os.path.join(
        os.path.dirname(marker), f"v{epoch_id}_{uuid.uuid4().hex[:8]}"
    )
    new_state.write.mode("overwrite").parquet(version_path)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(version_path)
    os.replace(tmp, marker)  # atomic repoint
    return version_path


def run_stream_to_memory(
    streaming_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
) -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion into a memory sink;
    return the final contents as a batch DataFrame.

    Aggregations should use ``output_mode='complete'`` so the memory table
    holds exactly the final aggregate state.

    The ``mem_*`` temp view is dropped before returning (r16 — it used to
    accumulate one catalog entry per run across long bench sessions):
    ``spark.table`` resolves the view EAGERLY at DataFrame creation, so
    the returned frame keeps its bound memory-sink plan after the drop —
    pinned by ``tests/test_streaming.py::test_memory_sink_view_cleanup``.
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
    )
    try:
        _drain(spark, writer)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def run_latest_per_key_state(
    stream: DataFrame,
    spark: SparkSession,
    key_field: str,
    seq_field: str,
    tiebreak_field: str,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, list]:
    """Materialize a changelog stream as a latest-per-key table held in
    the engine's state store (KTable/S2 streaming semantics): run
    :func:`~kafka_streams_common_spark.registry.latest_per_key` over the
    stream as an update-mode streaming aggregation, one state row per key
    (the reference's RocksDB-backed KTable, ``KTableRegistry.java:41-50``).

    Each micro-batch emits the keys whose winner changed; the returned
    batch DataFrame is ``latest_per_key`` over those emissions (the
    changelog-topic compaction). ``max_by`` over the ``(seq, tiebreak)``
    total order is associative, so the result does not depend on where
    micro-batches are cut. Also returns the query's ``recentProgress``
    for state-size assertions. The ``lpks_*`` temp view is dropped
    before returning.
    """
    name = f"lpks_{uuid.uuid4().hex[:12]}"
    writer = (
        latest_per_key(stream, key_field, seq_field, tiebreak_field)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    progress = _drain(spark, writer)
    final = latest_per_key(spark.table(name), key_field, seq_field, tiebreak_field)
    spark.catalog.dropTempView(name)
    return final, progress


def run_changelog_materialization(
    streaming_df: DataFrame,
    spark: SparkSession,
    state_dir: str,
    key_field: str,
    seq_field: str,
    tiebreak_field: str | None = None,
    checkpoint_dir: str | None = None,
    tombstone_predicate: str | None = None,
) -> DataFrame:
    """Materialize a changelog stream as a latest-per-key state table
    (KTable/S2 streaming semantics) via ``foreachBatch`` merge.

    Each microbatch: new rows ∪ current state → latest-per-key → atomically
    replace the state table (write to a versioned directory, then repoint a
    marker file — plain-parquet MERGE without Delta). Latest-per-key is
    order-insensitive (max over a total order), so correctness does not
    depend on microbatch boundaries — asserted by the stream-batch
    equivalence test.

    Returns the final state as a batch DataFrame.

    ``tombstone_predicate`` (SQL boolean over the row) adds compacted-topic
    DELETE semantics: a row matching it is a tombstone — it competes in
    latest-per-key like any record (so a delete beats earlier updates and
    a LATER update resurrects the key), the state table RETAINS winning
    tombstones (dropping them would let an out-of-order older update
    resurrect a deleted key in a later microbatch — the classic CDC-merge
    bug), and only the RETURNED view filters them out.
    """
    os.makedirs(state_dir, exist_ok=True)
    marker = os.path.join(state_dir, "_CURRENT")
    # by analysis alone: no Spark job
    schema = latest_per_key(streaming_df, key_field, seq_field, tiebreak_field).schema

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _fold_into_state(
            spark, marker, schema, batch_df, epoch_id, key_field, seq_field, tiebreak_field
        )

    writer = streaming_df.writeStream.foreachBatch(merge_batch).outputMode("append")
    if checkpoint_dir:
        # source-offset checkpointing: a restart with the same checkpoint
        # resumes after the last committed microbatch (already-processed
        # input is NOT replayed into the state merge)
        writer = writer.option("checkpointLocation", checkpoint_dir)
    _drain(spark, writer)
    state = _current_state(spark, marker, schema)
    assert state is not None, "no microbatch produced state"
    if tombstone_predicate is not None:
        # coalesce(…, false): a NULL-valued predicate (e.g. a NULL
        # tombstone-marker column) must mean "not a tombstone" — bare
        # NOT(NULL) is NULL and would silently drop live keys.
        return state.filter(f"NOT coalesce(({tombstone_predicate}), false)")
    return state


def run_fk_join_materialization(
    dim_stream: DataFrame,
    facts: DataFrame,
    spark: SparkSession,
    state_dir: str,
    dim_key: str,
    fk_field: str,
    seq_field: str,
    tiebreak_field: str | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """KTable FOREIGN-KEY join materialization — the Kafka Streams
    ``KTable.join(other, foreignKeyExtractor, ...)`` semantics the
    reference's primary-key-only join chains (J1-J5,
    ``DynamicTopologyBuilder.java``) cannot express: facts reference a
    DIMENSION row by foreign key, and when the dimension CHANGES, every
    dependent fact row re-emits with the new enrichment (Kafka Streams
    implements this with a subscription/response topic pair; here the
    per-microbatch changed-key set plays the subscription role).

    Per microbatch: fold the dimension changelog batch into a
    latest-per-key state table (same versioned-parquet merge as
    :func:`run_changelog_materialization`), then append to the EMISSIONS
    log the facts owned by keys whose dimension row changed in this
    batch, joined against the fresh state. Facts are scanned per batch
    only for the changed-key subset (broadcast semi-join on the batch's
    key set — dimension-update-sized, not fact-sized).

    Returns ``(view, emissions)``: the final enriched view (facts ⟕
    latest dimension state — what a fresh full rebuild would produce;
    the batch≡stream anchor) and the append-only emission log with an
    ``epoch`` column (the changelog a downstream consumer would see;
    re-emission dynamics are pinned in tests/test_streaming.py).
    """
    os.makedirs(state_dir, exist_ok=True)
    dim_dir = os.path.join(state_dir, "dim")
    emit_dir = os.path.join(state_dir, "emit")
    os.makedirs(dim_dir, exist_ok=True)
    os.makedirs(emit_dir, exist_ok=True)
    marker = os.path.join(dim_dir, "CURRENT")
    schema = latest_per_key(dim_stream, dim_key, seq_field, tiebreak_field).schema

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        version_path = _fold_into_state(
            spark, marker, schema, batch_df, epoch_id, dim_key, seq_field, tiebreak_field
        )
        # changed keys this batch = keys present in the batch (a
        # latest-per-key fold can only change a key it saw); re-emit
        # their dependent facts with the fresh enrichment
        changed = batch_df.select(F.col(dim_key)).distinct()
        fresh = spark.read.schema(schema).parquet(version_path)
        emission = (
            facts.join(
                F.broadcast(changed),
                facts[fk_field] == changed[dim_key],
                "left_semi",
            )
            .join(
                fresh, facts[fk_field] == fresh[dim_key], "left"
            )
            .drop(dim_key)
            .withColumn("epoch", F.lit(epoch_id).cast("bigint"))
        )
        emission.write.mode("append").parquet(emit_dir)

    writer = dim_stream.writeStream.foreachBatch(merge_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    _drain(spark, writer)
    state = _current_state(spark, marker, schema)
    assert state is not None, "no microbatch produced state"
    view = facts.join(
        state, facts[fk_field] == state[dim_key], "left"
    ).drop(dim_key)
    try:
        emissions = spark.read.parquet(emit_dir)
    except Exception:
        emissions = view.filter(F.lit(False)).withColumn(
            "epoch", F.lit(0).cast("bigint")
        )
    return view, emissions
