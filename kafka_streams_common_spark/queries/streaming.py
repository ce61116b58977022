"""Streaming queries, driven to completion for the oracle check.

Each query builds a Structured Streaming plan (file-stream root), runs it to
completion (``processAllAvailable``) and returns the final result as a batch
DataFrame — so streaming execution participates in the same DuckDB-oracle
correctness gate as the batch surface. Stream-batch equivalence is the
property Kafka Streams' table duality gives by construction (SURVEY.md §5
item 4); here it is asserted, not assumed.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_common_spark.catalog import TableCatalog
from kafka_streams_common_spark.config import (
    AggregationSpec,
    FieldMapping,
    JoinStep,
    JoinType,
    KeyExtraction,
    KeySource,
    MappingSide,
    PipelineDef,
    ProcessingMode,
    SourceDef,
)
from kafka_streams_common_spark.queries.core import LATEST_EVENTS_CTE
from kafka_streams_common_spark.queries.registry import query
from kafka_streams_common_spark.queries._shared_oracles import OHLC_DAILY_ORACLE
from kafka_streams_common_spark.streaming import (
    StreamingCompiler,
    run_changelog_materialization,
    run_stream_to_memory,
)


def _streaming_compiler(spark: SparkSession, sf_dir: str) -> StreamingCompiler:
    return StreamingCompiler(spark, TableCatalog.for_directory(sf_dir))


def _decided_region(streamed: DataFrame, *sources) -> DataFrame:
    """Keep the rows of a bounded 1-hour-watermark run that its final
    watermark decided: ``ts_us`` older than the latest source event time
    less the lag and a 1-second margin for millisecond watermark
    truncation. ``sources`` are ``(frame, timestamp column)`` pairs; the
    cut is the greatest of their maxima, joined in as a one-row broadcast
    so no Spark job runs while the frame is built."""
    from pyspark.sql import functions as F

    cut, maxima = None, []
    for i, (frame, ts) in enumerate(sources):
        m = frame.agg(F.max(F.unix_micros(ts)).alias(f"__m{i}"))
        cut = m if cut is None else cut.crossJoin(m)
        maxima.append(F.col(f"__m{i}"))
    latest = maxima[0] if len(maxima) == 1 else F.greatest(*maxima)
    cut = cut.select((latest - 3_600_000_000 - 1_000_000).alias("__cut"))
    return (
        streamed.crossJoin(F.broadcast(cut))
        .filter(F.col("ts_us") < F.col("__cut"))
        .drop("__cut")
    )


@query(
    "streaming_count_by_event_type",
    oracle="SELECT event_type AS key, count(*) AS n_events FROM events GROUP BY event_type",
)
def streaming_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 streaming: update-mode aggregation over an event stream, final
    state read back (complete-mode memory sink)."""
    p = PipelineDef(
        id="streaming-event-counts",
        mode=ProcessingMode.AGGREGATION,
        source=SourceDef(name="events"),
        group_by=KeyExtraction(source=KeySource.VALUE, field_name="event_type"),
        aggregations=(AggregationSpec(fn="count", alias="n_events"),),
    )
    sdf = _streaming_compiler(spark, sf_dir).compile(p)
    return run_stream_to_memory(sdf, spark, output_mode="complete")


@query(
    "streaming_stream_static_join",
    oracle="""
    SELECT o.o_custkey AS key, o.o_orderkey, o.o_totalprice, c.c_name AS customer_name
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 streaming: order stream enriched against the static customer dim."""
    p = PipelineDef(
        id="streaming-orders-enrichment",
        mode=ProcessingMode.JOIN_CHAIN,
        source=SourceDef(name="orders"),
        key_extraction=KeyExtraction(source=KeySource.VALUE, field_name="o_custkey"),
        join_operations=(
            JoinStep(
                right=SourceDef(name="customer"),
                join_type=JoinType.LEFT_JOIN,
                broadcast=True,
                output_mappings=(
                    FieldMapping(MappingSide.LEFT, "o_orderkey", "o_orderkey"),
                    FieldMapping(MappingSide.LEFT, "o_totalprice", "o_totalprice"),
                    FieldMapping(MappingSide.RIGHT, "c_name", "customer_name"),
                ),
            ),
        ),
    )
    sdf = _streaming_compiler(spark, sf_dir).compile(p)
    return run_stream_to_memory(sdf, spark, output_mode="append")


@query(
    "streaming_tumbling_window_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (1-hour windows). Complete
    output mode → the final window set equals the batch time-bucket
    grouping. (The watermark/append variant is exercised in tests — append
    mode can't emit still-open windows under a bounded source.)"""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    sdf = (
        comp.stream_source("events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_stream_to_memory(sdf, spark, output_mode="complete")


@query(
    "streaming_suppressed_window_counts",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT max(ts) AS m FROM events)
    SELECT a.window_start, a.event_type, a.n_events
    FROM agg a, mx
    WHERE a.window_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
    """,
)
def streaming_suppressed_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation with a watermark — the
    ``Suppressed.untilWindowCloses`` semantics of the Kafka Streams DSL
    (emit a window exactly once, when it can no longer change): each
    1-hour window emits only after the 30-minute watermark passes its
    end, so the bounded run yields precisely the CLOSED windows. The
    oracle replays the final-watermark rule — windows whose end ≤
    max(ts) − 30 min — proving the exactly-once emission boundary
    (complete-mode tumbling is the separate
    ``streaming_tumbling_window_counts`` row; open windows' counts are
    retained in state, not lost). At scale this is the only windowed
    output mode that keeps sinks append-only (no retractions), the
    contract downstream log consumers need."""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    sdf = (
        comp.stream_source("events")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_stream_to_memory(sdf, spark, output_mode="append")


@query(
    "streaming_sliding_window_counts",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS bkt, event_type
      FROM events
    ),
    m AS (
      SELECT bkt AS window_start, event_type FROM b
      UNION ALL
      SELECT bkt - INTERVAL 30 MINUTE, event_type FROM b
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM m GROUP BY 1, 2
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING (hopping) window aggregation — 1-hour windows
    every 30 minutes, so each event lands in exactly two windows (the
    overlapping-dashboards shape tumbling can't express). Oracle
    replays the assignment: both engines align windows to the epoch, so
    an event's two window starts are its 30-minute bucket and that
    bucket minus 30 minutes. State is |open windows × groups|-bounded
    exactly like tumbling; at scale the map-side partial aggregation
    carries (window, group) partials, never raw events."""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    sdf = (
        comp.stream_source("events")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return run_stream_to_memory(sdf, spark, output_mode="complete")


@query(
    "streaming_session_window_counts",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
      FROM events
    ),
    i AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM i GROUP BY user_id, sid
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming native ``session_window`` aggregation (30-minute gap,
    per user) — the dynamic-gap windowing the fixed ladder
    (tumbling/sliding) can't express: windows grow while events keep
    arriving within the gap and close when it lapses. Same oracle as
    the batch twin ``session_window_per_user`` (lag + cumulative-sum
    island rebuild), proving the batch≡stream duality for session
    windows through the external gate. Complete mode merges partial
    sessions across microbatches; the production append-mode variant
    adds a watermark so closed sessions emit exactly once and session
    state is evictable."""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    sdf = (
        comp.stream_source("events")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_stream_to_memory(sdf, spark, output_mode="complete")


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream windowed inner join — the one §2.7 streaming shape the
    reference lacks entirely (no JoinWindows anywhere in its source): each
    click joins purchases by the same user within the following 30
    minutes. Both sides carry watermarks so the join state is evictable
    (unbounded state otherwise); the time-range condition bounds the
    per-key buffer. Oracle = the equivalent batch interval join."""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    clicks = (
        comp.stream_source("events")
        .filter("event_type = 'click'")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        comp.stream_source("events")
        .filter("event_type = 'purchase'")
        .withWatermark("ts", "1 hour")
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
    return run_stream_to_memory(joined, spark, output_mode="append")


@query(
    "streaming_latest_per_key",
    oracle=LATEST_EVENTS_CTE
    + "SELECT user_id, event_id, ts, event_type, value, props FROM latest_events",
)
def streaming_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 streaming: the stateful KTable materialization — foreachBatch
    merge of the event changelog into a latest-per-key state table."""
    import atexit
    import shutil

    comp = _streaming_compiler(spark, sf_dir)
    stream = comp.stream_source("events")
    state_dir = tempfile.mkdtemp(prefix="kscs_state_")
    # the state table lives on disk until the result is consumed; reap the
    # directory at interpreter exit so repeated runs don't accumulate /tmp
    atexit.register(shutil.rmtree, state_dir, True)
    state = run_changelog_materialization(
        stream, spark, state_dir, key_field="user_id", seq_field="ts", tiebreak_field="event_id"
    )
    return state.select("user_id", "event_id", "ts", "event_type", "value", "props")


@query(
    "streaming_fk_join_enrichment",
    oracle=LATEST_EVENTS_CTE
    + """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           le.event_type AS user_segment,
           le.ts AS segment_ts
    FROM orders o LEFT JOIN latest_events le ON o.o_custkey = le.user_id
    """,
)
def streaming_fk_join_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable FOREIGN-KEY join (``streaming/runner.py:
    run_fk_join_materialization``) — the Kafka Streams
    ``KTable.join(other, foreignKeyExtractor)`` shape the reference's
    primary-key join chains can't express: orders reference the user
    dimension by FK, the dimension is a CHANGELOG (latest event per
    user = the user's current segment), and every dimension update
    re-emits the dependent orders with fresh enrichment (the
    subscription/response-topic mechanics, played here by the
    per-microbatch changed-key set; re-emission dynamics pinned in
    tests/test_streaming.py). The driver-gated check is the final view:
    batch ≡ stream because latest-per-key is order-insensitive and the
    view is a full rejoin against final state."""
    import atexit
    import shutil

    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.runner import (
        run_fk_join_materialization,
    )

    comp = _streaming_compiler(spark, sf_dir)
    dim = comp.stream_source("events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    facts = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    state_dir = tempfile.mkdtemp(prefix="kscs_fk_")
    atexit.register(shutil.rmtree, state_dir, True)
    view, _emissions = run_fk_join_materialization(
        dim,
        facts,
        spark,
        state_dir,
        dim_key="user_id",
        fk_field="o_custkey",
        seq_field="ts",
        tiebreak_field="event_id",
    )
    return view.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("event_type").alias("user_segment"),
        F.col("ts").alias("segment_ts"),
    )


@query(
    "streaming_dedup_distinct_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication — the "seen-set" stateful operator: emit each
    (user_id, event_type) key the first time it appears in the stream,
    suppress every later occurrence. State is the distinct-key set, exactly
    the structure a streaming ingest pipeline uses to keep an append-only
    corpus duplicate-free. Only the dedup KEY columns are emitted, so the
    bounded-run result is deterministically the distinct key set (emitting
    non-key columns of the first-seen row would tie the output to
    micro-batch arrival order). The unbounded-stream variant bounds this
    state with ``dropDuplicatesWithinWatermark`` — exercised in
    tests/test_streaming.py, where arrival order is pinned."""
    comp = _streaming_compiler(spark, sf_dir)
    dedup = (
        comp.stream_source("events").select("user_id", "event_type").dropDuplicates()
    )
    return run_stream_to_memory(dedup, spark, output_mode="append")


@query(
    "streaming_quality_gate_ingest",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
               / CAST(len(t) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS DOUBLE) / len(t) AS alpha_frac,
             len(list_filter(t, x -> x IN ('the','be','to','of','and',
                                           'that','have','with'))) AS stop_hits
      FROM toks
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words
    FROM m
    WHERE (n_words BETWEEN 20 AND 100000)
      AND (mean_word_len BETWEEN 3.0 AND 10.0)
      AND alpha_frac >= 0.80
      AND stop_hits >= 2
    """,
)
def streaming_quality_gate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating AT INGEST: the Gopher rule battery
    (operators.text.gopher_quality) applied to a document STREAM — the
    shape a training-data pipeline actually runs (filter documents as
    they arrive, before they ever land in the corpus store). The rule
    battery is a pure stateless projection, so it is streaming-safe with
    NO state store, NO watermark and append-mode output — per-microbatch
    cost is exactly the batch scan cost, and the batch and streaming
    answers are identical by construction (asserted here: the oracle is
    the BATCH definition)."""
    from kafka_streams_common_spark.operators.text import gopher_quality

    stream = _streaming_compiler(spark, sf_dir).stream_source("documents")
    gated = (
        gopher_quality(stream)
        .filter("keep")
        .select("doc_id", "n_words")
    )
    return run_stream_to_memory(gated, spark, output_mode="append")


@query(
    "streaming_mix_ingest",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (SELECT lang, sum(n_tokens) AS st FROM t GROUP BY lang),
    rates AS (
      SELECT lang,
             CAST(floor(least(1.0,
                    CAST(CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 5000
                                   WHEN 'zh' THEN 2000 WHEN 'es' THEN 1000
                         END AS DOUBLE) / st) * 1000000) AS BIGINT)
               AS rate_ppm
      FROM tot WHERE lang IN ('en', 'de', 'zh', 'es')
    )
    SELECT t.doc_id, t.lang, t.n_tokens
    FROM t JOIN rates USING (lang)
    WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000 < rates.rate_ppm
    """,
)
def streaming_mix_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing at INGEST: the per-stratum keep-rates
    are computed ONCE from the static reference corpus (a stream cannot
    know its final token totals), then the document STREAM is gated by a
    stream-static broadcast join + the md5 ppm-bucket test — the shape a
    recipe-driven ingest pipeline actually runs (rates re-derived per
    recipe release, applied stateless per record: no state store, no
    watermark, append mode). Batch ≡ stream by construction because the
    gate is a pure function of (id, stratum) given the broadcast rates —
    the oracle is the BATCH mixing definition and the stream run must
    hash-match it."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.functions.hashing import md5_int64
    from kafka_streams_common_spark.operators.text import _tokens
    from kafka_streams_common_spark.queries.registry import table

    budgets = {"en": 5000, "de": 5000, "zh": 2000, "es": 1000}
    static_docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens()).cast("bigint")
    budget = F.lit(None).cast("bigint")
    for stratum, b in budgets.items():
        budget = F.when(F.col("__st") == stratum, F.lit(b)).otherwise(budget)
    rates = (
        static_docs.withColumn("n_tokens", n_tokens)
        .groupBy(F.col("lang").alias("__st"))
        .agg(F.sum("n_tokens").alias("__stream_tokens"))
        .filter(F.col("__st").isin(*budgets))
        .select(
            "__st",
            F.floor(
                F.least(
                    F.lit(1.0),
                    budget.cast("double") / F.col("__stream_tokens"),
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("__rate_ppm"),
        )
    )
    stream = _streaming_compiler(spark, sf_dir).stream_source("documents")
    gated = (
        stream.withColumn("n_tokens", n_tokens)
        .join(F.broadcast(rates), F.col("lang") == F.col("__st"))
        .filter(
            F.pmod(md5_int64("doc_id"), F.lit(1_000_000)) < F.col("__rate_ppm")
        )
        .select("doc_id", "lang", "n_tokens")
    )
    return run_stream_to_memory(gated, spark, output_mode="append")


@query(
    "streaming_stream_stream_left_join",
    oracle="""
    WITH cutoff AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 1 HOUR - INTERVAL 30 MINUTE - INTERVAL 1 SECOND
               AS c
    )
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    CROSS JOIN cutoff
    WHERE a.event_type = 'click' AND a.ts < cutoff.c
    """,
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER windowed join — the outer half of the
    JoinWindows surface (the inner half is streaming_stream_stream_join):
    unmatched clicks emit null-padded, but only once the watermark proves
    no purchase can still arrive (click_ts + 30 min < watermark).

    A bounded source leaves the LAST watermark interval's unmatched rows
    in state forever (their no-match proof never arrives), so the raw
    streamed output is NOT batch-equivalent at the tail. Both the stream
    result and the oracle are therefore filtered to the INTERIOR — a
    region where emission is fully decided. The cutoff derives from the
    watermark each SIDE actually reaches: the event-type filters sit
    BELOW withWatermark, so each side's watermark is its own filtered
    max(ts) − delay, and the join's effective watermark is the MIN of
    the two — hence least(max click ts, max purchase ts) − delay −
    window, minus a 1-second margin for the engine's millisecond
    watermark truncation (a global max(ts) cutoff is wrong: the last
    click can never be proven unmatched by its own side's watermark —
    caught by the sf0.001 parity gate, where exactly that click sat
    between global-max and click-max cutoffs). The identical filter on
    both sides makes the comparison edge-proof regardless of the
    engine's strict-vs-non-strict eviction boundary. Unbounded
    deployments have no such tail (the watermark keeps advancing), so
    the operator itself needs no cutoff — only the equivalence harness
    does.
    """
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table

    comp = _streaming_compiler(spark, sf_dir)
    clicks = (
        comp.stream_source("events")
        .filter("event_type = 'click'")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        comp.stream_source("events")
        .filter("event_type = 'purchase'")
        .withWatermark("ts", "1 hour")
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
    ).select("click_id", "purchase_id", "user_id", "click_ts")
    streamed = run_stream_to_memory(joined, spark, output_mode="append")
    cutoff = (
        table(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("INTERVAL 1 HOUR")
                - F.expr("INTERVAL 30 MINUTE")
                - F.expr("INTERVAL 1 SECOND")
            ).alias("__c")
        )
    )
    return (
        streamed.join(F.broadcast(cutoff), F.col("click_ts") < F.col("__c"))
        .select("click_id", "purchase_id", "user_id")
    )


@query(
    "streaming_stream_stream_full_outer_join",
    oracle="""
    WITH cutoff AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 1 HOUR - INTERVAL 30 MINUTE - INTERVAL 1 SECOND
               AS c
    )
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           coalesce(a.user_id, b.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    CROSS JOIN cutoff
    WHERE (a.ts IS NULL OR a.ts < cutoff.c)
      AND (b.ts IS NULL OR b.ts < cutoff.c)
    """,
)
def streaming_stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER windowed join — closing the JoinWindows
    ladder (inner and left-outer are the sibling rows): unmatched rows
    on EITHER side emit null-padded once the watermark proves no
    counterpart can arrive. Same interior-cutoff convention as the
    left-outer row (see its docstring): both the streamed result and
    the oracle filter BOTH legs to the decided region, making the
    comparison edge-proof regardless of the engine's eviction boundary;
    unbounded deployments need no cutoff — only the equivalence
    harness does."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table

    comp = _streaming_compiler(spark, sf_dir)
    clicks = (
        comp.stream_source("events")
        .filter("event_type = 'click'")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        comp.stream_source("events")
        .filter("event_type = 'purchase'")
        .withWatermark("ts", "1 hour")
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
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user")).alias("user_id"),
        "click_ts",
        "p_ts",
    )
    out = run_stream_to_memory(joined, spark, output_mode="append")
    ev = table(spark, sf_dir, "events")
    cutoff = (
        ev.agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("INTERVAL 1 HOUR")
                - F.expr("INTERVAL 30 MINUTES")
                - F.expr("INTERVAL 1 SECOND")
            ).alias("c")
        )
    )
    return (
        out.crossJoin(F.broadcast(cutoff))
        .filter(
            (F.col("click_ts").isNull() | (F.col("click_ts") < F.col("c")))
            & (F.col("p_ts").isNull() | (F.col("p_ts") < F.col("c")))
        )
        .select("click_id", "purchase_id", "user_id")
    )


@query(
    "streaming_latest_per_key_state",
    oracle=LATEST_EVENTS_CTE
    + "SELECT user_id, event_id, ts, event_type, value, props FROM latest_events",
)
def streaming_latest_per_key_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 streaming with the KTable held in the engine's state store —
    the ``registry.latest_per_key`` aggregation run in update mode, one
    winner row per key, emitting the keys that changed each micro-batch
    (streaming/runner.run_latest_per_key_state). This is the KTable
    materialization the reference keeps in RocksDB
    (``KTableRegistry.java:41-50``), executed through Spark's streaming
    aggregation state rather than the foreachBatch parquet merge that
    ``streaming_latest_per_key`` exercises — the two registered paths
    cover the S2 design ladder from SURVEY §4.2. The update-log
    compaction is the same ``latest_per_key`` over the emissions.
    """
    from kafka_streams_common_spark.streaming.runner import (
        run_latest_per_key_state,
    )

    comp = _streaming_compiler(spark, sf_dir)
    stream = comp.stream_source("events").select(
        "user_id", "event_id", "ts", "event_type", "value", "props"
    )
    final, _progress = run_latest_per_key_state(
        stream, spark, key_field="user_id", seq_field="ts",
        tiebreak_field="event_id",
    )
    return final


@query(
    "streaming_session_state_machine",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
    m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
    d AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER w IS NULL
                    OR t - lag(t) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    g AS (
      SELECT user_id, t,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    ),
    s AS (
      SELECT user_id AS key,
             min(t) AS session_start_us,
             max(t) AS session_end_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id, sid
    )
    SELECT s.key, s.session_start_us, s.session_end_us, s.n_events
    FROM s CROSS JOIN m
    WHERE s.session_end_us + 1800000000 + 1000000 < m.mx - 3600000000
    """,
)
def streaming_session_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a CUSTOM STATE MACHINE with event-time
    timers (streaming/stateful.session_aggregate_state, 30-minute gap),
    run at query scale: events buffer until the watermark passes them,
    fold into sessions in event-time order, and each session is emitted
    once the watermark passes its end + gap, append-final (one row per
    closed session). The built-in ``session_window`` aggregation
    expresses the same result declaratively (``session_window_per_user``);
    this path exists for the semantics the built-in cannot host —
    per-session state machines, emission policies, enrichment carried
    across a session.

    Bounded-source equivalence uses the decided region: a session is
    decided once the final watermark passed its end + gap (1-second
    margin for millisecond watermark truncation, the streaming outer
    join's convention). Both the stream output and the oracle filter to
    exactly that region.
    """
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import (
        session_aggregate_state,
    )

    gap_s = 1800
    comp = _streaming_compiler(spark, sf_dir)
    stream = (
        comp.stream_source("events")
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    streamed = run_stream_to_memory(
        session_aggregate_state(stream, gap_seconds=gap_s),
        spark,
        output_mode="append",
    )
    closes = streamed.withColumn(
        "ts_us", F.col("session_end_us") + gap_s * 1_000_000
    )
    return _decided_region(closes, (table(spark, sf_dir, "events"), "ts")).select(
        "key", "session_start_us", "session_end_us", "n_events"
    )


@query(
    "streaming_funnel_conversion",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    cut AS (
      SELECT max(ts) - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS c FROM events
    ),
    decided AS (
      SELECT e.user_id FROM ev e CROSS JOIN cut
      GROUP BY e.user_id, cut.c HAVING max(e.ts) < cut.c
    ),
    v AS (
      SELECT user_id, min(ts) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM ev e JOIN c2 ON e.user_id = c2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c2.t2
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(1 + CASE WHEN c2.user_id IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS funnel_stage
    FROM v
    JOIN decided ON v.user_id = decided.user_id
    LEFT JOIN c2 ON v.user_id = c2.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The view→click→purchase funnel computed ON THE STREAM
    (streaming/stateful.funnel_state_machine): events buffer in per-user
    state until the watermark passes them, then fold in event-time order
    — the strict-sequential-min semantics of events_funnel_conversion,
    which is ORDER-sensitive and therefore impossible to compute from a
    stream without the watermark-buffered reorder (the out-of-order
    cross-batch proof lives in tests/test_stateful_and_bucketing.py).

    Bounded-source equivalence uses the decided region (the convention
    of the stream-stream outer join and session machine): a user is
    decided once the final watermark passed their LAST funnel-relevant
    event (1-second margin for millisecond watermark truncation) — every
    fold for such a user has happened, so their streamed funnel depth
    equals the batch replay. Output: ``(user_id, funnel_stage)`` for
    decided users who entered the funnel; emissions are monotone, so the
    update-log compaction is one max per user.
    """
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import (
        funnel_state_machine,
    )

    stage = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    comp = _streaming_compiler(spark, sf_dir)
    stream = (
        comp.stream_source("events")
        .withWatermark("ts", "1 hour")
        .select(
            "user_id",
            "ts",  # the watermarked column must survive the projection
            F.unix_micros("ts").alias("ts_us"),
            stage.cast("bigint").alias("stage"),
        )
        .filter(F.col("stage").isNotNull())
    )
    streamed = run_stream_to_memory(
        funnel_state_machine(stream, n_stages=3), spark, output_mode="update"
    )
    compact = streamed.groupBy(F.col("key").alias("user_id")).agg(
        F.max("funnel_stage").cast("bigint").alias("funnel_stage")
    )
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    cut = table(spark, sf_dir, "events").agg(
        (
            F.max("ts") - F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 1 SECOND")
        ).alias("__c")
    )
    decided = (
        ev.groupBy(F.col("user_id").alias("__u"))
        .agg(F.max("ts").alias("__umax"))
        .crossJoin(F.broadcast(cut))
        .filter(F.col("__umax") < F.col("__c"))
        .select("__u")
    )
    return compact.join(
        F.broadcast(decided), F.col("user_id") == F.col("__u"), "left_semi"
    )


@query(
    "streaming_cdc_tombstones",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS __rn
      FROM events
    )
    WHERE __rn = 1 AND event_type <> 'error'
    """,
)
def streaming_cdc_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with DELETE semantics — the streaming twin of
    ``s2_cdc_apply_tombstones``: the changelog streams through the
    foreachBatch latest-per-key merge, 'error' records act as
    compacted-topic tombstones (they win latest-per-key like any record
    and suppress their key from the published view; the STATE retains
    them so an out-of-order older update cannot resurrect a deleted key
    across microbatches — asserted in tests/test_streaming.py). Oracle =
    the equivalent batch CDC query."""
    import atexit
    import shutil

    comp = _streaming_compiler(spark, sf_dir)
    stream = comp.stream_source("events")
    state_dir = tempfile.mkdtemp(prefix="kscs_cdc_state_")
    atexit.register(shutil.rmtree, state_dir, True)
    state = run_changelog_materialization(
        stream,
        spark,
        state_dir,
        key_field="user_id",
        seq_field="ts",
        tiebreak_field="event_id",
        tombstone_predicate="event_type = 'error'",
    )
    return state.select("user_id", "event_id", "ts", "event_type", "value")


@query(
    "streaming_rate_limit_ingest",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    cut AS (
      SELECT max(ts_us) - 3600000000 - 1000000 AS c FROM ev
    ),
    ranked AS (
      SELECT user_id, event_id, ts_us,
             ts_us - ts_us % 3600000000 AS window_start_us,
             row_number() OVER (
               PARTITION BY user_id, ts_us - ts_us % 3600000000
               ORDER BY ts_us, event_id
             ) AS rn
      FROM ev
    )
    SELECT r.user_id, r.event_id, r.ts_us, r.window_start_us
    FROM ranked r CROSS JOIN cut
    WHERE r.rn <= 3 AND r.ts_us < cut.c
    """,
)
def streaming_rate_limit_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ingest quota ON THE STREAM
    (streaming/stateful.rate_limit_state): admit at most 3 events per
    user per tumbling event-time hour — the hot-producer throttle in
    front of a training-corpus or billing ingest. Admission is
    order-sensitive (the first 3 BY EVENT TIME win), so events buffer in
    state until the watermark passes them and fold in (ts, id) order —
    the out-of-order proof lives in tests/test_stateful_and_bucketing.py.
    Bounded-source equivalence on the decided region (the streaming-
    funnel convention): an admit/reject is final once the final
    watermark passed the event (1s margin), where the batch replay is
    row_number ≤ 3 per (user, hour window) ordered by (ts, id)."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import rate_limit_state

    comp = _streaming_compiler(spark, sf_dir)
    stream = (
        comp.stream_source("events")
        .withWatermark("ts", "1 hour")
        .select(
            "user_id", "event_id", "ts", F.unix_micros("ts").alias("ts_us")
        )
    )
    out = rate_limit_state(
        stream, n_per_window=3, window_us=3_600_000_000
    )
    admitted = run_stream_to_memory(out, spark, output_mode="append")
    return _decided_region(admitted, (table(spark, sf_dir, "events"), "ts")).select(
        F.col("key").alias("user_id"),
        F.col("id").alias("event_id"),
        "ts_us",
        "window_start_us",
    )


@query(
    "streaming_ohlc_daily",
    oracle=OHLC_DAILY_ORACLE,
)
def streaming_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed ON A STREAM — the live-dashboard twin of
    ``events_ohlc_daily``: open/close are ``min_by``/``max_by`` against
    the (ts, event_id) struct (a DECLARATIVE algebraic aggregate, so it
    streams with ordinary window state — no sort, no row_number, works
    in any output mode), high/low/count are plain aggregates. Because
    (ts, event_id) is unique, struct-argmin equals the batch query's
    row_number()-over-total-order definition, and the complete-mode
    final state must hash-match the batch oracle — stream ≡ batch by
    construction. The batch form keeps row_number for engines without
    ordered argmin; this form is what you deploy."""
    from pyspark.sql import functions as F

    comp = _streaming_compiler(spark, sf_dir)
    key = F.struct("ts", "event_id")
    sdf = (
        comp.stream_source("events")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return run_stream_to_memory(sdf, spark, output_mode="complete")


@query(
    "streaming_temporal_asof_join",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (
                 PARTITION BY o_custkey, o_orderdate
                 ORDER BY o_orderkey DESC
               ) AS rn
        FROM orders
      ) WHERE rn = 1
    ),
    m AS (
      SELECT greatest(
               (SELECT max(ts) FROM events),
               (SELECT max(CAST(o_orderdate AS TIMESTAMP)) FROM orders)
             ) AS mx
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           r.o_orderkey, r.o_totalprice
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= CAST(r.o_orderdate AS TIMESTAMP)
    CROSS JOIN m
    WHERE epoch_us(e.ts) < epoch_us(m.mx) - 3600000000 - 1000000
    """,
)
def streaming_temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Flink-style temporal-table join ON STREAMS
    (``streaming/stateful.py: temporal_asof_state``): an order-version
    stream and an event-probe stream union into one keyed watermarked
    stream; per key, rows buffer until the watermark passes, then fold
    in event-time order with a monotone carried version — each event
    emits the user's latest order at-or-before its time, exactly the
    batch as-of semantics, decided incrementally with per-key state =
    one carried version + the in-lag buffer. The oracle is the BATCH
    ASOF join restricted to the decided region (events older than the
    final watermark − 1 s safety margin) — the same decided-region
    convention as the streaming rate limiter."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import (
        temporal_asof_state,
    )

    comp = _streaming_compiler(spark, sf_dir)
    left = comp.stream_source("events").select(
        F.col("user_id").alias("key"),
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        F.lit(1).cast("long").alias("side"),
        F.col("event_id").alias("id"),
        F.lit(None).cast("long").alias("rkey"),
        F.lit(None).cast("double").alias("rval"),
    )
    right = comp.stream_source("orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts_us"),
        F.lit(0).cast("long").alias("side"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderkey").alias("rkey"),
        F.col("o_totalprice").alias("rval"),
    )
    unioned = left.unionAll(right).withWatermark("ts", "1 hour")
    out = temporal_asof_state(unioned)
    decided = run_stream_to_memory(out, spark, output_mode="append")

    return _decided_region(
        decided,
        (table(spark, sf_dir, "events"), "ts"),
        (table(spark, sf_dir, "orders"), F.col("o_orderdate").cast("timestamp")),
    ).select(
        F.col("id").alias("event_id"),
        F.col("key").alias("user_id"),
        "ts_us",
        F.col("matched_rkey").alias("o_orderkey"),
        F.col("matched_rval").alias("o_totalprice"),
    )


@query(
    "streaming_holt_trend",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT event_type AS key, epoch_us(ts) AS ts_us, event_id,
             value AS x
      FROM events
    ),
    cut AS (SELECT max(ts_us) - 3600000000 - 1000000 AS c FROM ev),
    numbered AS (
      SELECT key, ts_us, event_id, x,
             row_number() OVER (
               PARTITION BY key ORDER BY ts_us, event_id
             ) AS rn
      FROM ev
    ),
    r AS (
      SELECT key, ts_us, event_id, x, rn,
             x AS l, CAST(0 AS DOUBLE) AS b
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT q.key, q.ts_us, q.event_id, q.x, q.rn,
             0.5 * q.x + 0.5 * (r.l + r.b),
             0.25 * ((0.5 * q.x + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
      FROM numbered q JOIN r ON q.key = r.key AND q.rn = r.rn + 1
    )
    SELECT key, ts_us, event_id, x,
           l AS level, b AS trend, l + b AS forecast
    FROM r CROSS JOIN cut WHERE r.ts_us < cut.c
    """,
)
def streaming_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing ON THE STREAM
    (streaming/stateful.holt_state) — the live twin of
    ``timeseries_holt_trend_daily`` and the level+trend extension of
    ``streaming_ewma_value``: per event type, every event folds into
    the two-scalar recurrence in global event-time order and emits its
    (level, trend, one-step forecast) once decided — the
    load-forecasting baseline that updates as data arrives. Same
    buffered-reorder/strict-watermark/event-time-timer conventions and
    the same O(1)-per-key carried state (two scalars instead of one).
    Bounded-source equivalence on the decided region (1h lag + 1s
    margin) against the recursive-CTE definition — stream ≡ batch
    bit-for-bit."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import holt_state

    comp = _streaming_compiler(spark, sf_dir)
    stream = (
        comp.stream_source("events")
        .withWatermark("ts", "1 hour")
        .select(
            "event_type",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    out = holt_state(stream, alpha=0.5, beta=0.25)
    decided = run_stream_to_memory(out, spark, output_mode="append")
    return _decided_region(decided, (table(spark, sf_dir, "events"), "ts")).select(
        "key", "ts_us", "event_id", "x", "level", "trend", "forecast"
    )


@query(
    "streaming_ewma_value",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT event_type AS key, epoch_us(ts) AS ts_us, event_id,
             value AS x
      FROM events
    ),
    cut AS (SELECT max(ts_us) - 3600000000 - 1000000 AS c FROM ev),
    numbered AS (
      SELECT key, ts_us, event_id, x,
             row_number() OVER (
               PARTITION BY key ORDER BY ts_us, event_id
             ) AS rn
      FROM ev
    ),
    r AS (
      SELECT key, ts_us, event_id, x, rn, x AS ewma
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT q.key, q.ts_us, q.event_id, q.x, q.rn,
             0.25 * q.x + 0.75 * r.ewma
      FROM numbered q JOIN r ON q.key = r.key AND q.rn = r.rn + 1
    )
    SELECT key, ts_us, event_id, x, ewma
    FROM r CROSS JOIN cut WHERE r.ts_us < cut.c
    """,
)
def streaming_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing ON THE STREAM (streaming/stateful.ewma_state) —
    the live-monitoring twin of ``timeseries_ewma_daily_by_type``: per
    event type, every event's value is folded into ``0.25·x +
    0.75·prev`` in global event-time order, the anomaly baseline that
    updates as data arrives. The recurrence is order-sensitive, so
    events buffer in state until the watermark passes them (the
    funnel/rate-limiter buffered-reorder convention); per-key state is
    ONE carried scalar + the in-lag buffer — the O(1) footprint a
    KTable ``aggregate()`` keeps, and the state-size argument for why a
    recurrence streams where a window re-sort cannot. Bounded-source
    equivalence on the decided region: a fold is final once the final
    watermark passed it (1h lag + 1s margin), where the batch replay is
    the recursive-CTE definition — stream ≡ batch bit-for-bit (same
    float expression shape, exactly-representable α)."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.queries.registry import table
    from kafka_streams_common_spark.streaming.stateful import ewma_state

    comp = _streaming_compiler(spark, sf_dir)
    stream = (
        comp.stream_source("events")
        .withWatermark("ts", "1 hour")
        .select(
            "event_type",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    out = ewma_state(stream, alpha=0.25)
    decided = run_stream_to_memory(out, spark, output_mode="append")
    return _decided_region(decided, (table(spark, sf_dir, "events"), "ts")).select(
        "key", "ts_us", "event_id", "x", "ewma"
    )


@query(
    "streaming_multimodal_ingest",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             md5(text) AS hx,
             CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 16 + 1
                  AS INT) AS w,
             CAST(('0x' || substr(md5(reverse(text)), 1, 15))::BIGINT % 16 + 1
                  AS INT) AS h
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, h,
             list_avg([('0x' || substr(hx, 2*((i-1) % 16) + 1, 2))::INT
                       for i in range(1, w*h + 1)]) AS mean_px
      FROM m
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           round(mean_px, 6) AS mean_px
    FROM s
    WHERE w * h >= 32 AND mean_px BETWEEN 100.0 AND 160.0
    """,
)
def streaming_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal quality gating AT INGEST — the image twin of
    ``streaming_quality_gate_ingest``: documents arrive as a STREAM,
    are encoded to byte-exact PGM payloads, REAL-decoded inside the
    micro-batch (``decode_pgm_features`` — ``mapInPandas`` is
    streaming-safe for stateless projections), and gated on DECODED
    pixel statistics (enough pixels, mean luminance in band) before
    they would ever land in the corpus store. No state store, no
    watermark, append mode — per-microbatch cost is exactly the batch
    decode cost, and stream ≡ batch by construction (the oracle is the
    batch definition of the same gate). Proves the r11 decode path runs
    under Structured Streaming, not only in batch."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.multimodal import (
        decode_pgm_features,
        encode_pgm,
    )

    stream = _streaming_compiler(spark, sf_dir).stream_source("documents")
    feats = decode_pgm_features(encode_pgm(stream))
    gated = feats.filter(
        (F.col("n_px") >= 32) & F.col("mean_px").between(100.0, 160.0)
    ).select(
        "doc_id",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )
    return run_stream_to_memory(gated, spark, output_mode="append")


@query(
    "streaming_compressed_ingest",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             md5(text) AS hx,
             CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 16 + 1
                  AS INT) AS w,
             CAST(('0x' || substr(md5(reverse(text)), 1, 15))::BIGINT % 16 + 1
                  AS INT) AS h
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, h,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS format,
             list_avg([('0x' || substr(hx, 2*((i-1) % 16) + 1, 2))::INT
                       for i in range(1, w*h + 1)]) AS mean_px
      FROM m
    )
    SELECT doc_id,
           format,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           round(mean_px, 6) AS mean_px
    FROM s
    WHERE w * h >= 32 AND mean_px BETWEEN 100.0 AND 160.0
    """,
)
def streaming_compressed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-container decode AT INGEST — the r12-wave-2 twin of
    ``streaming_multimodal_ingest``: the stream is encoded per row into
    an all-compressed mixed lake (even → PNG real DEFLATE, odd → GIF87a
    real LZW; ``encode_compressed_image_mixed`` is ONE stateless
    ``mapInPandas`` pass, so no streaming self-union), then the shared
    magic-byte dispatch DECOMPRESSES each payload inside the
    micro-batch (inflate+unfilter / LZW+palette) and gates on decoded
    pixel statistics, emitting the recovered ``format``. Proves the
    compressed branches run under Structured Streaming with stream ≡
    batch semantics (the oracle is the batch definition of the same
    gate — the same md5 replay that gates ``multimodal_gif_decode``)."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.multimodal import (
        decode_image_features,
        encode_compressed_image_mixed,
    )

    stream = _streaming_compiler(spark, sf_dir).stream_source("documents")
    feats = decode_image_features(encode_compressed_image_mixed(stream))
    gated = feats.filter(
        (F.col("n_px") >= 32) & F.col("mean_px").between(100.0, 160.0)
    ).select(
        "doc_id",
        "format",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )
    return run_stream_to_memory(gated, spark, output_mode="append")


@query(
    "streaming_confluent_ingest",
    oracle="""
    SELECT event_id, event_type, value,
           'u' || CAST(user_id AS VARCHAR) AS source,
           CAST(2 AS INT) AS schema_id
    FROM events
    WHERE event_id % 3 <> 0
    """,
)
def streaming_confluent_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFLUENT wire-format decode AT INGEST (r14) — the serde tier
    under Structured Streaming, i.e. the actual shape of a
    schema-registry consumer: each micro-batch's events are framed in
    the registry wire format (every third by the old v1 producer, the
    rest by v2 with an unknown ``debug`` field), unframed + schema-
    RESOLVED inside the stream (both operators are stateless
    ``mapInPandas``, so they run unmodified under streaming), then the
    ingest gate routes on the RECOVERED schema id — legacy v1 messages
    are dropped at the door (the DLQ-style policy the reference's
    FAILFAST serde implies, SerdeFactory.java:199-209). The oracle is
    the batch definition of the same gate, so stream ≡ batch semantics
    are externally pinned."""
    from pyspark.sql import functions as F

    from kafka_streams_common_spark.operators.avro import (
        decode_events_confluent,
        encode_events_confluent,
    )

    stream = _streaming_compiler(spark, sf_dir).stream_source("events")
    decoded = decode_events_confluent(encode_events_confluent(stream))
    gated = decoded.filter(F.col("schema_id") == 2)
    return run_stream_to_memory(gated, spark, output_mode="append")
