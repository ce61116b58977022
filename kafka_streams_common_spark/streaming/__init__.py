"""Structured Streaming layer — the streaming execution of the same
declarative pipelines the batch compiler runs (SURVEY.md §7 Phase 3).

The batch DataFrame expressions ARE the streaming expressions; this package
adds the roots (readStream sources), the sinks (writeStream / foreachBatch),
the KTable-style latest-per-key materialization (a foreachBatch changelog
merge, and ``run_latest_per_key_state``: the same ``latest_per_key``
aggregation run in the engine's state store), and the custom stateful
operators Spark lacks as primitives (``stateful``: sessions, funnels,
quotas, temporal joins and smoothing folds on one event-time protocol).
"""

from kafka_streams_common_spark.streaming.runner import (
    StreamingCompiler,
    run_changelog_materialization,
    run_stream_to_memory,
)

__all__ = [
    "StreamingCompiler",
    "run_changelog_materialization",
    "run_stream_to_memory",
]
