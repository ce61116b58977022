"""The benchmark workloads, as lists of operations.

An operation builds a DataFrame through the package's public functions
(``build``), executes it the way a pass does (a ``noop`` sink, the
pipeline's own sink, or a stream drained to completion) and, in the checked
pass, returns its result for comparison with a DuckDB oracle over the same
generated inputs.

* ``config_pipelines`` — the paper's surface: JSON configs compiled by one
  shared ``BatchCompiler`` per pass into DataFrame plans, and by a
  ``StreamingCompiler`` into a Structured Streaming plan, plus the
  changelog materialization that writes parquet state every micro-batch.
  Planning, scans, shuffles, sink writes and per-micro-batch commits do the
  work; the Python boundary does none.
* ``llm_curation`` — kernel-heavy dedup and serde queries, where the
  Python/Arrow boundary dominates and compile time is negligible.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable

from gen import Sizes

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Ctx:
    """Per-pass state shared by the operations of one pass."""

    spark: object
    data: str  # generated inputs
    work: str  # sinks, stream state and checkpoints
    spans: object
    compiler: object = None  # BatchCompiler, fresh per pass
    stream_compiler: object = None  # StreamingCompiler, fresh per pass


@dataclass
class Op:
    name: str
    oracle: str
    build: Callable[[Ctx], object]
    kind: str = "batch"  # batch | sink | stream
    pipeline: object = None  # PipelineDef of config ops, for the sink writer
    run_stream: Callable | None = None  # stream ops: (ctx, sdf) -> result DataFrame


@dataclass
class Workload:
    name: str
    sizes: Sizes
    ops: list[Op]


def new_ctx(spark, data: str, work: str, spans) -> Ctx:
    from kafka_streams_common_spark.catalog import TableCatalog
    from kafka_streams_common_spark.compiler import BatchCompiler
    from kafka_streams_common_spark.streaming import StreamingCompiler

    catalog = TableCatalog.for_directory(data)
    return Ctx(
        spark, data, work, spans,
        compiler=BatchCompiler(spark, catalog),
        # one file per micro-batch: a multi-batch run, not one degenerate batch
        stream_compiler=StreamingCompiler(spark, catalog, max_files_per_trigger=1),
    )


# --- config_pipelines --------------------------------------------------------

def _config_op(name: str, path: str, oracle: str, streaming: bool = False) -> Op:
    from kafka_streams_common_spark.config import load_pipeline_json

    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    probe = load_pipeline_json(text)
    op = Op(name=name, oracle=oracle, build=None)
    if streaming:
        op.kind, op.run_stream = "stream", _to_memory("complete")
    elif probe.output is not None and probe.output.enabled:
        op.kind = "sink"

    def build(ctx: Ctx):
        with ctx.spans.span("config.load"):
            op.pipeline = load_pipeline_json(text)
        with ctx.spans.span("compiler.compile"):
            return (ctx.stream_compiler if streaming else ctx.compiler).compile(op.pipeline)

    op.build = build
    return op


def _to_memory(mode: str):
    def run(ctx: Ctx, sdf):
        from kafka_streams_common_spark.streaming import run_stream_to_memory

        return run_stream_to_memory(sdf, ctx.spark, output_mode=mode)

    return run


def _changelog_source(ctx: Ctx):
    with ctx.spans.span("compiler.compile"):
        return ctx.stream_compiler.stream_source("events")


def _changelog(ctx: Ctx, sdf):
    from kafka_streams_common_spark.streaming import run_changelog_materialization

    state_dir = os.path.join(ctx.work, "sinks", f"changelog-{uuid.uuid4().hex[:8]}")
    state = run_changelog_materialization(
        sdf, ctx.spark, state_dir, key_field="user_id", seq_field="ts", tiebreak_field="event_id"
    )
    return state.select("user_id", "event_id", "ts", "event_type", "value", "props")


def config_pipelines() -> Workload:
    from kafka_streams_common_spark.queries import ORACLES

    ops = []
    for path in sorted(glob.glob(os.path.join(HERE, "pipelines", "*.json"))):
        name = os.path.basename(path)[: -len(".json")]
        ops.append(_config_op(name, path, ORACLES[name], streaming=name.startswith("streaming_")))
    ops.append(Op("streaming_latest_per_key", ORACLES["streaming_latest_per_key"],
                  _changelog_source, "stream", run_stream=_changelog))
    return Workload(
        name="config_pipelines",
        # events arrive as three time-ordered part files of ten days each:
        # three micro-batches per stream
        sizes=Sizes(tables=("customer", "orders", "events"), stream_parts=3),
        ops=ops,
    )


# --- llm_curation ------------------------------------------------------------

# a Python UDF kernel (MinHash signatures) and a mapInPandas codec
_LLM_OPS = ["dedup_minhash_lsh", "kafka_thrift_decode"]


def _registered(name: str):
    from kafka_streams_common_spark.queries import QUERIES

    fn = QUERIES[name]

    def build(ctx: Ctx):
        with ctx.spans.span("compiler.compile"):
            return fn(ctx.spark, ctx.data)

    return build


def llm_curation() -> Workload:
    from kafka_streams_common_spark.queries import ORACLES

    return Workload(
        name="llm_curation",
        sizes=Sizes(tables=("documents", "events")),
        ops=[Op(n, ORACLES[n], _registered(n)) for n in _LLM_OPS],
    )


WORKLOADS = {
    "config_pipelines": config_pipelines,
    "llm_curation": llm_curation,
}

# Every operation name of every workload: each traced run reports
# ``queries.<op>.s`` for all of them (0 for operations it does not run).
OP_NAMES = sorted(
    [os.path.basename(p)[: -len(".json")] for p in glob.glob(os.path.join(HERE, "pipelines", "*.json"))]
    + ["streaming_latest_per_key"]
    + _LLM_OPS
)


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def sink_path(ctx: Ctx, op: Op) -> str:
    return os.path.join(ctx.work, "sinks", op.pipeline.output.name)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
