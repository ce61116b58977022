"""Contract of ``row_kernel``, the package's one per-row Python kernel
primitive: a row function yields zero or more output rows (tuples in
schema order or dicts keyed by field name) per input row, over exactly
one ``MapInPandas`` stage, batch or streaming."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel
from kafka_streams_common_spark.streaming import run_stream_to_memory

IN_SCHEMA = "k long, s string"
OUT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)
ROWS = [(0, "a"), (1, "b"), (3, "c")]


def _row_fns():
    """Row functions, built inside a function so cloudpickle ships them
    by value (the workers cannot import this test module)."""

    def upper(k, s):
        yield k, s.upper()

    def as_dict(k, s):
        yield {"v": s, "k": k}

    def repeat_k_times(k, s):
        for i in range(k):
            yield k * 10 + i, s

    def keep_odd(k, s):
        if k % 2:
            yield k, None

    def boom(k, s):
        if k == 1:
            raise ValueError("row_kernel boom on k=1")
        yield k, s

    return locals()


CASES = {
    "one_to_one_tuples": ("upper", ROWS, 1, [(0, "A"), (1, "B"), (3, "C")]),
    "dict_rows": ("as_dict", ROWS, 1, [(0, "a"), (1, "b"), (3, "c")]),
    "zero_and_n_rows": (
        "repeat_k_times",
        ROWS,
        1,
        [(10, "b"), (30, "c"), (31, "c"), (32, "c")],
    ),
    "filter_with_nulls": ("keep_odd", ROWS, 1, [(1, None), (3, None)]),
    "empty_partitions": ("upper", ROWS, 8, [(0, "A"), (1, "B"), (3, "C")]),
    "empty_input": ("upper", [], 2, []),
}


@pytest.mark.parametrize("case", list(CASES) + ["streaming"])
def test_row_kernel_contract(spark, tmp_path, case):
    if case == "streaming":
        spark.createDataFrame(ROWS, IN_SCHEMA).repartition(3).write.parquet(
            str(tmp_path / "in")
        )
        stream = (
            spark.readStream.schema(IN_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "in"))
        )
        kernel = row_kernel(stream, _row_fns()["upper"], OUT_SCHEMA)
        out = run_stream_to_memory(kernel, spark)
        want = [(0, "A"), (1, "B"), (3, "C")]
    else:
        fn, rows, parts, want = CASES[case]
        df = spark.createDataFrame(rows, IN_SCHEMA).repartition(parts)
        out = row_kernel(df, _row_fns()[fn], OUT_SCHEMA)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
    assert out.schema == OUT_SCHEMA
    assert sorted(tuple(r) for r in out.collect()) == want


def test_row_kernel_exception_fails_the_job(spark):
    df = spark.createDataFrame(ROWS, IN_SCHEMA)
    with pytest.raises(Exception, match="row_kernel boom on k=1"):
        row_kernel(df, _row_fns()["boom"], OUT_SCHEMA).collect()


def test_map_in_pandas_is_only_called_by_row_kernel():
    """Every per-row Python kernel goes through ``row_kernel``; a
    hand-written ``mapInPandas`` batch loop must not reappear."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "kafka_streams_common_spark"
    sites = {
        str(p.relative_to(pkg)): p.read_text().count(".mapInPandas(")
        for p in pkg.rglob("*.py")
    }
    assert {p: n for p, n in sites.items() if n} == {"rowkernel.py": 1}
