from __future__ import annotations

import math
import os
import time

import duckdb
import pytest

from kafka_streams_common_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


def write_wave(spark, src: str, k: int, rows, schema: str) -> None:
    """Land ``rows`` (a DDL ``schema`` string) as ONE parquet file
    ``<src>/<k:02d>.parquet``: written beside ``src`` first, then moved
    in whole, its mtime set k seconds ahead so a file stream with
    ``maxFilesPerTrigger=1`` reads wave k as micro-batch k."""
    stage = f"{src}_stage{k}"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    dst = os.path.join(src, f"{k:02d}.parquet")
    os.rename(os.path.join(stage, part), dst)
    os.utime(dst, (time.time() + k, time.time() + k))


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(x) -> str:
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if math.isnan(x):
            return "NULL"
        return format(x, ".10g")
    if hasattr(x, "tolist"):  # numpy arrays (array columns) → plain lists
        x = x.tolist()
    return str(x)


def _dtype_kind(series) -> str:
    """Collapse pandas dtypes to the families the driver's hash distinguishes.

    The driver hashes raw pandas values, so an int64 ``5`` and a float64
    ``5.0`` hash DIFFERENTLY even though they stringify the same (this is
    exactly how DuckDB's HUGEINT-returning ``sum(BIGINT)`` slipped past the
    round-1 local gate: it lands in pandas as float64).  int/uint are one
    family (width differences hash identically as Python ints); float is a
    separate family; everything else compares by object identity anyway.
    """
    k = series.dtype.kind
    return "i" if k in "iu" else k


def canonical_rows(pdf) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: columns sorted by name, every cell
    stringified, rows sorted — the same shape the driver hashes."""
    cols = sorted(pdf.columns)
    # Replicate the driver's canonicalization, which runs pandas
    # ``sort_values`` over every column: it raises TypeError on unhashable
    # (list-typed) cells, so any query shape that would ERR in the driver's
    # gate fails here first.  The sorted frame itself is unused — tuple
    # sorting below is already order-insensitive.
    pdf[cols].sort_values(by=cols)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(_canon_cell(c) for c in row))
    out.sort()
    return out


def assert_matches_oracle(spark_df, oracle_con, sql: str):
    got_pdf = spark_df.toPandas()
    want_pdf = oracle_con.execute(sql).df()
    got_kinds = {c: _dtype_kind(got_pdf[c]) for c in sorted(got_pdf.columns)}
    want_kinds = {c: _dtype_kind(want_pdf[c]) for c in sorted(want_pdf.columns)}
    assert got_kinds == want_kinds, (
        f"dtype families differ (driver hashes int and float differently): "
        f"spark={got_kinds} oracle={want_kinds}"
    )
    got = canonical_rows(got_pdf)
    want = canonical_rows(want_pdf)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    assert got == want
