"""Parquet FOOTER walk with the repo's own Thrift compact-protocol
reader (r14 wave 4) — the format synergy that makes the serde tier
load-bearing against a REAL third-party byte stream: a parquet file's
footer is a Thrift compact ``FileMetaData`` struct (the public
parquet-format IDL), so ``operators/thriftcompact.decode_struct``
walks bytes written by Spark's OWN parquet writer, not by this repo's
encoder. Any disagreement between the two implementations — field-id
deltas, zigzag widths, nested list<struct> layouts — surfaces as a
hash mismatch against the table's SQL aggregates.

Covered structs (reader specs below, unknown fields skipped by type):
FileMetaData → SchemaElement / RowGroup → ColumnChunk →
ColumnMetaData → Statistics, deep enough to recover per-column
min/max statistics bytes and decode them by physical type.

Scale posture: footers are read via the ``binaryFile`` source and
parsed in a map-only Arrow stage — at warehouse scale this is the
"planner's read": thousands of footers scanned without touching row
data, exactly how query engines prune row groups.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.thriftcompact import decode_struct
from kafka_streams_common_spark.rowkernel import row_kernel

PARQUET_MAGIC = b"PAR1"

# parquet-format IDL, compact-protocol field ids (public spec)
_STATISTICS_SPEC = {
    "max": (1, "binary"),
    "min": (2, "binary"),
    "null_count": (3, "i64"),
    "distinct_count": (4, "i64"),
    "max_value": (5, "binary"),
    "min_value": (6, "binary"),
}
_COLUMN_META_SPEC = {
    "type": (1, "i32"),
    "encodings": (2, "list_i32"),
    "path_in_schema": (3, "list_string"),
    "codec": (4, "i32"),
    "num_values": (5, "i64"),
    "total_uncompressed_size": (6, "i64"),
    "total_compressed_size": (7, "i64"),
    "data_page_offset": (9, "i64"),
    "statistics": (12, "struct", _STATISTICS_SPEC),
}
_COLUMN_CHUNK_SPEC = {
    "file_path": (1, "string"),
    "file_offset": (2, "i64"),
    "meta_data": (3, "struct", _COLUMN_META_SPEC),
}
_ROW_GROUP_SPEC = {
    "columns": (1, "list_struct", _COLUMN_CHUNK_SPEC),
    "total_byte_size": (2, "i64"),
    "num_rows": (3, "i64"),
}
_SCHEMA_ELEMENT_SPEC = {
    "type": (1, "i32"),
    "type_length": (2, "i32"),
    "repetition_type": (3, "i32"),
    "name": (4, "string"),
    "num_children": (5, "i32"),
    "converted_type": (6, "i32"),
}
FILE_META_SPEC = {
    "version": (1, "i32"),
    "schema": (2, "list_struct", _SCHEMA_ELEMENT_SPEC),
    "num_rows": (3, "i64"),
    "row_groups": (4, "list_struct", _ROW_GROUP_SPEC),
    "created_by": (6, "string"),
}

# physical-type enum (parquet.thrift Type)
_T_BOOLEAN, _T_INT32, _T_INT64 = 0, 1, 2
_T_FLOAT, _T_DOUBLE, _T_BYTE_ARRAY = 4, 5, 6


def decode_stat_value(raw: bytes | None, ptype: int):
    """Plain-encoded statistics value by physical type (the subset the
    fixture tables use)."""
    if raw is None:
        return None
    if ptype == _T_INT32:
        return struct.unpack("<i", raw)[0]
    if ptype == _T_INT64:
        return struct.unpack("<q", raw)[0]
    if ptype == _T_DOUBLE:
        return struct.unpack("<d", raw)[0]
    if ptype == _T_BYTE_ARRAY:
        return raw.decode("utf-8", "replace")
    raise ValueError(f"unsupported statistics physical type {ptype}")


def parse_parquet_footer(buf: bytes) -> dict:
    """Verify both PAR1 magics and the little-endian footer length,
    then decode the FileMetaData struct — it must consume the footer
    region exactly."""
    if buf[:4] != PARQUET_MAGIC:
        raise ValueError(f"not a parquet file (head magic {buf[:4]!r})")
    if buf[-4:] != PARQUET_MAGIC:
        raise ValueError(f"not a parquet file (tail magic {buf[-4:]!r})")
    flen = int.from_bytes(buf[-8:-4], "little")
    if flen <= 0 or flen > len(buf) - 12:
        raise ValueError(f"footer length {flen} outside the file body")
    footer = buf[len(buf) - 8 - flen : len(buf) - 8]
    meta, end = decode_struct(FILE_META_SPEC, footer)
    if end != len(footer):
        raise ValueError(f"{len(footer) - end} trailing bytes after FileMetaData")
    for req in ("version", "schema", "num_rows", "row_groups"):
        if req not in meta:
            raise ValueError(f"FileMetaData missing required field {req!r}")
    return meta


PARQUET_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("n_columns", T.IntegerType(), False),
        T.StructField("n_row_groups", T.IntegerType(), False),
        T.StructField("column_names", T.StringType(), False),
        T.StructField("min_key", T.LongType(), True),
        T.StructField("max_key", T.LongType(), True),
        T.StructField("key_num_values", T.LongType(), False),
        T.StructField("rowgroup_rows_match", T.BooleanType(), False),
        T.StructField("min_name", T.StringType(), True),
        T.StructField("max_name", T.StringType(), True),
    ]
)


def parquet_footer_stats(
    files: DataFrame, key_column: str, str_column: str | None = None
) -> DataFrame:
    """Map-only footer walk over ``binaryFile`` rows: parse each
    footer with the from-scratch thrift reader, recover the schema
    leaf names (root element skipped via its num_children), the row
    and row-group counts, and ``key_column``'s min/max from the
    column-chunk STATISTICS bytes (decoded by the physical type the
    footer itself declares). ``rowgroup_rows_match`` cross-checks the
    per-row-group row counts against the file total — an internal
    consistency bit the reader can only get right by walking the
    nested list<struct> chain correctly."""

    def footer_stats(content):
        meta = parse_parquet_footer(bytes(content))
        schema = meta["schema"]
        root, leaves = schema[0], schema[1:]
        if root.get("num_children") != len(leaves):
            raise ValueError("schema root num_children != leaf count")
        mins, maxs, numv = [], [], 0
        smins, smaxs = [], []
        for rg in meta["row_groups"]:
            for col in rg["columns"]:
                cm = col["meta_data"]
                st = cm.get("statistics", {})
                if cm["path_in_schema"] == [key_column]:
                    mins.append(decode_stat_value(st.get("min_value"), cm["type"]))
                    maxs.append(decode_stat_value(st.get("max_value"), cm["type"]))
                    numv += cm["num_values"]
                elif str_column and cm["path_in_schema"] == [str_column]:
                    smins.append(decode_stat_value(st.get("min_value"), cm["type"]))
                    smaxs.append(decode_stat_value(st.get("max_value"), cm["type"]))
        rg_rows = sum(rg["num_rows"] for rg in meta["row_groups"])
        mins = [m for m in mins if m is not None]
        maxs = [m for m in maxs if m is not None]
        smins = [m for m in smins if m is not None]
        smaxs = [m for m in smaxs if m is not None]
        yield {
            "num_rows": meta["num_rows"],
            "n_columns": len(leaves),
            "n_row_groups": len(meta["row_groups"]),
            "column_names": ",".join(e["name"] for e in leaves),
            "min_key": min(mins) if mins else None,
            "max_key": max(maxs) if maxs else None,
            "key_num_values": numv,
            "rowgroup_rows_match": rg_rows == meta["num_rows"],
            "min_name": min(smins) if smins else None,
            "max_name": max(smaxs) if smaxs else None,
        }

    return row_kernel(files.select("content"), footer_stats, PARQUET_FOOTER_SCHEMA)


def read_parquet_files(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
    )
