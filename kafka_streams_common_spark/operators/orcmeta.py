"""ORC tail walk with the repo's own protobuf wire reader (r14 wave
4) — the protobuf twin of ``parquetmeta.py``'s thrift synergy: an ORC
file's postscript and footer are protobuf messages (the public
orc.apache.org specification / orc_proto.proto), so
``operators/protowire.decode_message`` walks bytes written by Spark's
native ORC writer. The repeated-field forms (stripes, types, column
statistics, field names) are exactly the proto2 unpacked layout the
wire module gained for this.

Layout per the spec, parsed back-to-front:

- last byte: postscript length;
- postscript (NEVER compressed): footerLength, compression kind,
  compressionBlockSize, version, writerVersion, and the "ORC" magic as
  field 8000 — verified, as is the leading 3-byte file magic;
- footer region (compressed per the postscript kind): for ZLIB, a
  sequence of chunks each headed by a 3-byte little-endian word
  ``(length << 1) | isOriginal`` whose body is raw DEFLATE (or stored
  bytes when the original bit is set) — walked and inflated with a
  hard output cap; NONE passes through;
- footer message: headerLength/contentLength, repeated
  StripeInformation, the TYPE TREE (kind + subtypes + fieldNames on
  the root struct), numberOfRows, and per-column ColumnStatistics with
  nested Integer/String statistics (min/max/sum).

Scale posture: footers are read via ``binaryFile`` and parsed in a
map-only Arrow stage — the planner's read, file-parallel, row data
never touched.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.protowire import decode_message
from kafka_streams_common_spark.rowkernel import row_kernel

ORC_MAGIC = b"ORC"

_COMPRESSION_KINDS = {0: "none", 1: "zlib", 2: "snappy", 3: "lzo", 4: "lz4", 5: "zstd"}

# orc_proto.proto field numbers (public spec)
_POSTSCRIPT_SPEC = {
    1: ("footer_length", "uint"),
    2: ("compression", "uint"),
    3: ("compression_block_size", "uint"),
    4: ("version", "repeated_uint"),
    5: ("metadata_length", "uint"),
    6: ("writer_version", "uint"),
    8000: ("magic", "string"),
}
_STRIPE_SPEC = {
    1: ("offset", "uint"),
    2: ("index_length", "uint"),
    3: ("data_length", "uint"),
    4: ("footer_length", "uint"),
    5: ("number_of_rows", "uint"),
}
_TYPE_SPEC = {
    1: ("kind", "uint"),
    2: ("subtypes", "repeated_uint"),
    3: ("field_names", "repeated_string"),
}
_INT_STATS_SPEC = {
    1: ("minimum", "sint"),
    2: ("maximum", "sint"),
    3: ("sum", "sint"),
}
_STRING_STATS_SPEC = {
    1: ("minimum", "string"),
    2: ("maximum", "string"),
    3: ("sum", "sint"),
}
_COLUMN_STATS_SPEC = {
    1: ("number_of_values", "uint"),
    2: ("int_statistics", "message", _INT_STATS_SPEC),
    4: ("string_statistics", "message", _STRING_STATS_SPEC),
    10: ("has_null", "bool"),
}
_FOOTER_SPEC = {
    1: ("header_length", "uint"),
    2: ("content_length", "uint"),
    3: ("stripes", "repeated_message", _STRIPE_SPEC),
    4: ("types", "repeated_message", _TYPE_SPEC),
    6: ("number_of_rows", "uint"),
    7: ("statistics", "repeated_message", _COLUMN_STATS_SPEC),
    8: ("row_index_stride", "uint"),
}

# ORC type-kind enum (the subset the fixture tables use)
_KIND_STRUCT = 12

# footers are small; a region claiming to inflate past this is hostile
_FOOTER_CAP = 64 << 20


def _decompress_region(region: bytes, kind: str) -> bytes:
    """Undo ORC's chunked compression framing: 3-byte little-endian
    header ``(length << 1) | isOriginal`` per chunk, raw-DEFLATE chunk
    bodies for zlib, stored bytes when the original bit is set."""
    if kind == "none":
        return region
    if kind != "zlib":
        raise ValueError(f"unsupported ORC compression {kind!r} (none/zlib)")
    out = bytearray()
    pos = 0
    while pos < len(region):
        if pos + 3 > len(region):
            raise ValueError("truncated ORC compression chunk header")
        word = int.from_bytes(region[pos : pos + 3], "little")
        pos += 3
        is_original = word & 1
        ln = word >> 1
        if pos + ln > len(region):
            raise ValueError("ORC compression chunk overruns region")
        body = region[pos : pos + ln]
        pos += ln
        if is_original:
            out += body
        else:
            do = zlib.decompressobj(-15)
            chunk = do.decompress(body, _FOOTER_CAP + 1)
            out += chunk
        if len(out) > _FOOTER_CAP:
            raise ValueError("ORC footer exceeds the decompressed-size cap")
    return bytes(out)


def parse_orc_tail(buf: bytes) -> dict:
    """Magic checks front and back-of-postscript, postscript parse,
    footer decompression + parse. Returns
    ``{postscript, footer, compression}``."""
    if buf[:3] != ORC_MAGIC:
        raise ValueError(f"not an ORC file (head magic {buf[:3]!r})")
    if len(buf) < 4:
        raise ValueError("truncated ORC file")
    ps_len = buf[-1]
    if ps_len == 0 or 1 + ps_len > len(buf):
        raise ValueError(f"postscript length {ps_len} outside the file")
    ps = decode_message(_POSTSCRIPT_SPEC, buf[-1 - ps_len : -1])
    if ps.get("magic") != "ORC":
        raise ValueError(f"postscript magic {ps.get('magic')!r} != 'ORC'")
    kind = _COMPRESSION_KINDS.get(ps.get("compression", 0))
    if kind is None:
        raise ValueError(f"unknown ORC compression id {ps.get('compression')}")
    flen = ps["footer_length"]
    lo = len(buf) - 1 - ps_len - flen
    if lo < 3:
        raise ValueError("footer length reaches past the head magic")
    footer_raw = _decompress_region(buf[lo : len(buf) - 1 - ps_len], kind)
    footer = decode_message(_FOOTER_SPEC, footer_raw)
    for req in ("types", "number_of_rows", "stripes"):
        if req not in footer and not (req == "stripes" and footer.get("number_of_rows") == 0):
            raise ValueError(f"ORC footer missing {req!r}")
    return {"postscript": ps, "footer": footer, "compression": kind}


ORC_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("compression", T.StringType(), False),
        T.StructField("num_rows", T.LongType(), False),
        T.StructField("n_stripes", T.IntegerType(), False),
        T.StructField("stripe_rows", T.LongType(), False),
        T.StructField("field_names", T.StringType(), False),
        T.StructField("min_key", T.LongType(), True),
        T.StructField("max_key", T.LongType(), True),
        T.StructField("key_sum", T.LongType(), True),
        T.StructField("min_name", T.StringType(), True),
        T.StructField("max_name", T.StringType(), True),
    ]
)


def orc_footer_stats(files: DataFrame, key_column: str, str_column: str) -> DataFrame:
    """Map-only ORC tail walk over ``binaryFile`` rows: postscript +
    footer parse, root-struct field names recovered from the type
    tree, stripe row counts cross-checked against the footer total
    (raises on mismatch — the nested repeated-message walk must be
    right), and the key/string column statistics located by the root
    struct's subtype ordering."""

    def footer_stats(content):
        rec = parse_orc_tail(bytes(content))
        footer = rec["footer"]
        types = footer["types"]
        root = types[0]
        if root["kind"] != _KIND_STRUCT:
            raise ValueError("ORC root type is not a struct")
        names = root.get("field_names", [])
        subtypes = root.get("subtypes", [])
        if len(names) != len(subtypes):
            raise ValueError("root field/subtype arity mismatch")
        stripes = footer.get("stripes", [])
        stripe_rows = sum(s["number_of_rows"] for s in stripes)
        if stripe_rows != footer["number_of_rows"]:
            raise ValueError("stripe row counts != footer total")
        stats = footer.get("statistics", [])
        mn = mx = ks = smin = smax = None
        for name, sub in zip(names, subtypes):
            st = stats[sub] if sub < len(stats) else {}
            if name == key_column and "int_statistics" in st:
                ist = st["int_statistics"]
                mn, mx = ist.get("minimum"), ist.get("maximum")
                ks = ist.get("sum")
            elif name == str_column and "string_statistics" in st:
                sst = st["string_statistics"]
                smin, smax = sst.get("minimum"), sst.get("maximum")
        yield {
            "compression": rec["compression"],
            "num_rows": footer["number_of_rows"],
            "n_stripes": len(stripes),
            "stripe_rows": stripe_rows,
            "field_names": ",".join(names),
            "min_key": mn,
            "max_key": mx,
            "key_sum": ks,
            "min_name": smin,
            "max_name": smax,
        }

    return row_kernel(files.select("content"), footer_stats, ORC_FOOTER_SCHEMA)


def read_orc_files(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.orc").load(path)
    )
