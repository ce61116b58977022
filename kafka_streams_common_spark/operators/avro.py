"""From-scratch Apache Avro binary codec, object-container-file (OCF)
reader/writer, and the Confluent schema-registry single-message wire
format — the serdes a Kafka deployment actually ships on its topics.

The reference engine's serde surface (``SerdeFactory.java``) is
JSON-only; real kafka-streams fleets overwhelmingly carry Avro framed
with the schema-registry wire format, so this module is the natural
extension of S1/P4: the same decode-at-ingest shape, but on the binary
encoding from the PUBLIC Avro 1.11 specification
(avro.apache.org/docs/1.11.1/specification) and the PUBLIC Confluent
wire format (one magic byte ``0x00`` + 4-byte big-endian schema id +
Avro binary body). No avro/fastavro package exists in this container —
everything below is an original implementation of the spec, with the
spec's own worked examples pinned as byte-golden vectors in
tests/test_serde.py.

Implemented surface (documented subset):
- primitives: null, boolean, int, long (zigzag varint), float, double
  (little-endian IEEE), bytes, string (length-prefixed utf-8);
- records (fields in schema order) and 2-branch unions
  (``["null", T]`` nullables and general branch-index unions);
- OCF: magic ``Obj\\x01``, file-metadata map (``avro.schema`` +
  ``avro.codec``), 16-byte sync marker, data blocks of
  (record-count, byte-size, payload, sync) with the ``null`` and
  ``deflate`` (raw RFC 1951) codecs, sync VERIFIED per block and
  negative map-block counts handled per spec;
- schema resolution (reader vs writer): fields matched by name,
  writer-only fields decoded and DISCARDED, reader-only fields filled
  from their declared ``default`` — the schema-evolution read path a
  registry-backed consumer runs on every message.

Scale posture: container encode groups rows by container id (one
shuffle — the same partition-forming exchange a topic writer performs);
every decode path is a map-only Arrow ``mapInPandas`` stage over
``(id, payload)`` rows, so ingest parallelism is one kernel per input
split at any corpus size.
"""

from __future__ import annotations

import hashlib
import json
import struct
import zlib
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.protowire import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag64,
)
from kafka_streams_common_spark.rowkernel import row_kernel

OCF_MAGIC = b"Obj\x01"
CONFLUENT_MAGIC = 0x00

# ---------------------------------------------------------------------------
# primitive binary encoding (Avro spec "Binary encoding" section)
# ---------------------------------------------------------------------------


def write_long(n: int) -> bytes:
    """Avro long: zigzag then little-endian base-128 varint."""
    return write_uvarint(zigzag64(int(n)))


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = read_uvarint(buf, pos)
    return unzigzag(u), pos


def _write_value(typ: Any, v: Any) -> bytes:
    """Encode one value per the writer schema node ``typ`` (a parsed
    schema fragment: a type-name string, a union list, or a record
    dict)."""
    if isinstance(typ, list):  # union: branch index then value
        branch = _union_branch(typ, v)
        return write_long(branch) + _write_value(typ[branch], v)
    if isinstance(typ, dict):
        if typ.get("type") == "record":
            out = bytearray()
            for f in typ["fields"]:
                out += _write_value(f["type"], v[f["name"]])
            return bytes(out)
        if typ.get("type") == "array":
            # one positive block + the 0 terminator (readers must also
            # accept chained and negative-count blocks — see
            # encode_array_blocks for the wire-variant writer)
            out = bytearray()
            if v:
                out += write_long(len(v))
                for item in v:
                    out += _write_value(typ["items"], item)
            out += write_long(0)
            return bytes(out)
        if typ.get("type") == "map":
            out = bytearray()
            if v:
                out += write_long(len(v))
                for k, mv in v.items():
                    out += _write_value("string", k)
                    out += _write_value(typ["values"], mv)
            out += write_long(0)
            return bytes(out)
        raise ValueError(f"unsupported complex type {typ.get('type')!r}")
    if typ == "null":
        if v is not None:
            raise ValueError("null schema with non-null value")
        return b""
    if typ == "boolean":
        return b"\x01" if v else b"\x00"
    if typ in ("int", "long"):
        return write_long(int(v))
    if typ == "float":
        return struct.pack("<f", float(v))
    if typ == "double":
        return struct.pack("<d", float(v))
    if typ == "bytes":
        b = bytes(v)
        return write_long(len(b)) + b
    if typ == "string":
        b = str(v).encode("utf-8")
        return write_long(len(b)) + b
    raise ValueError(f"unsupported avro type {typ!r}")


def _union_branch(union: list, v: Any) -> int:
    if v is None:
        for i, t in enumerate(union):
            if t == "null":
                return i
        raise ValueError("None for union without null branch")
    for i, t in enumerate(union):
        if t != "null":
            return i
    raise ValueError("union has no non-null branch")


def _read_value(typ: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    if isinstance(typ, list):
        branch, pos = read_long(buf, pos)
        if not 0 <= branch < len(typ):
            raise ValueError(f"union branch {branch} out of range")
        return _read_value(typ[branch], buf, pos)
    if isinstance(typ, dict):
        if typ.get("type") == "record":
            rec = {}
            for f in typ["fields"]:
                rec[f["name"]], pos = _read_value(f["type"], buf, pos)
            return rec, pos
        if typ.get("type") == "array":
            items: list = []
            while True:
                count, pos = read_long(buf, pos)
                if count == 0:
                    return items, pos
                if count < 0:  # negative block: byte size follows, per spec
                    count = -count
                    _, pos = read_long(buf, pos)
                for _ in range(count):
                    item, pos = _read_value(typ["items"], buf, pos)
                    items.append(item)
        if typ.get("type") == "map":
            entries: dict = {}
            while True:
                count, pos = read_long(buf, pos)
                if count == 0:
                    return entries, pos
                if count < 0:
                    count = -count
                    _, pos = read_long(buf, pos)
                for _ in range(count):
                    k, pos = _read_value("string", buf, pos)
                    entries[k], pos = _read_value(typ["values"], buf, pos)
        raise ValueError(f"unsupported complex type {typ.get('type')!r}")
    if typ == "null":
        return None, pos
    if typ == "boolean":
        if buf[pos] not in (0, 1):
            raise ValueError(f"bad boolean byte 0x{buf[pos]:02x}")
        return buf[pos] == 1, pos + 1
    if typ in ("int", "long"):
        return read_long(buf, pos)
    if typ == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ == "bytes":
        n, pos = read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("bytes length out of range")
        return bytes(buf[pos : pos + n]), pos + n
    if typ == "string":
        n, pos = read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("string length out of range")
        return buf[pos : pos + n].decode("utf-8"), pos + n
    raise ValueError(f"unsupported avro type {typ!r}")


def encode_record(schema: dict, values: dict) -> bytes:
    """Serialize one record against a parsed writer schema."""
    return _write_value(schema, values)


def decode_record(schema: dict, buf: bytes, pos: int = 0) -> tuple[dict, int]:
    return _read_value(schema, buf, pos)


# ---------------------------------------------------------------------------
# schema resolution (Avro spec "Schema Resolution")
# ---------------------------------------------------------------------------


def resolve_read(writer: dict, reader: dict, buf: bytes, pos: int = 0) -> tuple[dict, int]:
    """Decode a record written with ``writer`` into the shape of
    ``reader``: fields matched BY NAME in writer order; writer-only
    fields are decoded and discarded (the skip path); reader-only
    fields take their declared ``default`` (an error if absent) — the
    registry-consumer evolution contract. Field types matched by name
    must be identical in this subset (promotions are out of scope and
    rejected)."""
    reader_by_name = {f["name"]: f for f in reader["fields"]}
    rec: dict[str, Any] = {}
    for wf in writer["fields"]:
        v, pos = _read_value(wf["type"], buf, pos)
        rf = reader_by_name.get(wf["name"])
        if rf is not None:
            if rf["type"] != wf["type"]:
                raise ValueError(
                    f"field {wf['name']!r}: writer type {wf['type']!r} != "
                    f"reader type {rf['type']!r} (promotions unsupported)"
                )
            rec[wf["name"]] = v
    for rf in reader["fields"]:
        if rf["name"] not in rec:
            if "default" not in rf:
                raise ValueError(
                    f"reader field {rf['name']!r} missing from writer and has no default"
                )
            rec[rf["name"]] = rf["default"]
    return rec, pos


# ---------------------------------------------------------------------------
# object container file (Avro spec "Object Container Files")
# ---------------------------------------------------------------------------


def _write_meta_map(meta: dict[str, bytes]) -> bytes:
    out = bytearray(write_long(len(meta)))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        out += write_long(len(kb)) + kb + write_long(len(v)) + v
    out += write_long(0)
    return bytes(out)


def _read_meta_map(buf: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long(buf, pos)
        if count == 0:
            return meta, pos
        if count < 0:  # negative count: followed by the block's byte size
            count = -count
            _, pos = read_long(buf, pos)
        for _ in range(count):
            # validate lengths like the record-level readers do: a
            # NEGATIVE length would slice empty and move pos BACKWARD —
            # an infinite parse loop on hostile bytes (caught by the
            # hypothesis fuzz battery in r16; the quarantine-not-wedge
            # contract requires a clean raise, never a spin)
            n, pos = read_long(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("corrupt OCF metadata key length")
            k = buf[pos : pos + n].decode("utf-8")
            pos += n
            n, pos = read_long(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("corrupt OCF metadata value length")
            meta[k] = bytes(buf[pos : pos + n])
            pos += n


def write_ocf(
    schema_json: str,
    records: list[dict],
    codec: str = "null",
    block_records: int = 100,
    sync: bytes | None = None,
) -> bytes:
    """Build one OCF: header (magic, metadata map with ``avro.schema``
    + ``avro.codec``, 16-byte sync), then data blocks of
    ``block_records`` records each — (count, size, payload, sync) —
    with the payload raw-DEFLATEd under the ``deflate`` codec. The
    sync marker defaults to md5(schema_json) so containers are
    deterministic."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    schema = json.loads(schema_json)
    if sync is None:
        sync = hashlib.md5(schema_json.encode()).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = bytearray(OCF_MAGIC)
    out += _write_meta_map(
        {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    )
    out += sync
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        payload = b"".join(encode_record(schema, r) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        out += write_long(len(chunk)) + write_long(len(payload)) + payload + sync
    return bytes(out)


def read_ocf(buf: bytes) -> tuple[dict, str, list[dict]]:
    """Parse one OCF: magic + metadata verified, every block's sync
    marker VERIFIED against the header's, deflate blocks inflated, and
    each block's declared record count checked against what its bytes
    actually decode to. Returns (schema, codec, records)."""
    if buf[:4] != OCF_MAGIC:
        raise ValueError(f"not an avro OCF: {buf[:4]!r}")
    meta, pos = _read_meta_map(buf, 4)
    if "avro.schema" not in meta:
        raise ValueError("OCF metadata missing avro.schema")
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = buf[pos : pos + 16]
    pos += 16
    records: list[dict] = []
    while pos < len(buf):
        count, pos = read_long(buf, pos)
        size, pos = read_long(buf, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(buf):
            raise ValueError("corrupt OCF block header")
        payload = buf[pos : pos + size]
        pos += size
        if buf[pos : pos + 16] != sync:
            raise ValueError("OCF block sync marker mismatch")
        pos += 16
        if codec == "deflate":
            do = zlib.decompressobj(-15)
            payload = do.decompress(payload) + do.flush()
        p = 0
        for _ in range(count):
            prev = p
            rec, p = decode_record(schema, payload, p)
            if p == prev:
                # zero-byte records (fieldless schemas) + an attacker-
                # controlled count would spin forever; a block claiming
                # more records than it has bytes is corrupt either way
                raise ValueError(
                    "OCF block record consumed no bytes (degenerate schema "
                    "with runaway count)"
                )
            records.append(rec)
        if p != len(payload):
            raise ValueError(
                f"OCF block declared {count} records but {len(payload) - p} bytes remain"
            )
    return schema, codec, records


# ---------------------------------------------------------------------------
# Confluent schema-registry wire format
# ---------------------------------------------------------------------------


def confluent_frame(schema_id: int, body: bytes) -> bytes:
    """``0x00`` magic + 4-byte BIG-endian schema id + Avro binary body
    (the public Confluent wire format)."""
    return bytes([CONFLUENT_MAGIC]) + struct.pack(">I", schema_id) + body


def confluent_parse(
    msg: bytes, schemas_by_id: dict[int, dict], reader_schema: dict
) -> tuple[int, dict]:
    """Unframe one registry message and decode it against the READER
    schema via full schema resolution — the consumer path: magic byte
    checked, schema id looked up (unknown ids rejected, the DLQ
    trigger), writer-only fields skipped, reader defaults filled.
    Trailing bytes after the record are rejected."""
    if not msg or msg[0] != CONFLUENT_MAGIC:
        raise ValueError("bad confluent magic byte")
    schema_id = struct.unpack_from(">I", msg, 1)[0]
    writer = schemas_by_id.get(schema_id)
    if writer is None:
        raise ValueError(f"unknown schema id {schema_id}")
    rec, pos = resolve_read(writer, reader_schema, msg, 5)
    if pos != len(msg):
        raise ValueError(f"{len(msg) - pos} trailing bytes after record")
    return schema_id, rec


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

ORDER_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_custkey", "type": "long"},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "priority", "type": ["null", "string"]},
        ],
    },
    separators=(",", ":"),
)

_OCF_OUT = T.StructType(
    [
        T.StructField("container_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_orders_ocf(orders: DataFrame, n_containers: int = 64) -> DataFrame:
    """Write ``orders`` into genuine Avro OCF containers, one per
    ``o_orderkey % n_containers`` — EVEN containers use the ``deflate``
    codec, odd ones ``null``, so both codec paths ship; ``priority``
    is a ``["null","string"]`` union, null when ``o_orderkey % 7 = 0``,
    so the union branch index is exercised both ways. Rows are sorted
    by key inside each container and blocks hold 50 records, so real
    multi-block walks happen at sf0.01+. One groupBy exchange — the
    same partition-forming shuffle a topic writer performs — then a
    pure Arrow kernel per group. The exchange width is pinned to
    ``min(n_containers, defaultParallelism)`` (r16) so AQE's
    small-shuffle coalescing cannot serialize the per-container
    deflate kernel onto one core on a tiny local lake."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey")
        cid = int(pdf["container_id"].iloc[0])
        codec = "deflate" if cid % 2 == 0 else "null"
        recs = [
            {
                "o_orderkey": int(k),
                "o_custkey": int(c),
                "o_totalprice": float(p),
                "o_orderstatus": str(s),
                "priority": None if int(k) % 7 == 0 else str(pr),
            }
            for k, c, p, s, pr in zip(
                pdf["o_orderkey"],
                pdf["o_custkey"],
                pdf["o_totalprice"],
                pdf["o_orderstatus"],
                pdf["o_orderpriority"],
            )
        ]
        sync = hashlib.md5(f"{ORDER_SCHEMA_JSON}:{cid}".encode()).digest()
        payload = write_ocf(
            ORDER_SCHEMA_JSON, recs, codec=codec, block_records=50, sync=sync
        )
        return pd.DataFrame(
            {
                "container_id": [cid],
                "codec": [codec],
                "n_records": [len(recs)],
                "payload": [payload],
            }
        )

    keyed = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderpriority",
        (F.col("o_orderkey") % n_containers).cast("long").alias("container_id"),
    )
    n_parts = min(int(n_containers), keyed.sparkSession.sparkContext.defaultParallelism)
    return (
        keyed.repartition(n_parts, "container_id")
        .groupBy("container_id")
        .applyInPandas(build, _OCF_OUT)
    )


_OCF_ROWS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_custkey", T.LongType(), False),
        T.StructField("o_totalprice", T.DoubleType(), False),
        T.StructField("o_orderstatus", T.StringType(), False),
        T.StructField("priority", T.StringType(), True),
        T.StructField("container_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
    ]
)


def decode_orders_ocf(containers: DataFrame) -> DataFrame:
    """Map-only OCF ingest: per container, verify magic + metadata +
    every block sync, inflate deflate blocks, decode records (union
    branches included) and emit one row per record with the container
    id and the codec the file itself declares — both oracle-gated, so
    a wrong codec route or a swallowed block breaks the hash."""

    def decode(cid, payload):
        _, codec, recs = read_ocf(bytes(payload))
        for r in recs:
            yield {
                "o_orderkey": r["o_orderkey"],
                "o_custkey": r["o_custkey"],
                "o_totalprice": r["o_totalprice"],
                "o_orderstatus": r["o_orderstatus"],
                "priority": r["priority"],
                "container_id": int(cid),
                "codec": codec,
            }

    return row_kernel(containers.select("container_id", "payload"), decode, _OCF_ROWS)


EVENT_SCHEMA_V1 = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}

# v2 adds `source` AND a `debug` field the reader does not know about.
EVENT_SCHEMA_V2 = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "source", "type": "string"},
        {"name": "debug", "type": "string"},
    ],
}

# The consumer's reader schema: needs `source` (default fills v1
# messages), has never heard of `debug` (skipped on v2 messages).
EVENT_SCHEMA_READER = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "source", "type": "string", "default": "unknown"},
    ],
}

EVENT_SCHEMAS_BY_ID = {1: EVENT_SCHEMA_V1, 2: EVENT_SCHEMA_V2}

_CONFLUENT_MSG = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_events_confluent(events: DataFrame) -> DataFrame:
    """Frame each event in the Confluent wire format: ``event_id % 3
    = 0`` rows are written by the OLD producer (schema id 1 — no
    ``source``), the rest by the NEW one (schema id 2 — ``source`` =
    ``u<user_id>`` plus a ``debug`` field the consumer has never seen).
    Map-only Arrow stage — the per-message topic-produce shape. The
    input rides ``fan_out`` (r16) so a single-split local lake spreads
    the kernel across the session's cores; a many-split production table
    takes the no-op branch and no exchange is inserted."""

    def encode(eid, et, val, uid):
        eid = int(eid)
        if eid % 3 == 0:
            body = encode_record(
                EVENT_SCHEMA_V1,
                {"event_id": eid, "event_type": str(et), "value": float(val)},
            )
            yield eid, confluent_frame(1, body)
        else:
            body = encode_record(
                EVENT_SCHEMA_V2,
                {
                    "event_id": eid,
                    "event_type": str(et),
                    "value": float(val),
                    "source": f"u{int(uid)}",
                    "debug": f"host-{eid % 17}",
                },
            )
            yield eid, confluent_frame(2, body)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "event_type", "value", "user_id")),
        encode,
        _CONFLUENT_MSG,
    )


_CONFLUENT_ROWS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("schema_id", T.IntegerType(), False),
    ]
)


def decode_events_confluent(msgs: DataFrame) -> DataFrame:
    """The registry-consumer read path, map-only: unframe (magic +
    schema-id lookup), then schema-RESOLVE each body against the
    reader schema — v1 messages get ``source`` from the reader
    default, v2 messages have their unknown ``debug`` field decoded
    and discarded. Emits the resolved record + the writer's schema id
    (oracle-gated, so the id split itself is checked)."""

    def decode(payload):
        sid, rec = confluent_parse(
            bytes(payload), EVENT_SCHEMAS_BY_ID, EVENT_SCHEMA_READER
        )
        yield {
            "event_id": rec["event_id"],
            "event_type": rec["event_type"],
            "value": rec["value"],
            "source": rec["source"],
            "schema_id": sid,
        }

    return row_kernel(msgs.select("payload"), decode, _CONFLUENT_ROWS)


def read_ocf_files(spark, path: str) -> DataFrame:
    """Production-scale OCF ingest: one container per FILE via the
    ``binaryFile`` source (container id from the ``orders-<id>.avro``
    filename), decoded by the SAME kernel as the fixture path — the
    file-parallel, shuffle-free plan a 100 TB Avro lake wants."""
    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"orders-(\d+)\.avro$", 1)
            .cast("long")
            .alias("container_id"),
            F.col("content").alias("payload"),
        )
    )
    return decode_orders_ocf(files)


# ---------------------------------------------------------------------------
# arrays / maps on the wire (r14 wave 3b): block-chained and
# negative-count forms — writers rarely emit them, readers MUST accept
# them (Avro spec "Complex Types": a block count may be negative, in
# which case the block's byte size follows, and collections may span
# any number of blocks before the 0 terminator).
# ---------------------------------------------------------------------------


def encode_array_blocks(item_type: Any, items: list, negative: bool) -> bytes:
    """One array value as a SINGLE block, either positive-count or the
    negative-count-plus-byte-size form."""
    body = b"".join(_write_value(item_type, x) for x in items)
    out = bytearray()
    if items:
        if negative:
            out += write_long(-len(items)) + write_long(len(body))
        else:
            out += write_long(len(items))
        out += body
    out += write_long(0)
    return bytes(out)


def encode_map_blocks(
    value_type: Any, entries: list[tuple[str, Any]], split: int
) -> bytes:
    """One map value CHAINED across two blocks when ``split`` lands
    inside the entry list (entries[:split] then entries[split:]) — the
    multi-block walk a spec-complete reader must do."""
    out = bytearray()
    for chunk in (entries[:split], entries[split:]):
        if not chunk:
            continue
        out += write_long(len(chunk))
        for k, v in chunk:
            out += _write_value("string", k) + _write_value(value_type, v)
    out += write_long(0)
    return bytes(out)


EVENT_PROPS_SCHEMA = {
    "type": "record",
    "name": "EventProps",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "tags", "type": {"type": "array", "items": "long"}},
    ],
}

_PROPS_MSG = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_events_avro_props(events: DataFrame) -> DataFrame:
    """Each event as one Confluent-framed Avro record carrying a MAP
    and an ARRAY, written in the wire forms a spec-complete reader
    must survive: the props map ({k, u} + {t} when ``event_id % 3 !=
    0``) is CHAINED across two blocks whenever it has three entries;
    the tags array (first three md5 bytes of ``<event_type>-<id>``)
    uses the NEGATIVE-count-plus-byte-size block on even ids and the
    positive form on odd ids. Map-only Arrow stage. The input rides
    ``fan_out`` (r16) so a single-split local lake spreads the kernel
    across the session's cores; a many-split production table takes the
    no-op branch and no exchange is inserted."""
    import hashlib
    import json as _json

    def encode(eid, props_json, et, uid):
        eid, uid = int(eid), int(uid)
        k = int(_json.loads(props_json)["k"])
        entries = [("k", k), ("u", uid)]
        if eid % 3 != 0:
            entries.append(("t", eid % 7))
        digest = hashlib.md5(f"{et}-{eid}".encode()).hexdigest()
        tags = [int(digest[2 * i : 2 * i + 2], 16) for i in range(3)]
        body = (
            write_long(eid)
            + encode_map_blocks("long", entries, split=2)
            + encode_array_blocks("long", tags, negative=eid % 2 == 0)
        )
        yield eid, confluent_frame(3, body)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "props", "event_type", "user_id")),
        encode,
        _PROPS_MSG,
    )


_PROPS_ROWS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("k", T.LongType(), False),
        T.StructField("u", T.LongType(), False),
        T.StructField("t", T.LongType(), True),
        T.StructField("n_props", T.IntegerType(), False),
        T.StructField("tags_sum", T.LongType(), False),
        T.StructField("n_tags", T.IntegerType(), False),
    ]
)


def decode_events_avro_props(msgs: DataFrame) -> DataFrame:
    """Map-only decode through the GENERIC reader (``decode_record``
    with the map/array branches): block-chained maps and
    negative-count arrays both land here, so the chaining walk and the
    skip-size parse are load-bearing for every row's hash."""

    def decode(payload):
        msg = bytes(payload)
        if msg[0] != CONFLUENT_MAGIC or struct.unpack_from(">I", msg, 1)[0] != 3:
            raise ValueError("bad frame for EventProps message")
        rec, pos = decode_record(EVENT_PROPS_SCHEMA, msg, 5)
        if pos != len(msg):
            raise ValueError(f"{len(msg) - pos} trailing bytes")
        props, tags = rec["props"], rec["tags"]
        yield {
            "event_id": rec["event_id"],
            "k": props["k"],
            "u": props["u"],
            "t": props.get("t"),
            "n_props": len(props),
            "tags_sum": sum(tags),
            "n_tags": len(tags),
        }

    return row_kernel(msgs.select("payload"), decode, _PROPS_ROWS)
