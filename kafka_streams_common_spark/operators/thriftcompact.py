"""From-scratch Apache Thrift COMPACT-PROTOCOL codec — the third
schema'd Kafka serde family after Avro and protobuf. No thrift runtime
exists in this container, but the compact protocol is a small PUBLIC
spec (apache/thrift ``doc/specs/thrift-compact-protocol.md``): one-byte
short-form field headers packing a 1-15 field-id DELTA with the
4-bit type, a long-form escape (zero delta nibble + zigzag-varint
field id) for larger jumps, zigzag varints for i16/i32/i64, varint
length-prefixed binary/strings, list/set headers packing size-under-15
with the element type, the single-0x00-byte empty-map form, BOOLEAN
values carried IN the field-header type nibble (1=true, 2=false), and
little-endian IEEE 754 doubles (the spec's settled byte order; the
historical Java big-endian divergence, THRIFT-2799, is exactly why a
reader must pin one).

Like the protobuf module this implements encode + decode against a
declarative field spec, with the production forward-compatibility
behavior: UNKNOWN fields are skipped BY TYPE — including recursive
struct skip — so an old consumer survives a new producer.

Reference parity note: the reference engine's serde surface is
config-driven JSON (DynamicTopologyBuilder.java); wire-format serdes
are part of the mandated Kafka-ingest extension tier, not a port.

Scale posture: both directions are map-only Arrow ``mapInPandas``
stages over per-message rows — decode-at-ingest, no shuffle.
"""

from __future__ import annotations

import struct
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.protowire import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag64,
)
from kafka_streams_common_spark.rowkernel import row_kernel

# compact-protocol type ids (field headers and collection element types)
CT_STOP = 0x00
CT_TRUE = 0x01
CT_FALSE = 0x02
CT_BYTE = 0x03
CT_I16 = 0x04
CT_I32 = 0x05
CT_I64 = 0x06
CT_DOUBLE = 0x07
CT_BINARY = 0x08
CT_LIST = 0x09
CT_SET = 0x0A
CT_MAP = 0x0B
CT_STRUCT = 0x0C

_PTYPE_CT = {
    "bool": None,  # type nibble IS the value
    "byte": CT_BYTE,
    "i16": CT_I16,
    "i32": CT_I32,
    "i64": CT_I64,
    "double": CT_DOUBLE,
    "string": CT_BINARY,
    "binary": CT_BINARY,
    "struct": CT_STRUCT,
    "list_i32": CT_LIST,
    "list_string": CT_LIST,
    "list_struct": CT_LIST,
    "set_i32": CT_SET,
    "map_string_i64": CT_MAP,
}


def _encode_value(ptype: str, v: Any, sub_spec: dict | None = None) -> bytes:
    if ptype == "byte":
        return struct.pack("b", v)
    if ptype in ("i16", "i32", "i64"):
        bits = {"i16": 16, "i32": 32, "i64": 64}[ptype]
        if not -(1 << (bits - 1)) <= v < (1 << (bits - 1)):
            raise ValueError(f"{v} out of {ptype} range")
        return write_uvarint(zigzag64(int(v)))
    if ptype == "double":
        return struct.pack("<d", float(v))  # little-endian per the spec
    if ptype in ("string", "binary"):
        data = v.encode() if isinstance(v, str) else bytes(v)
        return write_uvarint(len(data)) + data
    if ptype == "struct":
        return encode_struct(sub_spec, v)
    if ptype in ("list_i32", "set_i32"):
        elems = list(v)
        body = b"".join(write_uvarint(zigzag64(int(e))) for e in elems)
        if len(elems) < 15:
            return bytes([(len(elems) << 4) | CT_I32]) + body
        return bytes([0xF0 | CT_I32]) + write_uvarint(len(elems)) + body
    if ptype in ("list_string", "list_struct"):
        ect = CT_BINARY if ptype == "list_string" else CT_STRUCT
        elems = list(v)
        if ptype == "list_string":
            body = b"".join(
                write_uvarint(len(e.encode())) + e.encode() for e in elems
            )
        else:
            body = b"".join(encode_struct(sub_spec, e) for e in elems)
        if len(elems) < 15:
            return bytes([(len(elems) << 4) | ect]) + body
        return bytes([0xF0 | ect]) + write_uvarint(len(elems)) + body
    if ptype == "map_string_i64":
        items = list(v.items())
        if not items:
            return b"\x00"  # the empty-map single-byte form
        out = write_uvarint(len(items)) + bytes([(CT_BINARY << 4) | CT_I64])
        for k, mv in items:
            kb = k.encode()
            out += write_uvarint(len(kb)) + kb
            out += write_uvarint(zigzag64(int(mv)))
        return out
    raise ValueError(f"unsupported thrift ptype {ptype!r}")


def encode_struct(spec: dict, values: dict) -> bytes:
    """Encode one struct: fields in ascending id order with short-form
    headers whenever the delta fits 1-15, the long-form escape
    otherwise, and the 0x00 stop byte. ``spec`` maps field name ->
    (field_id, ptype[, sub_spec]). Fields whose value is None are
    omitted (thrift optional semantics)."""
    out = bytearray()
    last_id = 0
    for name, field in sorted(spec.items(), key=lambda kv: kv[1][0]):
        fid, ptype = field[0], field[1]
        sub = field[2] if len(field) > 2 else None
        v = values.get(name)
        if v is None:
            continue
        if ptype == "bool":
            ct = CT_TRUE if v else CT_FALSE
            body = b""
        else:
            ct = _PTYPE_CT[ptype]
            body = _encode_value(ptype, v, sub)
        delta = fid - last_id
        if 1 <= delta <= 15:
            out.append((delta << 4) | ct)
        else:
            out.append(ct)  # zero delta nibble = long form
            out += write_uvarint(zigzag64(fid))
        out += body
        last_id = fid
    out.append(CT_STOP)
    return bytes(out)


_MAX_NEST_DEPTH = 64


def _check_collection_size(n: int, buf: bytes, pos: int) -> None:
    """Every collection element takes at least one wire byte, so a
    declared size beyond the remaining bytes is corrupt; rejecting it up
    front keeps a hostile size from spinning the skip loop."""
    if n > len(buf) - pos:
        raise ValueError(f"collection size {n} exceeds the remaining bytes")


def _skip_value(ct: int, buf: bytes, pos: int, depth: int = 0) -> int:
    """Skip one value of compact type ``ct`` — the forward-compat
    path. Bool-in-header types carry no body. ``depth`` bounds hostile
    nesting (each struct level costs ONE wire byte, so without a cap a
    kilobyte of 0x1C bytes would recurse a thousand frames deep)."""
    if depth > _MAX_NEST_DEPTH:
        raise ValueError("thrift nesting depth exceeds the bound")
    if ct in (CT_TRUE, CT_FALSE):
        return pos
    if ct == CT_BYTE:
        return pos + 1
    if ct in (CT_I16, CT_I32, CT_I64):
        _, pos = read_uvarint(buf, pos)
        return pos
    if ct == CT_DOUBLE:
        return pos + 8
    if ct == CT_BINARY:
        n, pos = read_uvarint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated binary while skipping")
        return pos + n
    if ct in (CT_LIST, CT_SET):
        head = buf[pos]
        pos += 1
        ect = head & 0x0F
        n = head >> 4
        if n == 15:
            n, pos = read_uvarint(buf, pos)
        _check_collection_size(n, buf, pos)
        for _ in range(n):
            pos = _skip_value(ect, buf, pos, depth + 1)
        return pos
    if ct == CT_MAP:
        n, pos = read_uvarint(buf, pos)
        if n == 0:
            return pos
        _check_collection_size(n, buf, pos)
        head = buf[pos]
        pos += 1
        kct, vct = head >> 4, head & 0x0F
        for _ in range(n):
            pos = _skip_value(kct, buf, pos, depth + 1)
            pos = _skip_value(vct, buf, pos, depth + 1)
        return pos
    if ct == CT_STRUCT:
        last_id = 0
        while True:
            if pos >= len(buf):
                raise ValueError("truncated struct while skipping")
            head = buf[pos]
            pos += 1
            if head == CT_STOP:
                return pos
            fct = head & 0x0F
            delta = head >> 4
            if delta == 0:
                _, pos = read_uvarint(buf, pos)
            pos = _skip_value(fct, buf, pos, depth + 1)
            last_id += delta
    raise ValueError(f"cannot skip unknown compact type {ct}")


def _decode_value(ptype: str, ct: int, buf: bytes, pos: int, sub_spec: dict | None):
    if ptype == "bool":
        if ct not in (CT_TRUE, CT_FALSE):
            raise ValueError(f"expected header bool, got type {ct}")
        return ct == CT_TRUE, pos
    expect = _PTYPE_CT[ptype]
    if ct != expect:
        raise ValueError(f"field type mismatch: wire {ct} != spec {expect} ({ptype})")
    if ptype == "byte":
        return struct.unpack_from("b", buf, pos)[0], pos + 1
    if ptype in ("i16", "i32", "i64"):
        u, pos = read_uvarint(buf, pos)
        return unzigzag(u), pos
    if ptype == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ptype in ("string", "binary"):
        n, pos = read_uvarint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("truncated binary value")
        data = buf[pos : pos + n]
        return (data.decode() if ptype == "string" else data), pos + n
    if ptype == "struct":
        return decode_struct(sub_spec, buf, pos)
    if ptype in ("list_i32", "set_i32"):
        head = buf[pos]
        pos += 1
        if head & 0x0F != CT_I32:
            raise ValueError(f"collection element type {head & 0x0F} != i32")
        n = head >> 4
        if n == 15:
            n, pos = read_uvarint(buf, pos)
        out = []
        for _ in range(n):
            u, pos = read_uvarint(buf, pos)
            out.append(unzigzag(u))
        return out, pos
    if ptype in ("list_string", "list_struct"):
        expect_ect = CT_BINARY if ptype == "list_string" else CT_STRUCT
        head = buf[pos]
        pos += 1
        if head & 0x0F != expect_ect:
            raise ValueError(
                f"collection element type {head & 0x0F} != {expect_ect} ({ptype})"
            )
        n = head >> 4
        if n == 15:
            n, pos = read_uvarint(buf, pos)
        out = []
        for _ in range(n):
            if ptype == "list_string":
                ln, pos = read_uvarint(buf, pos)
                if pos + ln > len(buf):
                    raise ValueError("truncated string list element")
                out.append(buf[pos : pos + ln].decode())
                pos += ln
            else:
                rec, pos = decode_struct(sub_spec, buf, pos)
                out.append(rec)
        return out, pos
    if ptype == "map_string_i64":
        n, pos = read_uvarint(buf, pos)
        if n == 0:
            return {}, pos
        head = buf[pos]
        pos += 1
        if head != (CT_BINARY << 4) | CT_I64:
            raise ValueError(f"map key/value types 0x{head:02x} != string->i64")
        out = {}
        for _ in range(n):
            kn, pos = read_uvarint(buf, pos)
            k = buf[pos : pos + kn].decode()
            pos += kn
            u, pos = read_uvarint(buf, pos)
            out[k] = unzigzag(u)
        return out, pos
    raise ValueError(f"unsupported thrift ptype {ptype!r}")


def decode_struct(spec: dict, buf: bytes, pos: int = 0) -> tuple[dict, int]:
    """Decode one struct with the reader ``spec``; unknown field ids are
    skipped by their wire type. Returns ``(record, end_pos)``."""
    by_id = {f[0]: (name, f[1], f[2] if len(f) > 2 else None) for name, f in spec.items()}
    rec: dict[str, Any] = {}
    last_id = 0
    while True:
        if pos >= len(buf):
            raise ValueError("struct missing stop byte")
        head = buf[pos]
        pos += 1
        if head == CT_STOP:
            return rec, pos
        ct = head & 0x0F
        delta = head >> 4
        if delta == 0:
            u, pos = read_uvarint(buf, pos)
            fid = unzigzag(u)
        else:
            fid = last_id + delta
        last_id = fid
        if fid in by_id:
            name, ptype, sub = by_id[fid]
            rec[name], pos = _decode_value(ptype, ct, buf, pos, sub)
        else:
            pos = _skip_value(ct, buf, pos)


# ---------------------------------------------------------------------------
# event lake: writer schema (with trace fields) vs old-consumer reader
# ---------------------------------------------------------------------------

_META_SPEC = {
    "source": (1, "string"),
    "tag16": (2, "i16"),
}

EVENT_THRIFT_SPEC = {
    "event_id": (1, "i64"),
    "event_type": (2, "string"),
    "value": (3, "double"),
    "delta": (4, "i32"),
    "meta": (6, "struct", _META_SPEC),  # delta 2 — a short-form jump
    "flag": (7, "bool"),
    "tokens": (20, "list_i32"),  # delta 13
    "token_set": (21, "set_i32"),
    "props": (22, "map_string_i64"),
    # trace fields the reader does not know — both long-form headers
    "trace_double": (1000, "double"),
    "trace_note": (1001, "struct", {"note": (1, "string"), "n": (2, "i32")}),
}

EVENT_THRIFT_READER_SPEC = {
    k: v for k, v in EVENT_THRIFT_SPEC.items() if not k.startswith("trace_")
}

_THRIFT_MSG = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_events_thrift(events: DataFrame) -> DataFrame:
    """Serialize each event as one compact-protocol struct: zigzag i64
    id, utf-8 string, little-endian double, i32 delta that goes
    NEGATIVE for half the user ids (the sign fold is load-bearing), a
    NESTED Meta struct reached by a delta-2 header, a header-carried
    BOOL (both the TRUE and FALSE type nibbles ship), an i32 list of
    md5 bytes — 16 elements on even ids (LONG-FORM size) vs 4 on odd
    (short form), a SET of the distinct first-4 md5 bytes, a
    string->i64 MAP that is empty (single 0x00 byte form) on ids
    divisible by 5, and a trace field the reader spec does not know —
    a long-form-header double on even ids, a long-form-header nested
    STRUCT on odd ids, so both flat and recursive skip paths ship in
    every batch. Map-only Arrow stage. The input rides ``fan_out`` (r16)
    so a single-split local lake spreads the kernel across the session's
    cores; a many-split production table takes the no-op branch and no
    exchange is inserted."""
    import hashlib

    def encode(eid, et, val, uid):
        eid, uid = int(eid), int(uid)
        digest = hashlib.md5(f"{et}-{eid}".encode()).hexdigest()
        nbytes = 16 if eid % 2 == 0 else 4
        toks = [int(digest[2 * i : 2 * i + 2], 16) for i in range(nbytes)]
        first4 = [int(digest[2 * i : 2 * i + 2], 16) for i in range(4)]
        values = {
            "event_id": eid,
            "event_type": str(et),
            "value": float(val),
            "delta": uid - 500,
            "meta": {"source": f"u{uid}", "tag16": eid % 1000 - 500},
            "flag": eid % 2 == 0,
            "tokens": toks,
            "token_set": sorted(set(first4)),
            "props": {} if eid % 5 == 0 else {"u": uid, "m": eid % 97},
            "trace_double": float(eid) * 0.5 if eid % 2 == 0 else None,
            "trace_note": (
                {"note": digest[:6], "n": eid % 31} if eid % 2 == 1 else None
            ),
        }
        yield eid, encode_struct(EVENT_THRIFT_SPEC, values)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "event_type", "value", "user_id")),
        encode,
        _THRIFT_MSG,
    )


_THRIFT_ROWS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("delta", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tag16", T.LongType(), False),
        T.StructField("flag", T.BooleanType(), False),
        T.StructField("token_sum", T.LongType(), False),
        T.StructField("token_n", T.IntegerType(), False),
        T.StructField("set_n", T.IntegerType(), False),
        T.StructField("map_n", T.IntegerType(), False),
        T.StructField("map_u", T.LongType(), True),
    ]
)


def decode_events_thrift(msgs: DataFrame) -> DataFrame:
    """The old-consumer read path, map-only: decode each struct with
    the READER spec (no entry for either trace field — one double and
    one nested struct skipped by type per message), un-zigzag the
    signed fields, open the nested Meta struct, read the bool from the
    header nibble, and fold the collections to SQL-replayable scalars
    (list sum+count, set count, map count + the 'u' value)."""

    def decode(payload):
        buf = bytes(payload)
        rec, end = decode_struct(EVENT_THRIFT_READER_SPEC, buf)
        if end != len(buf):
            raise ValueError("trailing bytes after thrift struct")
        yield {
            "event_id": rec["event_id"],
            "event_type": rec["event_type"],
            "value": rec["value"],
            "delta": rec["delta"],
            "source": rec["meta"]["source"],
            "tag16": rec["meta"]["tag16"],
            "flag": rec["flag"],
            "token_sum": sum(rec["tokens"]),
            "token_n": len(rec["tokens"]),
            "set_n": len(rec["token_set"]),
            "map_n": len(rec["props"]),
            "map_u": rec["props"].get("u"),
        }

    return row_kernel(msgs.select("payload"), decode, _THRIFT_ROWS)
