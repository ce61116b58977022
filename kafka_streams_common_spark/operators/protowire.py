"""From-scratch Protocol Buffers WIRE-FORMAT codec — the other serde a
Kafka fleet actually carries. It needs no protobuf runtime: the wire
format itself is a tiny PUBLIC spec
(protobuf.dev/programming-guides/encoding): varint tags
``(field_number << 3) | wire_type``, wire types 0 (varint, with zigzag
for sint), 1 (fixed 64-bit), 2 (length-delimited: string/bytes/nested
message/packed repeated), 5 (fixed 32-bit).

This module implements encode + decode against a declarative field
spec (the hand-rolled equivalent of a compiled descriptor), including
the two behaviors that make protobuf forward-compatible in production:
UNKNOWN fields are skipped by wire type (so an old consumer survives a
new producer), and packed repeated scalars decode from one
length-delimited blob. The spec's own worked example (field 1 varint
150 ↔ ``08 96 01``) is pinned byte-golden in tests/test_serde.py.

Scale posture: both directions are map-only Arrow ``mapInPandas``
stages over per-message rows — the decode-at-ingest shape, no shuffle.
"""

from __future__ import annotations

import struct
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5

# ptype -> wire type. "message" and "packed_varint" carry a payload spec.
_WIRE_TYPE = {
    "uint": _WT_VARINT,
    "sint": _WT_VARINT,
    "bool": _WT_VARINT,
    "double": _WT_I64,
    "fixed64": _WT_I64,
    "fixed32": _WT_I32,
    "float": _WT_I32,
    "string": _WT_LEN,
    "bytes": _WT_LEN,
    "message": _WT_LEN,
    "packed_varint": _WT_LEN,
    # proto2-style repeated fields: one tag+value unit PER element
    # (unpacked — the default for proto2 scalars, and the only form for
    # strings/messages); decode accumulates into a list
    "repeated_uint": _WT_VARINT,
    "repeated_string": _WT_LEN,
    "repeated_message": _WT_LEN,
}


def write_uvarint(u: int) -> bytes:
    if u < 0:
        raise ValueError("uvarint must be non-negative")
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """One base-128 varint of at most 64 bits (the protobuf, Thrift
    compact and Avro wire limit): a 10th byte may carry only bit 63."""
    u = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return u, pos
        shift += 7
        if shift == 63:
            if pos >= len(buf):
                raise ValueError("truncated varint")
            b = buf[pos]
            if b > 1:
                raise ValueError("varint exceeds 64 bits")
            return u | b << 63, pos + 1


def zigzag64(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _tag(field_num: int, wire_type: int) -> bytes:
    return write_uvarint((field_num << 3) | wire_type)


def encode_field(field_num: int, ptype: str, v: Any, sub_spec: dict | None = None) -> bytes:
    """One ``tag + value`` unit. ``sub_spec`` is the nested field spec
    for ``message`` values ({num: (name, ptype[, sub])})."""
    wt = _WIRE_TYPE[ptype]
    tag = _tag(field_num, wt)
    if ptype == "uint":
        return tag + write_uvarint(int(v))
    if ptype == "sint":
        return tag + write_uvarint(zigzag64(int(v)))
    if ptype == "bool":
        return tag + write_uvarint(1 if v else 0)
    if ptype == "double":
        return tag + struct.pack("<d", float(v))
    if ptype == "fixed64":
        return tag + struct.pack("<Q", int(v))
    if ptype == "fixed32":
        return tag + struct.pack("<I", int(v))
    if ptype == "float":
        return tag + struct.pack("<f", float(v))
    if ptype in ("string", "bytes"):
        b = str(v).encode("utf-8") if ptype == "string" else bytes(v)
        return tag + write_uvarint(len(b)) + b
    if ptype == "message":
        body = encode_message(sub_spec, v)
        return tag + write_uvarint(len(body)) + body
    if ptype == "packed_varint":
        body = b"".join(write_uvarint(int(x)) for x in v)
        return tag + write_uvarint(len(body)) + body
    if ptype == "repeated_uint":
        return b"".join(tag + write_uvarint(int(x)) for x in v)
    if ptype == "repeated_string":
        return b"".join(
            tag + write_uvarint(len(x.encode())) + x.encode() for x in v
        )
    if ptype == "repeated_message":
        out = bytearray()
        for item in v:
            body = encode_message(sub_spec, item)
            out += tag + write_uvarint(len(body)) + body
        return bytes(out)
    raise ValueError(f"unsupported ptype {ptype!r}")


def encode_message(spec: dict, values: dict) -> bytes:
    """Encode ``values`` against ``spec`` ({field_num: (name, ptype)
    or (name, "message", sub_spec)}), fields in ascending number
    order. Fields whose value is None are omitted (proto3 presence)."""
    out = bytearray()
    for num in sorted(spec):
        entry = spec[num]
        name, ptype = entry[0], entry[1]
        sub = entry[2] if len(entry) > 2 else None
        v = values.get(name)
        if v is None:
            continue
        out += encode_field(num, ptype, v, sub)
    return bytes(out)


def _skip_field(wire_type: int, buf: bytes, pos: int) -> int:
    """Advance past one unknown field's value — the forward-compat
    path an old consumer runs on every new-producer field."""
    if wire_type == _WT_VARINT:
        _, pos = read_uvarint(buf, pos)
        return pos
    if wire_type == _WT_I64:
        if pos + 8 > len(buf):
            raise ValueError("fixed64 field overruns buffer")
        return pos + 8
    if wire_type == _WT_I32:
        if pos + 4 > len(buf):
            raise ValueError("fixed32 field overruns buffer")
        return pos + 4
    if wire_type == _WT_LEN:
        n, pos = read_uvarint(buf, pos)
        if pos + n > len(buf):
            raise ValueError("length-delimited field overruns buffer")
        return pos + n
    raise ValueError(f"cannot skip unsupported wire type {wire_type}")


def decode_message(spec: dict, buf: bytes) -> dict:
    """Decode one message against ``spec``; unknown field numbers are
    skipped by wire type, known fields must arrive with the wire type
    their ptype implies (a mismatch is data corruption, rejected).
    Returns {name: value} with absent optional fields missing."""
    out: dict[str, Any] = {}
    pos = 0
    while pos < len(buf):
        key, pos = read_uvarint(buf, pos)
        field_num, wt = key >> 3, key & 0x07
        entry = spec.get(field_num)
        if entry is None:
            pos = _skip_field(wt, buf, pos)
            continue
        name, ptype = entry[0], entry[1]
        sub = entry[2] if len(entry) > 2 else None
        want = _WIRE_TYPE[ptype]
        if wt != want and not (ptype == "repeated_uint" and wt == _WT_LEN):
            # a parser MUST accept packed AND unpacked forms for
            # packable repeated scalars (protobuf.dev encoding spec)
            raise ValueError(
                f"field {field_num} ({name}): wire type {wt}, expected {want}"
            )
        if ptype == "uint":
            out[name], pos = read_uvarint(buf, pos)
        elif ptype == "sint":
            u, pos = read_uvarint(buf, pos)
            out[name] = unzigzag(u)
        elif ptype == "bool":
            u, pos = read_uvarint(buf, pos)
            out[name] = bool(u)
        elif ptype == "double":
            out[name] = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif ptype == "fixed64":
            out[name] = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif ptype == "fixed32":
            out[name] = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        elif ptype == "float":
            out[name] = struct.unpack_from("<f", buf, pos)[0]
            pos += 4
        elif ptype in ("string", "bytes"):
            n, pos = read_uvarint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("length-delimited field overruns buffer")
            raw = bytes(buf[pos : pos + n])
            out[name] = raw.decode("utf-8") if ptype == "string" else raw
            pos += n
        elif ptype == "message":
            n, pos = read_uvarint(buf, pos)
            out[name] = decode_message(sub, buf[pos : pos + n])
            pos += n
        elif ptype == "packed_varint":
            n, pos = read_uvarint(buf, pos)
            end = pos + n
            vals = []
            while pos < end:
                u, pos = read_uvarint(buf, pos)
                vals.append(u)
            if pos != end:
                raise ValueError("packed field overran its length")
            out[name] = vals
        elif ptype == "repeated_uint":
            if wt == _WT_LEN:  # packed run
                n, pos = read_uvarint(buf, pos)
                end = pos + n
                vals = out.setdefault(name, [])
                while pos < end:
                    u, pos = read_uvarint(buf, pos)
                    vals.append(u)
                if pos != end:
                    raise ValueError("packed repeated field overran its length")
            else:
                u, pos = read_uvarint(buf, pos)
                out.setdefault(name, []).append(u)
        elif ptype == "repeated_string":
            n, pos = read_uvarint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("length-delimited field overruns buffer")
            out.setdefault(name, []).append(bytes(buf[pos : pos + n]).decode("utf-8"))
            pos += n
        elif ptype == "repeated_message":
            n, pos = read_uvarint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("length-delimited field overruns buffer")
            out.setdefault(name, []).append(decode_message(sub, buf[pos : pos + n]))
            pos += n
        else:
            raise ValueError(f"unsupported ptype {ptype!r}")
    return out


# ---------------------------------------------------------------------------
# DataFrame operators: the events topic as protobuf messages
# ---------------------------------------------------------------------------

META_SPEC = {
    1: ("source", "string"),
    2: ("tag32", "fixed32"),
}

# The producer's spec. Field 7 alternates between a fixed64 and a
# length-delimited blob the CONSUMER has no entry for.
EVENT_PROTO_SPEC = {
    1: ("event_id", "uint"),
    2: ("event_type", "string"),
    3: ("value", "double"),
    4: ("delta", "sint"),
    5: ("meta", "message", META_SPEC),
    6: ("token_bytes", "packed_varint"),
    7: ("trace_fixed", "fixed64"),
    8: ("trace_blob", "bytes"),
}

# The consumer's spec: fields 7/8 unknown -> skipped by wire type.
EVENT_PROTO_READER_SPEC = {
    k: v for k, v in EVENT_PROTO_SPEC.items() if k not in (7, 8)
}

_PROTO_MSG = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_events_proto(events: DataFrame) -> DataFrame:
    """Serialize each event as one protobuf message: varint id, utf-8
    event_type, IEEE double value, ZIGZAG ``delta = user_id - 500``
    (negative roughly half the time, so the sign fold is load-bearing),
    a NESTED ``Meta`` message (string source + fixed32 tag), a PACKED
    repeated varint of the first four md5 bytes of
    ``<event_type>-<event_id>``, and an extra trace field the consumer
    spec does not know — fixed64 on even ids, length-delimited on odd
    ids, so BOTH unknown-field skip paths ship in every batch.
    Map-only Arrow stage. The input rides ``fan_out`` (r16) so a single-
    split local lake spreads the kernel across the session's cores; a
    many-split production table takes the no-op branch and no exchange
    is inserted."""
    import hashlib

    def encode(eid, et, val, uid):
        eid, uid = int(eid), int(uid)
        digest = hashlib.md5(f"{et}-{eid}".encode()).hexdigest()
        tokens = [int(digest[2 * i : 2 * i + 2], 16) for i in range(4)]
        values = {
            "event_id": eid,
            "event_type": str(et),
            "value": float(val),
            "delta": uid - 500,
            "meta": {"source": f"u{uid}", "tag32": eid % 1000},
            "token_bytes": tokens,
            "trace_fixed": (eid * 2654435761) % (1 << 63) if eid % 2 == 0 else None,
            "trace_blob": digest.encode()[:8] if eid % 2 == 1 else None,
        }
        yield eid, encode_message(EVENT_PROTO_SPEC, values)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "event_type", "value", "user_id")),
        encode,
        _PROTO_MSG,
    )


_PROTO_ROWS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("delta", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tag32", T.LongType(), False),
        T.StructField("packed_sum", T.LongType(), False),
        T.StructField("packed_n", T.IntegerType(), False),
    ]
)


def decode_events_proto(msgs: DataFrame) -> DataFrame:
    """The old-consumer read path, map-only: decode each message with
    the READER spec (no entry for the trace fields — one fixed64 and
    one length-delimited unknown skipped per message), un-zigzag the
    delta, open the nested Meta message, and fold the packed varints
    to (sum, count) so the oracle can replay them from md5
    arithmetic."""

    def decode(payload):
        rec = decode_message(EVENT_PROTO_READER_SPEC, bytes(payload))
        toks = rec["token_bytes"]
        yield {
            "event_id": rec["event_id"],
            "event_type": rec["event_type"],
            "value": rec["value"],
            "delta": rec["delta"],
            "source": rec["meta"]["source"],
            "tag32": rec["meta"]["tag32"],
            "packed_sum": sum(toks),
            "packed_n": len(toks),
        }

    return row_kernel(msgs.select("payload"), decode, _PROTO_ROWS)
