"""MessagePack wire-format codec — the compact binary serde real Kafka
deployments put on topics when Avro/protobuf governance is overkill
(fluentd, many Go/Rust producers emit it natively).

Original implementation of the PUBLIC format spec
(https://github.com/msgpack/msgpack/blob/master/spec.md) — no msgpack
runtime exists in this container, so both directions are from scratch:
the encoder builds genuine MessagePack objects (and DELIBERATELY emits
non-minimal integer/collection widths on a deterministic subset of
rows — the spec permits any width that holds the value, and foreign
producers routinely pad, so a reader that only accepts canonical
widths is wrong); the decoder is a generic recursive walk over every
family the spec defines — fixint both signs, uint/int 8-64, fixstr +
str 8/16/32, bin 8/16/32, fixarray + array 16/32, fixmap + map 16/32,
nil, bool, float 32/64.

Reference parity note: the reference engine's serde surface is
JSON-only (``SerdeFactory.java:48-82``); this module is part of the
Kafka-serde extension tier, not a port.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

# ---------------------------------------------------------------------------
# encode primitives
# ---------------------------------------------------------------------------


def _mp_uint(v: int, width: int | None = None) -> bytes:
    """Encode an unsigned integer. ``width=None`` picks the minimal
    family; an explicit width (1/2/4/8) forces that uint form — the
    non-canonical-but-legal padding foreign producers emit."""
    if v < 0:
        raise ValueError("uint must be non-negative")
    if width is None:
        if v < 0x80:
            return bytes([v])  # positive fixint
        if v < 0x100:
            width = 1
        elif v < 0x10000:
            width = 2
        elif v < 0x100000000:
            width = 4
        else:
            width = 8
    marker = {1: 0xCC, 2: 0xCD, 4: 0xCE, 8: 0xCF}[width]
    return bytes([marker]) + v.to_bytes(width, "big")


def _mp_int(v: int) -> bytes:
    """Encode a signed integer in the minimal signed family (negative
    fixint down to -32, then int 8/16/32/64)."""
    if v >= 0:
        return _mp_uint(v)
    if v >= -32:
        return bytes([v & 0xFF])  # negative fixint 111xxxxx
    for width, marker in ((1, 0xD0), (2, 0xD1), (4, 0xD2), (8, 0xD3)):
        lo = -(1 << (8 * width - 1))
        if v >= lo:
            return bytes([marker]) + v.to_bytes(width, "big", signed=True)
    raise ValueError(f"int64 out of range: {v}")


def _mp_str(s: str, force_str8: bool = False) -> bytes:
    b = s.encode("utf-8")
    if len(b) < 32 and not force_str8:
        return bytes([0xA0 | len(b)]) + b
    if len(b) < 0x100:
        return bytes([0xD9, len(b)]) + b
    if len(b) < 0x10000:
        return b"\xda" + len(b).to_bytes(2, "big") + b
    return b"\xdb" + len(b).to_bytes(4, "big") + b


def _mp_bin(b: bytes) -> bytes:
    if len(b) < 0x100:
        return bytes([0xC4, len(b)]) + b
    if len(b) < 0x10000:
        return b"\xc5" + len(b).to_bytes(2, "big") + b
    return b"\xc6" + len(b).to_bytes(4, "big") + b


def _mp_float64(v: float) -> bytes:
    return b"\xcb" + struct.pack(">d", v)


def _mp_array_header(n: int, force16: bool = False) -> bytes:
    if n < 16 and not force16:
        return bytes([0x90 | n])
    if n < 0x10000:
        return b"\xdc" + n.to_bytes(2, "big")
    return b"\xdd" + n.to_bytes(4, "big")


def _mp_map_header(n: int, force16: bool = False) -> bytes:
    if n < 16 and not force16:
        return bytes([0x80 | n])
    if n < 0x10000:
        return b"\xde" + n.to_bytes(2, "big")
    return b"\xdf" + n.to_bytes(4, "big")


_NIL, _FALSE, _TRUE = b"\xc0", b"\xc2", b"\xc3"


# ---------------------------------------------------------------------------
# generic decoder
# ---------------------------------------------------------------------------


def _mp_read(buf: bytes, pos: int) -> tuple[Any, int]:
    """Decode ONE MessagePack object at ``pos``; returns (value,
    next_pos). Generic over every family in the spec; bounds-checked so
    a truncated buffer raises instead of over-reading."""
    if pos >= len(buf):
        raise ValueError("truncated msgpack buffer")
    b = buf[pos]
    pos += 1
    if b < 0x80:  # positive fixint
        return b, pos
    if b >= 0xE0:  # negative fixint
        return b - 0x100, pos
    if 0x80 <= b <= 0x8F:  # fixmap
        return _mp_read_map(buf, pos, b & 0x0F)
    if 0x90 <= b <= 0x9F:  # fixarray
        return _mp_read_array(buf, pos, b & 0x0F)
    if 0xA0 <= b <= 0xBF:  # fixstr
        n = b & 0x1F
        return _mp_take(buf, pos, n).decode("utf-8"), pos + n

    def _need(n: int) -> bytes:
        return _mp_take(buf, pos, n)

    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        w = 1 << (b - 0xC4)
        n = int.from_bytes(_need(w), "big")
        pos += w
        return _mp_take(buf, pos, n), pos + n
    if b == 0xCA:
        return struct.unpack(">f", _need(4))[0], pos + 4
    if b == 0xCB:
        return struct.unpack(">d", _need(8))[0], pos + 8
    if b in (0xCC, 0xCD, 0xCE, 0xCF):  # uint 8/16/32/64
        w = 1 << (b - 0xCC)
        return int.from_bytes(_need(w), "big"), pos + w
    if b in (0xD0, 0xD1, 0xD2, 0xD3):  # int 8/16/32/64
        w = 1 << (b - 0xD0)
        return int.from_bytes(_need(w), "big", signed=True), pos + w
    if b in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        w = 1 << (b - 0xD9)
        n = int.from_bytes(_need(w), "big")
        pos += w
        return _mp_take(buf, pos, n).decode("utf-8"), pos + n
    if b in (0xDC, 0xDD):  # array 16/32
        w = 2 << (b - 0xDC)
        n = int.from_bytes(_need(w), "big")
        return _mp_read_array(buf, pos + w, n)
    if b in (0xDE, 0xDF):  # map 16/32
        w = 2 << (b - 0xDE)
        n = int.from_bytes(_need(w), "big")
        return _mp_read_map(buf, pos + w, n)
    raise ValueError(f"unsupported msgpack marker 0x{b:02x}")


def _mp_take(buf: bytes, pos: int, n: int) -> bytes:
    if pos + n > len(buf):
        raise ValueError("truncated msgpack buffer")
    return buf[pos : pos + n]


def _mp_read_array(buf: bytes, pos: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, pos = _mp_read(buf, pos)
        out.append(v)
    return out, pos


def _mp_read_map(buf: bytes, pos: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, pos = _mp_read(buf, pos)
        v, pos = _mp_read(buf, pos)
        out[k] = v
    return out, pos


def msgpack_loads(buf: bytes) -> Any:
    """Decode one MessagePack object; trailing bytes are rejected (a
    Kafka message body is exactly one object)."""
    v, pos = _mp_read(bytes(buf), 0)
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after msgpack object")
    return v


# ---------------------------------------------------------------------------
# events fixture: encode / decode DataFrames
# ---------------------------------------------------------------------------


def _event_msgpack(event_id: int, event_type: str, value: float, user_id: int) -> bytes:
    """One event as a MessagePack map. Deterministic hostile-width
    policy: even ids force uint32 for ``id`` (non-minimal), ids
    ``%3==0`` force str8 for ``type`` and array16 for ``tags``, ids
    ``%4==0`` force map16 for the top-level map — the widths a strict
    canonical-only reader chokes on. ``delta`` goes negative for half
    the user ids (signed families), ``note`` is nil on every 5th id,
    ``blob`` is a bin8 of four md5 bytes."""
    hx = hashlib.md5(f"{event_type}-{event_id}".encode()).hexdigest()
    tags = [int(hx[2 * i : 2 * i + 2], 16) for i in range(3)]
    blob = bytes.fromhex(hx[8:16])
    delta = user_id - 500
    parts = [
        _mp_str("id"),
        _mp_uint(event_id, width=4 if event_id % 2 == 0 else None),
        _mp_str("type"),
        _mp_str(event_type, force_str8=event_id % 3 == 0),
        _mp_str("value"),
        _mp_float64(value),
        _mp_str("delta"),
        _mp_int(delta),
        _mp_str("meta"),
        _mp_map_header(2),
        _mp_str("source"),
        _mp_str(f"u{user_id}"),
        _mp_str("tags"),
        _mp_array_header(len(tags), force16=event_id % 3 == 0),
        *[_mp_int(t) for t in tags],
        _mp_str("blob"),
        _mp_bin(blob),
        _mp_str("flagged"),
        _TRUE if event_id % 2 == 0 else _FALSE,
        _mp_str("note"),
        _NIL if event_id % 5 == 0 else _mp_str(f"note-{event_id % 97}"),
    ]
    return _mp_map_header(8, force16=event_id % 4 == 0) + b"".join(parts)


def encode_events_msgpack(events: DataFrame) -> DataFrame:
    """Encode each event as one MessagePack message (map of 8 fields,
    nested meta map, bin blob, hostile widths — see
    :func:`_event_msgpack`). Arrow-batched ``mapInPandas``, map-only —
    the producer side of a msgpack topic. The input rides ``fan_out``
    (r16) so a single-split local lake spreads the kernel across the
    session's cores; a many-split production table takes the no-op
    branch and no exchange is inserted."""
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(i, t, v, u):
        yield int(i), _event_msgpack(int(i), t, float(v), int(u))

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "event_type", "value", "user_id")),
        encode,
        out_schema,
    )


MSGPACK_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("delta", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("tags_sum", T.LongType(), True),
        T.StructField("n_tags", T.IntegerType(), True),
        T.StructField("blob_sum", T.LongType(), True),
        T.StructField("flagged", T.BooleanType(), True),
        T.StructField("note", T.StringType(), True),
    ]
)


def decode_events_msgpack(msgs: DataFrame) -> DataFrame:
    """Generic-walk decode of ``(event_id, payload)`` msgpack messages:
    every field family (fixint both signs, forced uint32, str8,
    array16, map16, bin8, nil/bool, float64) is on the wire in every
    batch, and the consumer extracts typed columns from the decoded
    map — nested ``meta`` opened, ``tags`` folded to (sum, count),
    ``blob`` bytes summed. Trailing bytes rejected per message.
    Map-only Arrow stage."""

    def decode(eid, p):
        m = msgpack_loads(bytes(p))
        if m["id"] != int(eid):
            raise ValueError(f"id mismatch: wire {m['id']} vs key {eid}")
        meta = m["meta"]
        yield {
            "event_id": m["id"],
            "event_type": m["type"],
            "value": m["value"],
            "delta": m["delta"],
            "source": meta["source"],
            "tags_sum": sum(meta["tags"]),
            "n_tags": len(meta["tags"]),
            "blob_sum": sum(m["blob"]),
            "flagged": m["flagged"],
            "note": m["note"],
        }

    return row_kernel(msgs.select("event_id", "payload"), decode, MSGPACK_EVENT_SCHEMA)
