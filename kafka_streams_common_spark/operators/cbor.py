"""CBOR (RFC 8949) wire-format codec — the IETF's standard binary
object format (CoAP/IoT fleets, WebAuthn, COSE) and the second
schema-less binary serde a Kafka consumer meets in the wild.

Original implementation of the PUBLIC spec (RFC 8949), from scratch —
no cbor runtime exists in this container. The encoder deliberately
exercises the wire features MessagePack does not have: INDEFINITE-
length maps/arrays/text strings (chunk sequences terminated by the
0xFF "break"), HALF-PRECISION floats (the float16 decode ladder from
RFC 8949 appendix D), tag 2 BIGNUMS (big-endian byte-string
integers), major-type-1 negative integers (-1-n), and non-minimal
argument widths (legal in CBOR generally; only "canonical" encoders
shrink them). The decoder is a generic recursive walk over all eight
major types with bounds checks and break discipline (a break outside
an indefinite item is an error, as are indefinite string chunks of a
different major type).

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

_BREAK = object()  # sentinel returned for the 0xFF stop code


# ---------------------------------------------------------------------------
# encode primitives
# ---------------------------------------------------------------------------


def _cb_head(major: int, arg: int, width: int | None = None) -> bytes:
    """Major type + argument. ``width=None`` → minimal encoding;
    explicit width (1/2/4/8) forces that argument size (legal,
    non-canonical)."""
    if width is None:
        if arg < 24:
            return bytes([(major << 5) | arg])
        for w, ai in ((1, 24), (2, 25), (4, 26), (8, 27)):
            if arg < 1 << (8 * w):
                return bytes([(major << 5) | ai]) + arg.to_bytes(w, "big")
        raise ValueError("argument out of range")
    ai = {1: 24, 2: 25, 4: 26, 8: 27}[width]
    return bytes([(major << 5) | ai]) + arg.to_bytes(width, "big")


def _cb_int(v: int, width: int | None = None) -> bytes:
    if v >= 0:
        return _cb_head(0, v, width)
    return _cb_head(1, -1 - v, width)


def _cb_text(s: str, chunks: int = 1) -> bytes:
    """Definite text string, or an indefinite chunk sequence when
    ``chunks > 1`` (split on CHARACTER boundaries — RFC 8949 §3.2.3
    requires each chunk to be well-formed UTF-8)."""
    if chunks <= 1:
        b = s.encode("utf-8")
        return _cb_head(3, len(b)) + b
    step = max(1, len(s) // chunks)
    parts, i = [], 0
    while i < len(s):
        piece = s[i : i + step] if i + step < len(s) else s[i:]
        pb = piece.encode("utf-8")
        parts.append(_cb_head(3, len(pb)) + pb)
        i += len(piece)
    return b"\x7f" + b"".join(parts) + b"\xff"


def _cb_bytes(b: bytes) -> bytes:
    return _cb_head(2, len(b)) + b


def _cb_float64(v: float) -> bytes:
    return b"\xfb" + struct.pack(">d", v)


def _cb_float16(v: float) -> bytes:
    """Encode an exactly-half-precision-representable float as the
    2-byte form (0xF9). Only called with values built from small
    dyadic fractions, so the struct round-trip is exact."""
    return b"\xf9" + struct.pack(">e", v)


def _cb_bignum(v: int) -> bytes:
    """Tag 2 (unsigned bignum): big-endian byte string, no leading
    zero bytes (RFC 8949 §3.4.3)."""
    if v < 0:
        raise ValueError("only unsigned bignums emitted here")
    nb = max(1, (v.bit_length() + 7) // 8)
    return b"\xc2" + _cb_bytes(v.to_bytes(nb, "big"))


_NULL, _FALSE, _TRUE = b"\xf6", b"\xf4", b"\xf5"


# ---------------------------------------------------------------------------
# generic decoder
# ---------------------------------------------------------------------------


def _half_to_float(h: int) -> float:
    """RFC 8949 appendix D half-precision decode (sign/exp/mantissa
    ladder — subnormals and infinities included)."""
    exp = (h >> 10) & 0x1F
    mant = h & 0x3FF
    if exp == 0:
        val = mant * 2.0**-24
    elif exp != 31:
        val = (mant + 1024) * 2.0 ** (exp - 25)
    else:
        val = float("inf") if mant == 0 else float("nan")
    return -val if h & 0x8000 else val


def _cb_take(buf: bytes, pos: int, n: int) -> bytes:
    if pos + n > len(buf):
        raise ValueError("truncated CBOR buffer")
    return buf[pos : pos + n]


def _cb_arg(buf: bytes, pos: int, ai: int) -> tuple[int | None, int]:
    """Decode the argument for additional-info ``ai``; None for 31
    (indefinite / break)."""
    if ai < 24:
        return ai, pos
    if ai in (24, 25, 26, 27):
        w = 1 << (ai - 24)
        return int.from_bytes(_cb_take(buf, pos, w), "big"), pos + w
    if ai == 31:
        return None, pos
    raise ValueError(f"reserved additional info {ai}")


def _cb_read(buf: bytes, pos: int) -> tuple[Any, int]:
    """Decode ONE data item at ``pos``; returns (value, next_pos).
    ``_BREAK`` is returned for the stop code — callers inside
    indefinite items consume it; anywhere else it is an error."""
    if pos >= len(buf):
        raise ValueError("truncated CBOR buffer")
    ib = buf[pos]
    pos += 1
    major, ai = ib >> 5, ib & 0x1F
    if ib == 0xFF:
        return _BREAK, pos
    arg, pos = _cb_arg(buf, pos, ai)

    if major == 0:
        return arg, pos
    if major == 1:
        return -1 - arg, pos
    if major == 2 or major == 3:  # byte / text string
        if arg is None:  # indefinite: chunks of the SAME major type
            parts = []
            while True:
                if pos >= len(buf):
                    raise ValueError("unterminated indefinite string")
                if buf[pos] == 0xFF:
                    pos += 1
                    break
                if buf[pos] >> 5 != major or (buf[pos] & 0x1F) == 31:
                    raise ValueError("indefinite string chunk of wrong type")
                chunk, pos = _cb_read(buf, pos)
                parts.append(chunk.encode("utf-8") if major == 3 else chunk)
            data = b"".join(parts)
        else:
            data = _cb_take(buf, pos, arg)
            pos += arg
        return (data.decode("utf-8") if major == 3 else data), pos
    if major == 4:  # array
        out = []
        if arg is None:
            while True:
                v, pos = _cb_read(buf, pos)
                if v is _BREAK:
                    return out, pos
                out.append(v)
        for _ in range(arg):
            v, pos = _cb_read(buf, pos)
            if v is _BREAK:
                raise ValueError("break inside definite array")
            out.append(v)
        return out, pos
    if major == 5:  # map
        m: dict = {}
        if arg is None:
            while True:
                k, pos = _cb_read(buf, pos)
                if k is _BREAK:
                    return m, pos
                v, pos = _cb_read(buf, pos)
                if v is _BREAK:
                    raise ValueError("break as indefinite map value")
                m[k] = v
        for _ in range(arg):
            k, pos = _cb_read(buf, pos)
            v, pos = _cb_read(buf, pos)
            if k is _BREAK or v is _BREAK:
                raise ValueError("break inside definite map")
            m[k] = v
        return m, pos
    if major == 6:  # tag
        if arg is None:
            raise ValueError("indefinite-length tag")
        inner, pos = _cb_read(buf, pos)
        if arg == 2:  # unsigned bignum
            if not isinstance(inner, bytes):
                raise ValueError("tag 2 content must be a byte string")
            return int.from_bytes(inner, "big"), pos
        if arg == 3:  # negative bignum
            if not isinstance(inner, bytes):
                raise ValueError("tag 3 content must be a byte string")
            return -1 - int.from_bytes(inner, "big"), pos
        return inner, pos  # unknown tag: pass the content through
    # major 7: floats / simple values
    if ai == 20:
        return False, pos
    if ai == 21:
        return True, pos
    if ai == 22 or ai == 23:
        return None, pos
    if ai == 25:
        return _half_to_float(arg), pos
    if ai == 26:
        return struct.unpack(">f", arg.to_bytes(4, "big"))[0], pos
    if ai == 27:
        return struct.unpack(">d", arg.to_bytes(8, "big"))[0], pos
    if ai < 20 or ai == 24:
        return arg, pos  # simple value passthrough
    raise ValueError(f"unsupported major-7 additional info {ai}")


def cbor_loads(buf: bytes) -> Any:
    """Decode one CBOR data item; trailing bytes and a top-level break
    are rejected."""
    v, pos = _cb_read(bytes(buf), 0)
    if v is _BREAK:
        raise ValueError("break outside indefinite item")
    if pos != len(buf):
        raise ValueError(f"{len(buf) - pos} trailing bytes after CBOR item")
    return v


# ---------------------------------------------------------------------------
# events fixture: encode / decode DataFrames
# ---------------------------------------------------------------------------


def _event_cbor(event_id: int, event_type: str, value: float, user_id: int) -> bytes:
    """One event as a CBOR map, with the hostile-form policy spread
    deterministically: EVEN ids use an INDEFINITE top-level map and an
    indefinite tags array; ids ``%3==0`` chunk ``type`` as an
    indefinite text string; ids ``%4==0`` pad ``id`` to a 4-byte
    argument (non-minimal). ``half`` is an exactly-representable
    float16, ``big`` a tag-2 bignum of the first 7 md5 bytes,
    ``delta`` major-type-1 negative for half the user ids, ``note``
    null on every 5th id."""
    hx = hashlib.md5(f"{event_type}-{event_id}".encode()).hexdigest()
    tags = [int(hx[2 * i : 2 * i + 2], 16) for i in range(3)]
    big = int(hx[:14], 16)
    delta = user_id - 500
    half = (event_id % 8) * 0.25
    indef = event_id % 2 == 0

    pairs = [
        (_cb_text("id"), _cb_int(event_id, width=4 if event_id % 4 == 0 else None)),
        (_cb_text("type"), _cb_text(event_type, chunks=2 if event_id % 3 == 0 else 1)),
        (_cb_text("value"), _cb_float64(value)),
        (_cb_text("half"), _cb_float16(half)),
        (_cb_text("delta"), _cb_int(delta)),
        (_cb_text("big"), _cb_bignum(big)),
        (
            _cb_text("tags"),
            (b"\x9f" + b"".join(_cb_int(t) for t in tags) + b"\xff")
            if indef
            else _cb_head(4, len(tags)) + b"".join(_cb_int(t) for t in tags),
        ),
        (_cb_text("note"), _NULL if event_id % 5 == 0 else _cb_text(f"note-{event_id % 97}")),
        (_cb_text("flagged"), _TRUE if event_id % 2 == 0 else _FALSE),
    ]
    body = b"".join(k + v for k, v in pairs)
    if indef:
        return b"\xbf" + body + b"\xff"
    return _cb_head(5, len(pairs)) + body


def encode_events_cbor(events: DataFrame) -> DataFrame:
    """Encode each event as one CBOR message (see :func:`_event_cbor`).
    Arrow-batched ``mapInPandas``, map-only. The input rides ``fan_out``
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
        yield int(i), _event_cbor(int(i), t, float(v), int(u))

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(
        fan_out(events.select("event_id", "event_type", "value", "user_id")),
        encode,
        out_schema,
    )


CBOR_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("half", T.DoubleType(), True),
        T.StructField("delta", T.LongType(), True),
        T.StructField("bignum", T.LongType(), True),
        T.StructField("tags_sum", T.LongType(), True),
        T.StructField("n_tags", T.IntegerType(), True),
        T.StructField("note", T.StringType(), True),
        T.StructField("flagged", T.BooleanType(), True),
        T.StructField("map_form", T.StringType(), True),
    ]
)


def decode_events_cbor(msgs: DataFrame) -> DataFrame:
    """Generic-walk decode of ``(event_id, payload)`` CBOR messages:
    definite AND indefinite maps/arrays/text strings, half-precision
    floats, tag-2 bignums, negative integers, and padded argument
    widths are all live in every batch. ``map_form`` reports which
    top-level form the wire actually used (read from the first byte
    before the generic walk), so the even/odd policy is itself
    oracle-gated. Map-only Arrow stage."""

    def decode(eid, p):
        raw = bytes(p)
        form = "indef" if raw[:1] == b"\xbf" else "def"
        m = cbor_loads(raw)
        if m["id"] != int(eid):
            raise ValueError(f"id mismatch: wire {m['id']} vs key {eid}")
        yield {
            "event_id": m["id"],
            "event_type": m["type"],
            "value": m["value"],
            "half": m["half"],
            "delta": m["delta"],
            "bignum": m["big"],
            "tags_sum": sum(m["tags"]),
            "n_tags": len(m["tags"]),
            "note": m["note"],
            "flagged": m["flagged"],
            "map_form": form,
        }

    return row_kernel(msgs.select("event_id", "payload"), decode, CBOR_EVENT_SCHEMA)
