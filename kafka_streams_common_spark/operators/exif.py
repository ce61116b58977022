"""EXIF metadata extraction — APP1 ``Exif\\0\\0`` segments holding a
TIFF structure (byte-order mark, magic 42, IFD0 entry walk), embedded
in real JPEG containers. Original implementation of the public TIFF 6.0
/ EXIF layout: BOTH byte orders (``II`` little- and ``MM`` big-endian),
inline vs offset value fields, ASCII/SHORT/LONG types.

Metadata extraction is a first-class training-pipeline operation
(camera/time/orientation filters over web-scraped image lakes); the
reference engine has no binary surface — extension tier, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

# the IFD0 tags this tier carries (public EXIF/TIFF tag ids)
TAG_IMAGE_WIDTH = 0x0100  # LONG
TAG_MAKE = 0x010F  # ASCII
TAG_ORIENTATION = 0x0112  # SHORT
TAG_DATETIME = 0x0132  # ASCII

_TYPE_ASCII, _TYPE_SHORT, _TYPE_LONG = 2, 3, 4
_TYPE_SIZE = {_TYPE_ASCII: 1, _TYPE_SHORT: 2, _TYPE_LONG: 4}


def _tiff_bytes(
    entries: list[tuple[int, int, object]], byteorder: str = "II"
) -> bytes:
    """Build a TIFF structure with one IFD0: 8-byte header (byte-order
    mark, magic 42, IFD offset 8), entry count, 12-byte entries sorted
    by tag (per spec), next-IFD offset 0, then the out-of-line value
    area. Values that fit 4 bytes are INLINE (left-justified in the
    field, per spec); larger ASCII values go to the data area via
    offset. ``entries``: ``(tag, type, value)`` with ASCII values as
    str (NUL appended here) and SHORT/LONG as int."""
    if byteorder not in ("II", "MM"):
        raise ValueError("byte order must be 'II' or 'MM'")
    end = "little" if byteorder == "II" else "big"

    def num(v: int, size: int) -> bytes:
        return int(v).to_bytes(size, end)

    entries = sorted(entries, key=lambda e: e[0])
    ifd_at = 8
    data_at = ifd_at + 2 + 12 * len(entries) + 4
    body = bytearray()
    data = bytearray()
    body += num(len(entries), 2)
    for tag, typ, value in entries:
        if typ == _TYPE_ASCII:
            raw = str(value).encode("ascii") + b"\x00"
            count = len(raw)
        elif typ == _TYPE_SHORT:
            raw = num(value, 2)
            count = 1
        elif typ == _TYPE_LONG:
            raw = num(value, 4)
            count = 1
        else:
            raise ValueError(f"unsupported TIFF type {typ}")
        body += num(tag, 2) + num(typ, 2) + num(count, 4)
        if len(raw) <= 4:
            body += raw + b"\x00" * (4 - len(raw))  # inline, left-justified
        else:
            body += num(data_at + len(data), 4)
            data += raw
    body += num(0, 4)  # no IFD1
    header = byteorder.encode() + num(42, 2) + num(ifd_at, 4)
    return header + bytes(body) + bytes(data)


def _parse_tiff_ifd0(tiff: bytes) -> dict[int, object]:
    """Walk a TIFF header + IFD0 per the public spec: byte-order mark,
    magic 42 verified, entry walk with inline-vs-offset value
    resolution for ASCII/SHORT/LONG. Returns ``{tag: value}`` (ASCII
    NUL-stripped, single-count numerics as int)."""
    bom = tiff[:2]
    if bom == b"II":
        end = "little"
    elif bom == b"MM":
        end = "big"
    else:
        raise ValueError(f"bad TIFF byte-order mark {bom!r}")

    def num(b: bytes) -> int:
        return int.from_bytes(b, end)

    if num(tiff[2:4]) != 42:
        raise ValueError(f"bad TIFF magic {num(tiff[2:4])}")
    at = num(tiff[4:8])
    n = num(tiff[at : at + 2])
    out: dict[int, object] = {}
    for i in range(n):
        e = tiff[at + 2 + 12 * i : at + 2 + 12 * (i + 1)]
        tag, typ, count = num(e[0:2]), num(e[2:4]), num(e[4:8])
        size = _TYPE_SIZE.get(typ)
        if size is None:
            raise ValueError(f"unsupported TIFF type {typ} for tag {tag:#06x}")
        total = size * count
        raw = e[8:12][:total] if total <= 4 else tiff[num(e[8:12]) :][:total]
        if len(raw) != total:
            raise ValueError(f"truncated value for tag {tag:#06x}")
        if typ == _TYPE_ASCII:
            out[tag] = raw.rstrip(b"\x00").decode("ascii")
        elif count == 1:
            out[tag] = num(raw)
        else:
            out[tag] = [num(raw[j * size : (j + 1) * size]) for j in range(count)]
    return out


def exif_app1(entries: list[tuple[int, int, object]], byteorder: str = "II") -> bytes:
    """A complete JPEG APP1 segment: marker, big-endian length,
    ``Exif\\0\\0`` identifier, TIFF payload."""
    body = b"Exif\x00\x00" + _tiff_bytes(entries, byteorder)
    return b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body


def _find_exif(payload: bytes) -> bytes:
    """Marker-walk a JPEG container to the APP1 ``Exif\\0\\0`` segment
    (other APPn/COM segments skipped by their length fields) and
    return its TIFF payload."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected a marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xDA:  # SOS: entropy data follows, no EXIF past here
            break
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return payload[pos + 10 : pos + 2 + length]
        pos += 2 + length
    raise ValueError("no Exif APP1 segment before SOS")


def _md5_exif_fields(text: str) -> tuple[str, str, int, str]:
    """Deterministic (make, datetime, orientation, byteorder-less)
    EXIF field values from a document's md5 digest — replayable in
    SQL byte-for-byte."""
    import hashlib

    hx = hashlib.md5(text.encode()).hexdigest()
    d = bytes.fromhex(hx)
    make = "cam-" + hx[:6]
    dt = (
        f"2020:01:{d[0] % 28 + 1:02d} "
        f"{d[1] % 24:02d}:{d[2] % 60:02d}:{d[3] % 60:02d}"
    )
    orientation = d[4] % 8 + 1
    return make, dt, orientation, hx


def encode_jpeg_exif(docs: DataFrame) -> DataFrame:
    """Encode each document as a genuine grayscale JPEG with an EXIF
    APP1 segment spliced after SOI: IFD0 carries Make (ASCII,
    out-of-line), DateTime (ASCII, out-of-line), Orientation (SHORT,
    inline) and ImageWidth (LONG, inline) — all md5-derived; EVEN
    doc_ids write little-endian (``II``) TIFF, odd BIG-endian
    (``MM``), so the decoder's byte-order dispatch is load-bearing.
    Arrow-batched ``mapInPandas``, map-only.
    Reads ``doc_id`` and ``text``."""
    import hashlib

    from kafka_streams_common_spark.operators.jpeg import _encode_jpeg_bytes

    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        raster = (bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h]
        px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 1)
        jpeg = _encode_jpeg_bytes(px)
        make, dt, orientation, _ = _md5_exif_fields(text)
        app1 = exif_app1(
            [
                (TAG_MAKE, _TYPE_ASCII, make),
                (TAG_DATETIME, _TYPE_ASCII, dt),
                (TAG_ORIENTATION, _TYPE_SHORT, orientation),
                (TAG_IMAGE_WIDTH, _TYPE_LONG, w),
            ],
            byteorder="II" if int(did) % 2 == 0 else "MM",
        )
        yield did, jpeg[:2] + app1 + jpeg[2:]

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_order", T.StringType(), True),
        T.StructField("make", T.StringType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("orientation", T.LongType(), True),
        T.StructField("exif_width", T.LongType(), True),
        T.StructField("sof_width", T.LongType(), True),
        T.StructField("sof_height", T.LongType(), True),
    ]
)


def decode_jpeg_exif(images: DataFrame) -> DataFrame:
    """Arrow-batched EXIF extraction over ``(doc_id, payload)`` JPEGs:
    marker-walk to the APP1 ``Exif\\0\\0`` segment, parse the TIFF
    header (BOTH byte orders) and IFD0 (inline and out-of-line values,
    ASCII/SHORT/LONG), and emit the recovered fields alongside the
    SOF-recovered geometry — ``exif_width`` must agree with
    ``sof_width`` by construction, so the oracle cross-gates the IFD
    walk against the independent SOF parse. Map-only."""
    from kafka_streams_common_spark.operators.jpeg import _sof_header

    def decode(did, p):
        payload = bytes(p)
        tiff = _find_exif(payload)
        tags = _parse_tiff_ifd0(tiff)
        _, _, w, h = _sof_header(payload)
        yield {
            "doc_id": did,
            "byte_order": tiff[:2].decode(),
            "make": tags.get(TAG_MAKE),
            "datetime": tags.get(TAG_DATETIME),
            "orientation": tags.get(TAG_ORIENTATION),
            "exif_width": tags.get(TAG_IMAGE_WIDTH),
            "sof_width": w,
            "sof_height": h,
        }

    return row_kernel(images.select("doc_id", "payload"), decode, EXIF_SCHEMA)
