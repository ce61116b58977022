"""Baseline TIFF 6.0 image codec (r14) — the scanned-document /
scientific-imaging container, from the PUBLIC TIFF 6.0 specification
(the Adobe/Aldus layout also mirrored in libtiff docs): 8-byte header
(``II``/``MM`` byte-order mark — BOTH orders are live in the wild —
magic 42, IFD offset), an IFD of 12-byte entries with inline-vs-offset
value resolution, and STRIP-organized uncompressed raster data
(StripOffsets / StripByteCounts / RowsPerStrip — the spec's
recommended ~8 KB strips mean real files are multi-strip, so strip
assembly is load-bearing, not a formality).

Supported (the tier's explicit-rejection posture for the rest):
bilevel-free 8-bit grayscale (PhotometricInterpretation 1) and 8-bit
RGB (Photometric 2, SamplesPerPixel 3, chunky planar config),
Compression 1 (none), either byte order, any strip height. Palette,
tiled, planar, predictor, and compressed variants raise.

The IFD walk reuses ``operators/exif._parse_tiff_ifd0`` (the r14 EXIF
module's parser already resolves arrays and out-of-line values);
the builder here extends the EXIF builder's layout with multi-count
numeric values and a strip-data region.

Scale posture: encode/decode are map-only Arrow ``mapInPandas``
stages — the image-lake census shape, no shuffle.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.exif import _parse_tiff_ifd0
from kafka_streams_common_spark.rowkernel import row_kernel

_TYPE_SHORT, _TYPE_LONG = 3, 4

# IFD tags (TIFF 6.0 baseline)
TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BPS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_BYTE_COUNTS = 279
TAG_PLANAR = 284


def _tiff_image_bytes(
    px: np.ndarray, byteorder: str = "II", rows_per_strip: int | None = None
) -> bytes:
    """One baseline TIFF from ``(h, w)`` gray or ``(h, w, 3)`` RGB
    uint8 pixels: header, strip data FIRST (at offset 8 — the spec
    allows any layout; data-before-IFD keeps offsets one-pass), then
    the IFD with its out-of-line value area."""
    if byteorder not in ("II", "MM"):
        raise ValueError("byte order must be 'II' or 'MM'")
    end = "little" if byteorder == "II" else "big"
    if px.dtype != np.uint8:
        raise ValueError("TIFF encoder takes uint8 pixels")
    if px.ndim == 2:
        h, w = px.shape
        spp, photometric = 1, 1
    elif px.ndim == 3 and px.shape[2] == 3:
        h, w, _ = px.shape
        spp, photometric = 3, 2
    else:
        raise ValueError(f"unsupported pixel shape {px.shape}")
    rps = h if rows_per_strip is None else rows_per_strip
    if rps <= 0:
        raise ValueError("rows_per_strip must be positive")

    def num(v: int, size: int) -> bytes:
        return int(v).to_bytes(size, end)

    strips = [
        px[y : y + rps].tobytes() for y in range(0, h, rps)
    ]
    data_at = 8
    offsets: list[int] = []
    pos = data_at
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    ifd_at = pos

    entries: list[tuple[int, int, list[int]]] = [
        (TAG_WIDTH, _TYPE_LONG, [w]),
        (TAG_HEIGHT, _TYPE_LONG, [h]),
        (TAG_BPS, _TYPE_SHORT, [8] * spp),
        (TAG_COMPRESSION, _TYPE_SHORT, [1]),
        (TAG_PHOTOMETRIC, _TYPE_SHORT, [photometric]),
        (TAG_STRIP_OFFSETS, _TYPE_LONG, offsets),
        (TAG_SPP, _TYPE_SHORT, [spp]),
        (TAG_ROWS_PER_STRIP, _TYPE_LONG, [rps]),
        (TAG_STRIP_BYTE_COUNTS, _TYPE_LONG, [len(s) for s in strips]),
        (TAG_PLANAR, _TYPE_SHORT, [1]),
    ]
    size_of = {_TYPE_SHORT: 2, _TYPE_LONG: 4}
    extra_at = ifd_at + 2 + 12 * len(entries) + 4
    body = bytearray(num(len(entries), 2))
    extra = bytearray()
    for tag, typ, values in sorted(entries):
        sz = size_of[typ]
        raw = b"".join(num(v, sz) for v in values)
        body += num(tag, 2) + num(typ, 2) + num(len(values), 4)
        if len(raw) <= 4:
            body += raw + b"\x00" * (4 - len(raw))
        else:
            body += num(extra_at + len(extra), 4)
            extra += raw
    body += num(0, 4)  # next-IFD terminator
    header = byteorder.encode() + num(42, 2) + num(ifd_at, 4)
    return header + b"".join(strips) + bytes(body) + bytes(extra)


def _as_list(v: object) -> list[int]:
    return list(v) if isinstance(v, list) else [int(v)]


def _as_scalar(ifd: dict, tag: int, default: int | None = None) -> int:
    """A tag that must carry exactly one value; a multi-count entry
    where a scalar belongs is corrupt (a flipped count byte produces
    exactly this shape)."""
    v = ifd.get(tag, default)
    if isinstance(v, list):
        raise ValueError(f"TIFF tag {tag} must be scalar, got count {len(v)}")
    return int(v)


def parse_tiff_image(payload: bytes) -> tuple[str, int, int, int, int, np.ndarray]:
    """Full baseline decode: IFD walk (via the EXIF module's parser —
    byte order, magic, inline/offset resolution), required-tag and
    posture checks, then strip assembly with EVERY StripByteCount
    verified against the geometry it claims. Returns ``(byteorder,
    channels, width, height, n_strips, pixels)``."""
    ifd = _parse_tiff_ifd0(payload)
    byteorder = payload[:2].decode("ascii")
    for tag in (TAG_WIDTH, TAG_HEIGHT, TAG_STRIP_OFFSETS, TAG_STRIP_BYTE_COUNTS):
        if tag not in ifd:
            raise ValueError(f"required TIFF tag {tag} missing")
    w, h = _as_scalar(ifd, TAG_WIDTH), _as_scalar(ifd, TAG_HEIGHT)
    if w <= 0 or h <= 0:
        raise ValueError(f"bad TIFF dimensions {w}x{h}")
    compression = _as_scalar(ifd, TAG_COMPRESSION, 1)
    if compression != 1:
        raise ValueError(f"only uncompressed TIFF is supported, got {compression}")
    spp = _as_scalar(ifd, TAG_SPP, 1)
    photometric = _as_scalar(ifd, TAG_PHOTOMETRIC, 1)
    if (spp, photometric) not in ((1, 1), (3, 2)):
        raise ValueError(
            f"unsupported TIFF class: SamplesPerPixel={spp}, "
            f"Photometric={photometric}"
        )
    if _as_list(ifd[TAG_BPS]) != [8] * spp:
        raise ValueError(f"only 8-bit samples supported, got {ifd[TAG_BPS]}")
    if _as_scalar(ifd, TAG_PLANAR, 1) != 1:
        raise ValueError("only chunky planar configuration supported")
    if 322 in ifd or 323 in ifd:
        raise ValueError("tiled TIFF is not supported")
    rps = _as_scalar(ifd, TAG_ROWS_PER_STRIP, h)
    offsets = _as_list(ifd[TAG_STRIP_OFFSETS])
    counts = _as_list(ifd[TAG_STRIP_BYTE_COUNTS])
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts count mismatch")
    expect_strips = (h + rps - 1) // rps
    if len(offsets) != expect_strips:
        raise ValueError(
            f"{len(offsets)} strips for {h} rows at {rps} rows/strip"
        )
    raster = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        rows = min(rps, h - i * rps)
        if cnt != rows * w * spp:
            raise ValueError(
                f"strip {i}: {cnt} bytes for {rows} rows of {w}x{spp}"
            )
        if off + cnt > len(payload):
            raise ValueError(f"strip {i} overruns file")
        raster += payload[off : off + cnt]
    px = np.frombuffer(bytes(raster), dtype=np.uint8)
    px = px.reshape(h, w) if spp == 1 else px.reshape(h, w, 3)
    return byteorder, spp, w, h, len(offsets), px


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_TIFF_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_tiff(docs: DataFrame) -> DataFrame:
    """documents → genuine baseline TIFFs with the established md5
    geometry and digest-cycled raster: EVEN doc_ids are little-endian
    (``II``) grayscale single-strip files; ODD are big-endian (``MM``)
    RGB files stripped at 4 rows/strip — so byte order, photometric
    class, and multi-strip assembly all vary inside one lake.
    Map-only.
    Reads ``doc_id`` and ``text``; width and height are ``md5 % 16 +
    1``."""

    def encode(did, text):
        did = int(did)
        hx = hashlib.md5(str(text).encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(str(text)[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        if did % 2 == 0:
            n = w * h
            raster = (bytes.fromhex(hx) * ((n + 15) // 16))[:n]
            px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
            yield did, _tiff_image_bytes(px, "II")
        else:
            n = 3 * w * h
            raster = (bytes.fromhex(hx) * ((n + 15) // 16))[:n]
            px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
            yield did, _tiff_image_bytes(px, "MM", rows_per_strip=4)

    return row_kernel(docs.select("doc_id", "text"), encode, _TIFF_OUT)


_TIFF_FEATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byteorder", T.StringType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_strips", T.IntegerType(), False),
        T.StructField("mean_px", T.DoubleType(), False),
        T.StructField("min_px", T.LongType(), False),
        T.StructField("max_px", T.LongType(), False),
    ]
)


def decode_tiff_features(images: DataFrame) -> DataFrame:
    """Map-only TIFF decode + pixel stats: the full IFD walk, posture
    checks, per-strip byte-count verification, raster assembly across
    strips, stats from decoded content — every column
    oracle-replayable from the md5 arithmetic."""

    def decode(did, payload):
        bo, ch, w, h, n_strips, px = parse_tiff_image(bytes(payload))
        flat = px.reshape(-1).astype(np.float64)
        yield {
            "doc_id": int(did),
            "byteorder": bo,
            "channels": ch,
            "width": w,
            "height": h,
            "n_strips": n_strips,
            "mean_px": float(flat.mean()),
            "min_px": int(flat.min()),
            "max_px": int(flat.max()),
        }

    return row_kernel(images.select("doc_id", "payload"), decode, _TIFF_FEATS)
