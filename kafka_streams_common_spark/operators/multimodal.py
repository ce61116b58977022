"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas functions.

Two payload paths:

- ``attach_fake_image_payload`` — raw utf-8 bytes standing in for an
  opaque blob (the metadata/frame-sampling plumbing queries).
- ``encode_pgm`` / ``decode_pgm_features`` — a REAL public image format:
  Netpbm PGM "P5" (binary grayscale; spec: magic, whitespace-separated
  ASCII width/height/maxval, single whitespace, then width×height raster
  bytes — https://netpbm.sourceforge.net/doc/pgm.html is the public
  definition; the format is simple enough to encode with JVM-side
  expressions and decode with a numpy header parse). The decoder also
  accepts PPM "P6" (RGB, 3 bytes/pixel). This replaces the round-≤10
  byte-histogram stub: the ``mapInPandas`` stage now genuinely parses an
  image container and computes pixel statistics from the decoded raster,
  so the query oracle gates DECODED CONTENT, not plumbing invariants.
  A PIL/ffmpeg decoder for JPEG/PNG drops into ``_decode_image`` behind
  the same magic-number dispatch.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_common_spark.functions.hashing import md5_int64
from kafka_streams_common_spark.rowkernel import row_kernel

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

N_HIST_BINS = 16


def attach_fake_image_payload(docs: DataFrame) -> DataFrame:
    """Give each document an opaque binary payload + typed metadata struct —
    the canonical multimodal row shape ``(doc_id, payload binary, meta
    struct)``, from the ``doc_id`` and ``text`` columns.

    The payload is the utf-8 text bytes standing in for encoded image data;
    width/height are md5-derived so metadata is deterministic and
    oracle-reproducible.
    """
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            (F.pmod(md5_int64(F.col("text")), F.lit(512)) + 1).cast("int").alias("width"),
            (F.pmod(md5_int64(F.reverse(F.col("text"))), F.lit(512)) + 1)
            .cast("int")
            .alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_payload(payload: bytes) -> list[float]:
    """Opaque-blob featurization: normalized 16-bin histogram of payload
    byte values — the format-agnostic fallback featurizer for blobs the
    engine has no decoder for (arbitrary binary columns).

    Vectorized (``np.frombuffer`` + ``bincount``) — the pattern every
    decoder body follows inside the Arrow batch: numpy over the buffer,
    never a per-byte Python loop. Bit-identical to the scalar spelling
    ``bins[byte * N // 256] += 1; b / total``: the bin index is exact
    integer arithmetic and the normalization is the same IEEE-double
    division.
    """
    if not payload:
        return [0.0] * N_HIST_BINS
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    bins = np.bincount(b * N_HIST_BINS // 256, minlength=N_HIST_BINS)
    return (bins / len(payload)).tolist()


def encode_pgm(docs: DataFrame) -> DataFrame:
    """Encode each document as a genuine binary Netpbm PGM (P5) image —
    entirely JVM-side expressions, no Python in the encode path.

    Reads ``doc_id`` and ``text``. Geometry: ``width = md5(text) % 16 + 1``,
    ``height = md5(reverse(text)) % 16 + 1`` (deterministic and
    oracle-reproducible); raster: the 16-byte md5 digest of the text
    cycled to ``width*height`` bytes. The output ``payload`` column is a
    byte-exact P5 file (``P5\\n<w> <h>\\n255\\n`` + raster) that any
    Netpbm-compliant reader opens — the point is that the DECODER must
    recover dims and pixels by actually parsing the container.
    """
    text = F.col("text")
    w = (F.pmod(md5_int64(text), F.lit(16)) + 1).cast("int")
    h = (F.pmod(md5_int64(F.reverse(text)), F.lit(16)) + 1).cast("int")
    # 16-byte digest repeated to 16*16 bytes, cut to w*h; Column.substr
    # takes Column args, so the length can be per-row
    raster = F.unhex(F.repeat(F.md5(text), 16)).substr(
        F.lit(1), (w * h).cast("int")
    )
    header = F.encode(F.format_string("P5\n%d %d\n255\n", w, h), "utf-8")
    return docs.select(
        F.col("doc_id"),
        F.concat(header, raster).alias("payload"),
    )


def encode_ppm(docs: DataFrame) -> DataFrame:
    """The TRUECOLOR twin of ``encode_pgm`` (r13): a genuine binary
    Netpbm PPM (P6) — same JVM-side expressions, same md5 geometry,
    raster = the digest cycled to ``3·width·height`` bytes (RGB
    triples in raster order). The decoder must recover 3 channels from
    the P6 magic and de-interleave them. Reads ``doc_id`` and ``text``."""
    text = F.col("text")
    w = (F.pmod(md5_int64(text), F.lit(16)) + 1).cast("int")
    h = (F.pmod(md5_int64(F.reverse(text)), F.lit(16)) + 1).cast("int")
    raster = F.unhex(
        F.repeat(F.md5(text), 3 * 16)
    ).substr(F.lit(1), (3 * w * h).cast("int"))
    header = F.encode(F.format_string("P6\n%d %d\n255\n", w, h), "utf-8")
    return docs.select(
        F.col("doc_id"),
        F.concat(header, raster).alias("payload"),
    )


def _parse_netpbm(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a binary Netpbm image (PGM ``P5`` grayscale / PPM ``P6``
    RGB) per the public spec: magic, then ASCII width/height/maxval
    separated by whitespace (``#`` comment lines allowed), a single
    whitespace byte, then the raster. Returns
    ``(channels, width, height, pixels)`` with ``pixels`` shaped
    ``(height, width, channels)``.
    """
    if len(payload) < 2 or payload[0:1] != b"P" or payload[1:2] not in (b"5", b"6"):
        raise ValueError(f"not a binary PGM/PPM payload: {payload[:2]!r}")
    channels = 1 if payload[1:2] == b"5" else 3
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos] in b" \t\r\n":
            pos += 1
        if pos < len(payload) and payload[pos] in b"#":  # comment to EOL
            while pos < len(payload) and payload[pos] not in b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos] not in b" \t\r\n":
            pos += 1
        if pos == start:
            raise ValueError("truncated netpbm header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, per spec
    width, height, maxval = fields
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported maxval {maxval} (only 1-byte samples)")
    n = width * height * channels
    raster = payload[pos : pos + n]
    if len(raster) != n:
        raise ValueError(f"raster has {len(raster)} bytes, expected {n}")
    px = np.frombuffer(raster, dtype=np.uint8).reshape(height, width, channels)
    return channels, width, height, px


BMP_MAGIC = b"BM"

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def _encode_bmp_bytes(px: np.ndarray) -> bytes:
    """One Windows BMP file from an ``(h, w, 3)`` uint8 RGB array, per
    the public BITMAPINFOHEADER layout: 14-byte file header (``BM``
    magic, little-endian file size, pixel-data offset), 40-byte info
    header (width, POSITIVE height = bottom-up, planes=1, bpp=24,
    BI_RGB uncompressed), then the raster as bottom-up rows of BGR
    triples each padded to a 4-byte boundary — the three classic BMP
    gotchas (row order, channel order, stride padding) all real."""
    h, w, ch = px.shape
    if ch != 3 or px.dtype != np.uint8:
        raise ValueError("BMP encoder takes (h, w, 3) uint8 RGB")
    stride = (3 * w + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    size = _BMP_HEADER_SIZE + len(rows)
    header = (
        BMP_MAGIC
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + _BMP_HEADER_SIZE.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(rows).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")  # 72 dpi, per the spec's example
        + (2835).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    return header + bytes(rows)


def _parse_bmp(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a 24-bit uncompressed BMP per the public spec: verify the
    ``BM`` magic and the header's file-size field against the actual
    byte count, require planes=1 / bpp=24 / BI_RGB, then rebuild the
    raster from 4-byte-padded BGR rows — bottom-up when the height
    field is positive, top-down when negative (both signs are legal
    and both appear in the wild). Returns ``(channels, width, height,
    pixels)`` with pixels in RGB order, the ``_parse_image`` contract.
    Palettized, RLE-compressed, and 16/32-bpp variants are explicitly
    rejected, the tier's posture."""
    if payload[:2] != BMP_MAGIC:
        raise ValueError(f"not a BMP payload: {payload[:2]!r}")
    if len(payload) < _BMP_HEADER_SIZE:
        raise ValueError("truncated BMP header")
    if int.from_bytes(payload[2:6], "little") != len(payload):
        raise ValueError("BMP file-size field mismatch")
    data_offset = int.from_bytes(payload[10:14], "little")
    info_size = int.from_bytes(payload[14:18], "little")
    if info_size < 40:
        raise ValueError(f"unsupported BMP info-header size {info_size}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    planes = int.from_bytes(payload[26:28], "little")
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if planes != 1:
        raise ValueError(f"BMP planes must be 1, got {planes}")
    if bpp != 24:
        raise ValueError(f"only 24-bpp BMP is supported, got {bpp}")
    if compression != 0:
        raise ValueError(f"only BI_RGB (uncompressed) BMP is supported")
    if w <= 0 or h_raw == 0:
        raise ValueError(f"bad BMP dimensions {w}x{h_raw}")
    h = abs(h_raw)
    stride = (3 * w + 3) & ~3
    raster = payload[data_offset : data_offset + stride * h]
    if len(raster) != stride * h:
        raise ValueError(
            f"BMP raster has {len(raster)} bytes, expected {stride * h}"
        )
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    px = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if h_raw > 0:
        px = px[::-1]  # bottom-up -> image order
    return 3, w, h, np.ascontiguousarray(px)


def encode_bmp(docs: DataFrame) -> DataFrame:
    """Encode each document as a genuine 24-bit BMP: the SAME md5
    geometry and digest-cycled RGB raster as ``encode_ppm`` (so the
    same SQL oracle replays the decoded content), wrapped in the
    Windows container — bottom-up rows, BGR channel order, 4-byte row
    padding. The decoder must undo all three to recover the PPM-equal
    pixels; passing any through breaks the content hash. Arrow-batched
    ``mapInPandas``, map-only. Reads ``doc_id`` and ``text``."""
    import hashlib

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
        n = 3 * w * h
        raster = (bytes.fromhex(hx) * ((n + 15) // 16))[:n]
        px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
        yield did, _encode_bmp_bytes(px)

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One PNG chunk: big-endian length, type, data, CRC-32 of
    type+data — the container's only framing primitive."""
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + ctype
        + data
        + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _zlib_stored(data: bytes) -> bytes:
    """A valid zlib stream holding ``data`` in DEFLATE *stored* blocks,
    built by hand so the byte LENGTH is deterministic arithmetic
    (2 header + ⌈L/65535⌉·5 block headers + L + 4 adler) rather than an
    artifact of a particular zlib build — what lets the format-census
    oracle recompute PNG container sizes in SQL. ``zlib.decompress``
    (and any inflate) accepts it; the compressed-DEFLATE encode path
    uses ``zlib.compress`` instead and gates CONTENT, not size."""
    import zlib

    out = [b"\x78\x01"]  # CMF/FLG: 32K window, check bits valid, level-0 hint
    pos = 0
    while True:
        block = data[pos : pos + 65535]
        final = pos + 65535 >= len(data)
        out.append(
            (b"\x01" if final else b"\x00")
            + len(block).to_bytes(2, "little")
            + (len(block) ^ 0xFFFF).to_bytes(2, "little")
            + block
        )
        pos += 65535
        if final:
            break
    out.append((zlib.adler32(data) & 0xFFFFFFFF).to_bytes(4, "big"))
    return b"".join(out)


def _png_filter_scanline(
    ftype: int, raw: np.ndarray, prior: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply PNG filter ``ftype`` (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth — the full spec set) to one raw scanline; ``prior`` is the
    previous RAW scanline (zeros for the first). Exact uint8 modular
    arithmetic per the PNG spec; filtering references RAW neighbors so
    it vectorizes (unlike unfiltering, which needs the reconstructed
    left byte)."""
    raw16 = raw.astype(np.int64)
    left = np.concatenate([np.zeros(bpp, np.int64), raw16[:-bpp]])
    up = prior.astype(np.int64)
    ul = np.concatenate([np.zeros(bpp, np.int64), up[:-bpp]])
    if ftype == 0:
        out = raw16
    elif ftype == 1:
        out = raw16 - left
    elif ftype == 2:
        out = raw16 - up
    elif ftype == 3:
        out = raw16 - (left + up) // 2
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        out = raw16 - pred
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return (out % 256).astype(np.uint8)


def _png_unfilter_scanline(
    ftype: int, filt: np.ndarray, prior: np.ndarray, bpp: int
) -> np.ndarray:
    """Invert one scanline filter. Up is vectorized; Sub/Average/Paeth
    reference the RECONSTRUCTED left byte, so they run as a sequential
    in-place pass (scanlines are short; the loop is per-line, inside
    the per-image Arrow batch body)."""
    up = prior.astype(np.int64)
    if ftype == 0:
        return filt.copy()
    if ftype == 2:
        return ((filt.astype(np.int64) + up) % 256).astype(np.uint8)
    out = filt.astype(np.int64).copy()
    ul = np.concatenate([np.zeros(bpp, np.int64), up[:-bpp]])
    for i in range(out.size):
        left = out[i - bpp] if i >= bpp else 0
        if ftype == 1:
            out[i] = (out[i] + left) % 256
        elif ftype == 3:
            out[i] = (out[i] + (left + up[i]) // 2) % 256
        elif ftype == 4:
            p = left + up[i] - ul[i]
            pa, pb, pc = abs(p - left), abs(p - up[i]), abs(p - ul[i])
            pred = left if pa <= pb and pa <= pc else (up[i] if pb <= pc else ul[i])
            out[i] = (out[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out.astype(np.uint8)


# deterministic NON-identity grayscale palette for the indexed branch:
# entry i maps to luma (7·i + 13) mod 256 — an affine permutation of
# 0..255 (gcd(7,256)=1), so palette lookup is LOAD-BEARING (a decoder
# passing indexes through as pixels breaks the content hash) while the
# mapped value stays one SQL expression
_AFFINE_GRAY_PALETTE = bytes(
    v for i in range(256) for v in ((7 * i + 13) % 256,) * 3
)


# Adam7 interlace pass geometry per the PNG spec: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_passes(width: int, height: int):
    """Yield ``(x0, y0, dx, dy, pw, ph)`` for each NON-EMPTY Adam7
    pass — empty passes contribute no bytes at all, per spec."""
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def _encode_png_bytes(
    px: np.ndarray,
    level: int = 6,
    filter_seed: int = 0,
    palette: bytes | None = None,
    interlace: bool = False,
    alpha: bool = False,
    depth: int = 8,
) -> bytes:
    """Encode an ``(h, w, channels)`` array as a spec-compliant PNG
    (color type 0 grayscale / 2 RGB / 3 indexed / 4 gray+alpha /
    6 RGBA, depth 8 or 16, critical chunks IHDR/[PLTE]/IDAT/IEND).
    Scanline ``r`` uses filter type ``(filter_seed + r) % 5`` so every
    filter in the spec is exercised in round-trips; ``level=0`` writes
    hand-built stored blocks (deterministic container size — see
    ``_zlib_stored``), any other level uses real DEFLATE via
    ``zlib.compress``. With ``palette`` (RGB triples), ``px`` carries
    PALETTE INDEXES (1 channel) and a PLTE chunk is written. With
    ``interlace`` (r13), the raster is split into the SEVEN Adam7
    passes — each pass an independent sub-image with its own filtered
    scanlines and its own zero prior; empty passes contribute no bytes
    at all, per spec. With ``alpha`` (r14), the last channel of ``px``
    is the alpha plane (2 channels → type 4, 4 channels → type 6).
    ``depth=16`` (r14) takes a uint16 array and stores each sample as
    two big-endian bytes; the scanline filters still run bytewise with
    the byte-sized ``bpp`` offset, per spec."""
    import zlib

    h, w, channels = px.shape
    if depth not in (8, 16):
        raise ValueError("PNG depth must be 8 or 16")
    if palette is not None:
        if channels != 1 or alpha:
            raise ValueError("indexed PNG takes a 1-channel index array")
        if depth != 8:
            raise ValueError("indexed PNG is 8-bit only in this encoder")
        if not palette or len(palette) % 3 or len(palette) > 768:
            raise ValueError("PLTE must hold 1-256 RGB triples")
        colortype = 3
    elif alpha:
        if channels not in (2, 4):
            raise ValueError("alpha PNG takes 2 (gray+A) or 4 (RGBA) channels")
        colortype = 4 if channels == 2 else 6
    else:
        if channels not in (1, 3):
            raise ValueError("opaque PNG takes 1 (gray) or 3 (RGB) channels")
        colortype = 0 if channels == 1 else 2
    sampbytes = depth // 8
    bpp = channels * sampbytes

    def row_bytes(row: np.ndarray) -> np.ndarray:
        # one scanline's raw FILTER input: samples as big-endian bytes
        if depth == 8:
            return row.reshape(-1).astype(np.uint8)
        be = row.reshape(-1).astype(">u2").tobytes()
        return np.frombuffer(be, dtype=np.uint8)

    lines = []
    if interlace:
        for x0, y0, dx, dy, pw, ph in _adam7_passes(w, h):
            prior = np.zeros(pw * bpp, dtype=np.uint8)
            for r in range(ph):
                raw = row_bytes(px[y0 + r * dy, x0::dx][:pw])
                ftype = (filter_seed + r) % 5
                lines.append(bytes([ftype]))
                lines.append(_png_filter_scanline(ftype, raw, prior, bpp).tobytes())
                prior = raw
    else:
        prior = np.zeros(w * bpp, dtype=np.uint8)
        for r in range(h):
            raw = row_bytes(px[r])
            ftype = (filter_seed + r) % 5
            lines.append(bytes([ftype]))
            lines.append(_png_filter_scanline(ftype, raw, prior, bpp).tobytes())
            prior = raw
    filtered = b"".join(lines)
    idat = _zlib_stored(filtered) if level == 0 else zlib.compress(filtered, level)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, colortype, 0, 0, int(interlace)])
    )
    plte = _png_chunk(b"PLTE", palette) if palette is not None else b""
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + plte
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _parse_png(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a PNG per the public spec (critical chunks): signature,
    chunk walk with CRC-32 verification, IHDR geometry, concatenated
    IDAT zlib-inflate, scanline unfilter (all five filter types).
    Color types 0 (gray), 2 (RGB), 3 (indexed with a PLTE palette —
    r13), 4 (gray+alpha — r14) and 6 (RGBA — r14, the modal PNG class
    on the web); bit depth 8, or 16 (big-endian sample pairs — r14)
    for the non-indexed types; sequential AND Adam7-interlaced (r13:
    seven per-pass filtered sub-images, exact-size-checked,
    de-interlace scatter — the filters and the scatter run BYTEWISE, so
    they are depth-agnostic with the byte-sized ``bpp`` offset, per
    spec). Ancillary chunks are skipped (CRC-checked) per spec.
    Returns ``(channels, width, height, pixels)`` shaped
    ``(h, w, channels)`` — the ``_parse_netpbm`` contract, so stats
    code is shared (dtype uint8, or uint16 for depth 16 — consumers
    read the bit depth off ``pixels.dtype``); indexed images come back
    as mapped luma (grayscale palette, 1 channel) or mapped RGB, the
    GIF convention; alpha types keep the alpha plane as the LAST
    channel (2 or 4 channels)."""
    import zlib

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError(f"not a PNG payload: {payload[:8]!r}")
    pos, ihdr, idat_parts, seen_end = 8, None, [], False
    plte = None
    while pos + 12 <= len(payload) and not seen_end:
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated chunk {ctype!r}")
        crc = int.from_bytes(payload[pos + 8 + length : pos + 12 + length], "big")
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat_parts.append(data)
        elif ctype == b"IEND":
            seen_end = True
        pos += 12 + length
    if ihdr is None or not idat_parts or not seen_end:
        raise ValueError("missing IHDR, IDAT, or IEND chunk")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, colortype, _comp, _filt, interlace = ihdr[8:13]
    if (
        colortype not in (0, 2, 3, 4, 6)
        or interlace not in (0, 1)
        or depth not in (8, 16)
        or (depth == 16 and colortype == 3)
    ):
        raise ValueError(
            f"unsupported PNG (depth={depth} color={colortype} interlace="
            f"{interlace}; 8/16-bit gray/RGB/indexed/gray+A/RGBA, "
            "interlace 0/1, 8-bit indexed only)"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype]
    sampbytes = depth // 8
    bpp = channels * sampbytes
    stride = width * bpp
    if width * height > (1 << 28):
        raise ValueError(f"raster {width}x{height} exceeds the 256M-pixel bound")
    # expected filtered size is known from the header BEFORE inflating,
    # so inflate with a hard output cap: a zlib bomb (or a flipped
    # geometry byte) fails the size check without ever allocating its
    # claimed output
    if interlace:  # Adam7 (r13): seven independent filtered sub-images
        expect = sum(
            ph * (pw * bpp + 1) for _, _, _, _, pw, ph in _adam7_passes(width, height)
        )
    else:
        expect = height * (width * bpp + 1)
    do = zlib.decompressobj()
    raw = do.decompress(b"".join(idat_parts), expect + 1)
    if len(raw) == expect and not do.eof:
        raise ValueError("IDAT zlib stream incomplete")
    if interlace:
        if len(raw) != expect:
            raise ValueError(f"inflated data {len(raw)} != Adam7 size {expect}")
        full = np.empty((height, width, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy, pw, ph in _adam7_passes(width, height):
            pstride = pw * bpp
            prior = np.zeros(pstride, dtype=np.uint8)
            for r in range(ph):
                line = raw[pos : pos + pstride + 1]
                pos += pstride + 1
                prior = _png_unfilter_scanline(
                    line[0],
                    np.frombuffer(line[1:], dtype=np.uint8),
                    prior,
                    bpp,
                )
                full[y0 + r * dy, x0 : x0 + (pw - 1) * dx + 1 : dx] = prior.reshape(
                    pw, bpp
                )
        px = full.reshape(height, stride)
    else:
        if len(raw) != height * (stride + 1):
            raise ValueError(f"inflated data {len(raw)} != {height} x ({stride}+1)")
        px = np.empty((height, stride), dtype=np.uint8)
        prior = np.zeros(stride, dtype=np.uint8)
        for r in range(height):
            line = raw[r * (stride + 1) : (r + 1) * (stride + 1)]
            prior = _png_unfilter_scanline(
                line[0], np.frombuffer(line[1:], dtype=np.uint8), prior, bpp
            )
            px[r] = prior
    if colortype == 3:
        if plte is None or not plte or len(plte) % 3:
            raise ValueError("indexed PNG requires a PLTE chunk of RGB triples")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px.reshape(-1)
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
        if (rgb[:, 0] == rgb[:, 1]).all() and (rgb[:, 1] == rgb[:, 2]).all():
            return 1, width, height, rgb[:, 0].reshape(height, width, 1)
        return 3, width, height, rgb.reshape(height, width, 3)
    if depth == 16:  # big-endian sample pairs → uint16 (r14)
        b = px.reshape(height, width * channels, 2).astype(np.uint16)
        vals = (b[:, :, 0] << 8) | b[:, :, 1]
        return channels, width, height, vals.reshape(height, width, channels)
    return channels, width, height, px.reshape(height, width, channels)


def _parse_image(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    """Magic-number image-container dispatch shared by every image
    consumer (``_decode_image`` stats, cross-modal signatures): returns
    ``(format, channels, width, height, pixels)``. PGM/PPM parse
    natively (``_parse_netpbm``); PNG walks CRC-checked chunks,
    zlib-inflates IDAT, and unfilters scanlines (``_parse_png``); GIF
    LZW-decodes the index stream and maps the palette
    (``operators/gif._parse_gif``); JPEG runs the baseline DCT+Huffman
    decoder (``operators/jpeg._parse_jpeg``)."""
    if payload[:8] == PNG_SIGNATURE:
        return ("png", *_parse_png(payload))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from kafka_streams_common_spark.operators.gif import _parse_gif

        return ("gif", *_parse_gif(payload))
    if payload[:2] == b"\xff\xd8":
        from kafka_streams_common_spark.operators.jpeg import _parse_jpeg

        return ("jpeg", *_parse_jpeg(payload))
    if payload[:2] == BMP_MAGIC:
        return ("bmp", *_parse_bmp(payload))
    if payload[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF, either byte order (r14)
        from kafka_streams_common_spark.operators.tiff import parse_tiff_image

        _bo, channels, width, height, _n_strips, px = parse_tiff_image(payload)
        if px.ndim == 2:
            px = px[:, :, None]
        return ("tiff", channels, width, height, px)
    fmt = "pgm" if payload[1:2] == b"5" else "ppm"
    return (fmt, *_parse_netpbm(payload))


def _decode_image(payload: bytes) -> dict:
    """Decode one image payload → container format + dims + pixel
    statistics + normalized luminance histogram. Dispatches on magic
    number: PGM/PPM parse natively (``_parse_netpbm``); PNG — the first
    compressed-container branch (r12) — walks CRC-checked chunks,
    zlib-inflates IDAT, and unfilters scanlines (``_parse_png``); GIF —
    the second (r12) — LZW-decodes the index stream and maps the
    palette (``operators/gif._parse_gif``). A JPEG/codec-library branch
    would slot in here without touching callers.
    """
    fmt, channels, width, height, px = _parse_image(payload)
    # bit depth comes off the decoded dtype (uint16 ⇔ 16-bit PNG); luma
    # is over COLOR channels only — alpha types (2 = gray+A, 4 = RGBA)
    # keep the alpha plane as the last channel and it still feeds the
    # all-sample stats/histogram, so a dropped alpha plane breaks hashes
    bit_depth = 8 * px.dtype.itemsize
    if channels >= 3:
        lum = px[:, :, :3].mean(axis=2)
    else:
        lum = px[:, :, 0]
    flat = px.astype(np.int64).ravel()
    hist = np.bincount(
        flat * N_HIST_BINS // (1 << bit_depth), minlength=N_HIST_BINS
    ) / flat.size
    return {
        "format": fmt,
        "channels": channels,
        "bit_depth": bit_depth,
        "width": width,
        "height": height,
        "n_px": int(width * height),
        "mean_px": float(flat.mean()),
        "min_px": int(flat.min()),
        "max_px": int(flat.max()),
        "std_px": float(flat.std()),
        "mean_luma": float(lum.mean()),
        "hist": hist.tolist(),
    }


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("min_px", T.LongType(), True),
        T.StructField("max_px", T.LongType(), True),
        T.StructField("hist", T.ArrayType(T.DoubleType()), True),
    ]
)


def decode_image_features(images: DataFrame) -> DataFrame:
    """Arrow-batched REAL image decode over ``(doc_id, payload)``:
    ``mapInPandas`` streams per-partition Arrow batches through
    ``_decode_image`` — magic-number dispatch (PGM/PPM header parse, or
    PNG chunk-walk + inflate + unfilter) + raster stats per image, no
    driver collect, linear scaling with partition count. The production
    shape for decode/feature-extract stages at 100 TB: partition by
    file/doc, decode inside the batch, emit fixed-width features; a
    MIXED-format lake needs no routing shuffle — dispatch is per-row
    inside the batch.
    """

    def decode(did, p):
        yield {"doc_id": did, **_decode_image(bytes(p))}

    return row_kernel(images.select("doc_id", "payload"), decode, PIXEL_STATS_SCHEMA)


# the pre-r12 name (PGM was the only real container then); same decoder
decode_pgm_features = decode_image_features


def encode_compressed_image_mixed(docs: DataFrame) -> DataFrame:
    """Even doc_ids → genuine PNG (zlib DEFLATE), odd → genuine GIF87a
    (real variable-width LZW), in ONE Arrow pass — the single-scan
    spelling of the all-compressed mixed lake. Unlike the union-of-two-
    encoders spelling this needs no self-union of the source, so it is
    STREAMING-SAFE (one stateless ``mapInPandas`` over the stream).
    Same md5 geometry/raster arithmetic as every image encoder, over the
    ``doc_id`` and ``text`` columns; PNGs use zlib level 6."""
    import hashlib

    from kafka_streams_common_spark.operators.gif import _encode_gif_bytes

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
        if int(did) % 2 == 0:
            yield did, _encode_png_bytes(px, filter_seed=int(did))
        else:
            yield did, _encode_gif_bytes(px)

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


def encode_png(
    docs: DataFrame,
    level: int = 6,
    indexed: bool = False,
    channels: int = 1,
    interlaced: bool = False,
    alpha: bool = False,
    depth: int = 8,
) -> DataFrame:
    """Encode each document as a genuine PNG — REAL zlib DEFLATE (or
    deterministic stored blocks at ``level=0``), scanline filters
    cycling through all five spec types (seeded by ``doc_id``), 8-bit
    grayscale. Geometry and raster use the SAME md5 arithmetic as
    ``encode_pgm`` (``width = md5(text) % 16 + 1``, digest-cycled
    pixels), so a SQL oracle replays the DECODED content without ever
    replaying DEFLATE — compression is exactly the part the decoder
    must undo. Unlike the other encoders this one cannot be JVM-side
    expressions (no zlib in Catalyst), so it runs as an Arrow-batched
    ``mapInPandas`` stage — map-only, the same 100 TB shape as the
    decoders. Reads ``doc_id`` and ``text``.

    ``indexed=True`` (r13) writes COLOR TYPE 3: the digest bytes become
    palette INDEXES and a PLTE chunk carries the affine grayscale
    palette ``i → (7i+13) mod 256`` (``_AFFINE_GRAY_PALETTE``) — a
    non-identity permutation, so the decoder's palette lookup is
    load-bearing (pass-through indexes break the content hash) while
    the mapped luma stays one SQL expression.

    ``channels=3`` (r13) writes TRUECOLOR (color type 2): the digest
    bytes cycle to ``3·w·h`` RGB values — the PNG twin of
    ``encode_ppm`` (mutually exclusive with ``indexed``).
    ``interlaced=True`` (r13) writes the Adam7 SEVEN-pass layout — the
    same pixels, split into per-pass filtered sub-images, so the
    content oracle is unchanged while the decoder must run the full
    de-interlace scatter.

    ``alpha=True`` (r14) appends an ALPHA channel (color type 4 for
    gray, 6 for RGB — RGBA being the modal web PNG class): the sample
    stream simply grows to ``(channels+1)·w·h`` digest-cycled bytes
    with alpha as every last sample, so the SQL oracle replays the
    alpha plane with the same cycled-byte expression and a decoder
    that drops or misplaces the plane breaks the hash. ``depth=16``
    (r14) widens every sample to TWO big-endian digest bytes
    (``value = 256·b(2i-1) + b(2i)``) — the oracle replays the pairing
    directly, so a little-endian or high-byte-only decode breaks it."""
    import hashlib

    if indexed and (channels != 1 or alpha or depth != 8):
        raise ValueError("indexed PNG is 1-channel, opaque, 8-bit")
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if depth not in (8, 16):
        raise ValueError("depth must be 8 or 16")

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
        nch = channels + (1 if alpha else 0)
        n = nch * w * h * (depth // 8)
        raster = (bytes.fromhex(hx) * ((n + 15) // 16))[:n]
        if depth == 8:
            px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, nch)
        else:  # big-endian byte pairs → uint16 samples
            px = np.frombuffer(raster, dtype=">u2").astype(np.uint16).reshape(h, w, nch)
        yield did, _encode_png_bytes(
            px,
            level=level,
            filter_seed=int(did),
            palette=_AFFINE_GRAY_PALETTE if indexed else None,
            interlace=interlaced,
            alpha=alpha,
            depth=depth,
        )

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


def _le16(n) -> "F.Column":
    """Little-endian 2-byte encoding of an int Column — JVM-side (hex,
    byte-swap, unhex); the trick that lets binary RIFF headers be built
    with pure expressions."""
    h = F.lpad(F.lower(F.hex(n.cast("bigint"))), 4, "0")
    return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))


def _le32(n) -> "F.Column":
    """Little-endian 4-byte encoding of an int Column (see ``_le16``)."""
    h = F.lpad(F.lower(F.hex(n.cast("bigint"))), 8, "0")
    return F.unhex(
        F.concat(
            F.substring(h, 7, 2),
            F.substring(h, 5, 2),
            F.substring(h, 3, 2),
            F.substring(h, 1, 2),
        )
    )


WAV_SAMPLE_RATE = 8000


def encode_wav(
    docs: DataFrame,
    codec: str = "pcm",
) -> DataFrame:
    """Encode each document as a genuine RIFF/WAVE file (1 channel,
    8 kHz, 8-bit) — entirely JVM-side expressions, the audio twin of
    ``encode_pgm``. Sample count ``n = md5(text) % 241 + 16``; sample
    data: the 16-byte md5 digest cycled to ``n`` bytes. The output is a
    byte-exact WAV that Python's stdlib ``wave`` module (and any RIFF
    reader) opens — validated in pytest — so the DECODER must walk real
    RIFF chunks to recover the sample stream. Odd-length data chunks
    carry the RIFF word-alignment pad byte (chunk size stays the
    UNPADDED ``n`` per spec; strict readers require the pad).
    Reads ``doc_id`` and ``text``.

    ``codec="pcm"`` (default) writes WAVE_FORMAT_PCM (tag 1, 16-byte fmt
    chunk; container length ``44 + n + n%2``). ``codec="mulaw"`` — the
    COMPANDED branch, new in r12 — writes WAVE_FORMAT_MULAW (tag 7):
    the cycled digest bytes become G.711 μ-law CODES, and per the WAVE
    spec for non-PCM formats the fmt chunk grows the ``cbSize=0``
    extension field (18 bytes) and a ``fact`` chunk carries the sample
    count (container length ``58 + n + n%2``). ``codec="alaw"`` (r13)
    writes WAVE_FORMAT_ALAW (tag 6) with the same 18-byte fmt + fact
    layout — G.711's other half, with its own expansion arithmetic
    (XOR 0x55, segment/mantissa rebuild, MSB-positive sign). The
    decoder must read the format tag and EXPAND each code to its
    16-bit linear value — decompression is the part the oracle cannot
    get by passing bytes through.
    """
    if codec not in ("pcm", "mulaw", "alaw"):
        raise ValueError(f"unsupported WAV codec {codec!r} (pcm, mulaw or alaw)")
    text = F.col("text")
    n = (F.pmod(md5_int64(text), F.lit(241)) + F.lit(16)).cast("int")
    data = F.unhex(F.repeat(F.md5(text), 17)).substr(F.lit(1), n)
    rate = F.lit(WAV_SAMPLE_RATE)
    # RIFF chunk sizes count UNPADDED bytes; the riff size counts the pad
    # because the pad byte is part of the enclosing RIFF form's content
    pad = F.pmod(n, F.lit(2))
    if codec == "pcm":
        fmt_chunk = F.concat(
            F.encode(F.lit("fmt "), "utf-8"),
            _le32(F.lit(16)),  # fmt chunk size (no extension for PCM)
            _le16(F.lit(1)),  # audio format: PCM
            _le16(F.lit(1)),  # channels
            _le32(rate),  # sample rate
            _le32(rate),  # byte rate (rate * channels * bits/8)
            _le16(F.lit(1)),  # block align
            _le16(F.lit(8)),  # bits per sample
        )
        riff_size = n + pad + 36
    else:
        # non-PCM fmt chunks carry cbSize (=0) and SHOULD be followed by
        # a fact chunk with the per-channel sample count, per the spec
        fmt_chunk = F.concat(
            F.encode(F.lit("fmt "), "utf-8"),
            _le32(F.lit(18)),  # fmt chunk size incl. cbSize
            _le16(F.lit(7 if codec == "mulaw" else 6)),  # MULAW / ALAW tag
            _le16(F.lit(1)),  # channels
            _le32(rate),  # sample rate
            _le32(rate),  # byte rate (1 code byte per sample)
            _le16(F.lit(1)),  # block align
            _le16(F.lit(8)),  # bits per (coded) sample
            _le16(F.lit(0)),  # cbSize: no extra format bytes
            F.encode(F.lit("fact"), "utf-8"),
            _le32(F.lit(4)),
            _le32(n),  # number of sample frames
        )
        riff_size = n + pad + 50
    payload = F.concat(
        F.encode(F.lit("RIFF"), "utf-8"),
        _le32(riff_size),
        F.encode(F.lit("WAVE"), "utf-8"),
        fmt_chunk,
        F.encode(F.lit("data"), "utf-8"),
        _le32(n),
        data,
        # word-alignment pad for odd data chunks, per the RIFF spec
        F.unhex(F.repeat(F.lit("00"), pad)),
    )
    return docs.select(F.col("doc_id"), payload.alias("payload"))


def _mulaw_expand(codes: np.ndarray) -> np.ndarray:
    """Expand G.711 μ-law codes (uint8) to 16-bit linear samples, per
    the public CCITT recipe: complement, split sign/exponent/mantissa,
    rebuild the biased magnitude ``t = ((mantissa·8) + 132) << exponent``
    and subtract the bias (132 = 0x84). Pure integer arithmetic —
    replayable in SQL — and pinned in pytest against the published
    extremes (code 0x00 → -32124, 0x80 → +32124, 0xFF/0x7F → 0)."""
    u = (~codes.astype(np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _alaw_expand(codes: np.ndarray) -> np.ndarray:
    """Expand G.711 A-law codes (uint8) to 16-bit linear samples, per
    the public CCITT recipe: XOR 0x55 (the even-bit inversion applied
    on the wire), split sign/segment/mantissa, rebuild the magnitude —
    segment 0: ``(mantissa<<4) + 8``; segment s ≥ 1:
    ``((mantissa<<4) + 0x108) << (s-1)`` — with the MSB meaning
    POSITIVE (opposite of μ-law's complemented convention). Pure
    integer arithmetic — replayable in SQL — and pinned in pytest
    against the published extremes (code 0xAA → +32256, 0x2A →
    -32256, 0xD5 → +8, 0x55 → -8; A-law has no true zero)."""
    a = codes.astype(np.int64) ^ 0x55
    mant = a & 0x0F
    seg = (a >> 4) & 0x07
    t = np.where(
        seg == 0,
        (mant << 4) + 8,
        ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
    )
    return np.where(a & 0x80, t, -t)


def _parse_wav_full(payload: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Parse a RIFF/WAVE container per the public spec: RIFF magic +
    size + WAVE form type, then a chunk walk (id, LE32 size, body,
    even-byte padding) collecting ``fmt ``, ``fact`` and ``data``.
    Formats: 1 (PCM; 8-bit unsigned or 16-bit signed LE) and 7
    (μ-law — the companded branch: 8-bit codes on the wire, EXPANDED
    to 16-bit linear via ``_mulaw_expand``; a ``fact`` chunk, when
    present, is validated against the recovered frame count). Returns
    ``(fmt_tag, channels, sample_rate, wire_bits, samples)`` with
    ``samples`` shaped ``(n_frames, channels)`` as int64 — LINEAR
    values (μ-law already expanded).
    """
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:12]!r}")
    fmt = data = fact = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated chunk {cid!r}: {len(body)} of {size} bytes")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact":
            fact = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 1:
        if bits == 8:
            samples = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
        elif bits == 16:
            samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
        else:
            raise ValueError(f"unsupported sample width {bits} bits")
    elif audio_format == 7:
        if bits != 8:
            raise ValueError(f"μ-law codes are 8-bit, fmt claims {bits}")
        samples = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif audio_format == 6:
        if bits != 8:
            raise ValueError(f"A-law codes are 8-bit, fmt claims {bits}")
        samples = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
    else:
        raise ValueError(
            f"unsupported audio format {audio_format} (PCM/μ-law/A-law only)"
        )
    if channels < 1 or samples.size % channels:
        raise ValueError(f"data size {samples.size} not divisible by {channels} channels")
    frames = samples.reshape(-1, channels)
    if fact is not None and len(fact) >= 4:
        n_fact = int.from_bytes(fact[0:4], "little")
        if n_fact != frames.shape[0]:
            raise ValueError(f"fact chunk claims {n_fact} frames, data has {frames.shape[0]}")
    return audio_format, channels, sample_rate, bits, frames


def _parse_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """The pre-r12 4-tuple form of ``_parse_wav_full`` (format tag
    dropped; μ-law samples arrive already expanded to linear)."""
    _tag, channels, rate, bits, frames = _parse_wav_full(payload)
    return channels, rate, bits, frames


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("mean_amp", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def decode_wav_features(audio: DataFrame) -> DataFrame:
    """Arrow-batched REAL audio decode over ``(doc_id, payload)``: walk
    the RIFF chunks, recover the PCM stream, compute per-clip features
    (duration, mean amplitude, RMS energy, peak, zero-crossing count —
    crossings of the 8-bit midpoint 128 / signed zero). The audio twin
    of ``decode_pgm_features`` with the same 100 TB posture: partition
    by clip, decode inside the Arrow batch, emit fixed-width features.
    """

    def decode(did, p):
        tag, channels, rate, bits, s = _parse_wav_full(bytes(p))
        mono = s.mean(axis=1) if channels > 1 else s[:, 0].astype(np.float64)
        unsigned8 = tag == 1 and bits == 8
        centered = mono - (128.0 if unsigned8 else 0.0)
        zc = int(np.sum(centered[:-1] * centered[1:] < 0))
        # peak: PCM 8-bit samples are unsigned (0..255) so max IS the
        # peak level; signed samples (PCM-16, expanded μ-law) report
        # max |sample| — a negative-dominant clip would otherwise
        # under-report
        yield {
            "doc_id": did,
            "channels": channels,
            "sample_rate": rate,
            "n_samples": s.shape[0],
            "duration_ms": s.shape[0] * 1000.0 / rate,
            "mean_amp": float(mono.mean()),
            "rms": float(np.sqrt(np.mean(mono * mono))),
            "peak": int(s.max() if unsigned8 else np.abs(s).max()),
            "zero_crossings": zc,
        }

    return row_kernel(audio.select("doc_id", "payload"), decode, AUDIO_FEATURES_SCHEMA)


AUDIO_CODEC_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("mean_lin", T.DoubleType(), True),
        T.StructField("rms_lin", T.DoubleType(), True),
        T.StructField("peak_lin", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
    ]
)


def decode_audio_codec_features(audio: DataFrame) -> DataFrame:
    """Arrow-batched audio decode over a MIXED-codec ``(doc_id,
    payload)`` lake: per-row format-tag dispatch (WAVE_FORMAT_PCM /
    WAVE_FORMAT_ALAW / WAVE_FORMAT_MULAW — no routing shuffle),
    companded codes expanded to 16-bit linear inside the batch,
    per-clip stats over the LINEAR stream. The recovered ``codec`` column gates the dispatch; the
    linear stats gate the expansion arithmetic. Zero crossings count
    sign changes around the stream midpoint (128 for unsigned PCM-8,
    0 for signed linear)."""

    def decode(did, p):
        tag, channels, rate, bits, s = _parse_wav_full(bytes(p))
        mono = s.mean(axis=1) if channels > 1 else s[:, 0].astype(np.float64)
        unsigned8 = tag == 1 and bits == 8
        centered = mono - (128.0 if unsigned8 else 0.0)
        yield {
            "doc_id": did,
            "codec": {1: "pcm", 6: "alaw", 7: "mulaw"}[tag],
            "sample_rate": rate,
            "n_samples": s.shape[0],
            "mean_lin": float(mono.mean()),
            "rms_lin": float(np.sqrt(np.mean(mono * mono))),
            "peak_lin": int(s.max() if unsigned8 else np.abs(s).max()),
            "zero_crossings": int(np.sum(centered[:-1] * centered[1:] < 0)),
        }

    return row_kernel(
        audio.select("doc_id", "payload"), decode, AUDIO_CODEC_FEATURES_SCHEMA
    )


def encode_y4m(docs: DataFrame) -> DataFrame:
    """Encode each document as a genuine YUV4MPEG2 (Y4M) video clip —
    the public raw-frame container (ASCII stream header ``YUV4MPEG2
    W<w> H<h> F<fps> ... C<colourspace>\\n``, then per frame an ASCII
    ``FRAME\\n`` marker + raw planes) — entirely JVM-side expressions.
    Reads ``doc_id`` and ``text``.

    Geometry: ``w/h = md5 % 8 + 1``; ``n_frames = md5(text||'|nf') % 6
    + 2``; colourspace ``Cmono`` (one Y plane per frame); frame ``f``'s
    raster is the md5 digest cycled continuously across the whole clip
    (bytes ``[f·w·h, (f+1)·w·h)``). The per-frame interleave is an
    ``F.aggregate`` fold over ``sequence(0, nf-1)`` with a binary
    accumulator — no Python in the encode path.
    """
    text = F.col("text")
    w = (F.pmod(md5_int64(text), F.lit(8)) + 1).cast("int")
    h = (F.pmod(md5_int64(F.reverse(text)), F.lit(8)) + 1).cast("int")
    nf = (
        F.pmod(md5_int64(F.concat(text, F.lit("|nf"))), F.lit(6)) + 2
    ).cast("int")
    fsz = (w * h).cast("int")
    # 28 × 16-byte digest = 448 bytes ≥ max clip size 7·8·8
    raster = F.unhex(F.repeat(F.md5(text), 28))
    header = F.encode(
        F.format_string("YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n", w, h), "utf-8"
    )
    frame_marker = F.encode(F.lit("FRAME\n"), "utf-8")
    body = F.aggregate(
        F.sequence(F.lit(0), nf - 1),
        F.lit(b""),
        lambda acc, f: F.concat(
            acc, frame_marker, raster.substr(f * fsz + 1, fsz)
        ),
    )
    return docs.select(
        F.col("doc_id"), F.concat(header, body).alias("payload")
    )


def _parse_y4m(payload: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Parse a YUV4MPEG2 stream per the public spec: ASCII header line
    with space-separated tagged params (W/H/C...), then per frame an
    ASCII ``FRAME`` line (optional params) + raw planes. ``Cmono``
    (Y-only) and ``C420``-family (Y + quarter-size U,V; luma stats use
    the Y plane) are supported. Returns ``(width, height, frames)``
    with each frame the ``(h, w)`` Y plane.
    """
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError(f"not a YUV4MPEG2 stream: {payload[:12]!r}")
    width = height = None
    colourspace = "C420"  # the spec's default when the C tag is absent
    for tok in payload[:nl].split(b" ")[1:]:
        if tok.startswith(b"W"):
            width = int(tok[1:])
        elif tok.startswith(b"H"):
            height = int(tok[1:])
        elif tok.startswith(b"C"):
            colourspace = tok.decode("ascii")
    if not width or not height:
        raise ValueError("missing W or H in stream header")
    if colourspace == "Cmono":
        frame_size = width * height
    elif colourspace.startswith("C420"):
        frame_size = width * height + 2 * ((width // 2) * (height // 2))
    else:
        raise ValueError(f"unsupported colourspace {colourspace}")
    frames: list[np.ndarray] = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"expected FRAME marker at byte {pos}")
        raw = payload[fnl + 1 : fnl + 1 + frame_size]
        if len(raw) != frame_size:
            raise ValueError(f"truncated frame: {len(raw)} of {frame_size} bytes")
        frames.append(
            np.frombuffer(raw[: width * height], dtype=np.uint8).reshape(
                height, width
            )
        )
        pos = fnl + 1 + frame_size
    return width, height, frames


VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("min_luma", T.LongType(), True),
        T.StructField("max_luma", T.LongType(), True),
        T.StructField("diff_prev", T.DoubleType(), True),
    ]
)


def decode_y4m_frame_stats(video: DataFrame) -> DataFrame:
    """Arrow-batched REAL video decode over ``(doc_id, payload)``: parse
    the Y4M container, then per frame emit luma stats plus the
    mean-luma delta vs the previous frame — the scene-change /
    shot-boundary primitive of every video curation pipeline. One
    output row per (clip, frame); temporal state (previous frame) lives
    inside the batch kernel, never in a shuffle.
    """

    def decode(did, p):
        w, h, frames = _parse_y4m(bytes(p))
        prev = None
        for i, fr in enumerate(frames):
            m = float(fr.astype(np.float64).mean())
            yield {
                "doc_id": did,
                "frame_idx": i,
                "width": w,
                "height": h,
                "mean_luma": m,
                "min_luma": int(fr.min()),
                "max_luma": int(fr.max()),
                "diff_prev": None if prev is None else abs(m - prev),
            }
            prev = m

    return row_kernel(
        video.select("doc_id", "payload"), decode, VIDEO_FRAME_STATS_SCHEMA
    )


def _ahash_bands(payload: bytes) -> list[int]:
    """Perceptual average-hash (aHash) of one image, as FOUR 16-bit band
    values (the packed 64-bit form would need sign games in BIGINT
    engines; bands are what the near-dup join keys on anyway).

    The public aHash recipe: downsample to 8×8 (nearest-neighbor over
    the decoded luminance), threshold each sample at the 64-sample mean,
    pack bits row-major. Bit i (r=i//8, c=i%8) samples pixel
    ``(r·h)//8, (c·w)//8`` — exact integer arithmetic, reproducible in
    SQL. Band k packs bits 16k..16k+15 (bit j of band = sample 16k+j).
    """
    channels, width, height, px = _parse_netpbm(payload)
    return _ahash_bands_px(channels, width, height, px)


def _ahash_bands_px(
    channels: int, width: int, height: int, px: np.ndarray
) -> list[int]:
    """The aHash core over DECODED pixels — container-agnostic, so any
    lossless image parse (PGM/PPM, PNG, GIF) feeds the same signature
    arithmetic and the same SQL replay."""
    lum = px.astype(np.int64).mean(axis=2) if channels == 3 else px[:, :, 0].astype(np.int64)
    rows = (np.arange(8) * height) // 8
    cols = (np.arange(8) * width) // 8
    s = lum[np.ix_(rows, cols)].ravel()  # 64 samples, row-major
    bits = s >= s.mean()
    weights = 1 << np.arange(16, dtype=np.int64)
    return [int((bits[16 * k : 16 * k + 16] * weights).sum()) for k in range(4)]


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("b0", T.LongType(), True),
        T.StructField("b1", T.LongType(), True),
        T.StructField("b2", T.LongType(), True),
        T.StructField("b3", T.LongType(), True),
    ]
)


def ahash_signatures(images: DataFrame) -> DataFrame:
    """Arrow-batched aHash over ``(doc_id, payload)`` — decodes each
    image (REAL container parse) and emits the 4×16-bit band signature.
    ``fan_out`` widens a narrow local scan so the decode kernel uses
    every core (no-op on a many-split production table)."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    images = fan_out(images)

    def signature(did, p):
        yield (did, *_ahash_bands(bytes(p)))

    return row_kernel(images.select("doc_id", "payload"), signature, AHASH_SCHEMA)


def ahash_near_dup_pairs(
    images: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash — the multimodal
    twin of SimHash dedup, with the same 100 TB shape: band-equality
    candidate generation (pigeonhole: hamming ≤ 3 over 64 bits ⇒ at
    least one of 4 16-bit bands equal — EXACT, no recall loss), then
    hamming verification on candidates only. Never an all-pairs join;
    candidate volume is Σ(occupancy²) per band bucket.

    ``max_bucket`` caps hot buckets (census → filter → join, the
    ``minhash_lsh_pairs``/``simhash_pairs`` pattern): an image corpus
    at scale always carries a MODAL aHash class — constant-color
    thumbnails and letterboxed frames hash to all-zeros/all-ones bands —
    whose bucket enumerates m² candidates. Those candidates pass the
    hamming verify (they ARE perceptual near-dups of each other), so
    the cap trades the m² pair list for bounded work: route modal
    classes to exact byte/hash dedup instead (their full 64-bit hashes
    are identical, a plain groupBy). Default ``None`` keeps the
    registered query bit-identical to its SQL oracle. SCALE.md's
    modal-class hot-bucket probe records the asymmetry;
    ``test_ahash_near_dup_detects_perturbed_image`` pins the cap.

    Returns ``(a_doc, b_doc, hamming)`` with ``a_doc < b_doc``.
    """
    return banded_hamming_pairs(ahash_signatures(images), max_hamming, max_bucket)


def banded_hamming_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The shared pigeonhole join behind every 64-bit perceptual-hash
    near-dup operator (image aHash, audio envelope hash): input is a
    ``(doc_id, b0..b3)`` signature table (4×16-bit bands); output is
    ``(a_doc, b_doc, hamming)`` with ``a_doc < b_doc``, hamming ≤
    ``max_hamming``. Band-equality candidates (exact for hamming ≤ 3 —
    a pair differing in ≤3 bits cannot differ in all 4 bands), hamming
    verify on candidates only; ``max_bucket`` prunes hot buckets
    (census → filter → join; see ``ahash_near_dup_pairs`` for the
    semantics trade).

    ``group_cols`` (r13) scopes the self-join: extra signature columns
    (e.g. ``modality``) become part of the band bucket key, the census
    key, and the output, so ONE shuffle serves a partitioned family of
    near-dup joins — candidates never cross groups, and the plan is the
    same banded exchange it would be for a single group. Default ``()``
    keeps the established single-group behavior bit-identical."""
    from kafka_streams_common_spark.operators.dedup import _bucket_pairs, _cap_buckets

    if not 0 <= max_hamming <= 3:
        raise ValueError("4 bands of 16 bits guarantee recall only for hamming <= 3")
    gcols = list(group_cols)
    # materialize the Arrow decode+signature kernel ONCE: its map-only
    # output feeds both sides of the band self-join and (when capping)
    # the bucket census — without this the decode re-runs per consumer
    # (the minhash/simhash signature-checkpoint rationale)
    sig = sig.localCheckpoint(eager=True)
    bands = sig.select(
        "doc_id",
        *gcols,
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"), F.col(f"b{k}").alias("band_val")
                    )
                    for k in range(4)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id", *gcols, "b0", "b1", "b2", "b3", "band.band_idx", "band.band_val"
    )
    keys = [*gcols, "band_idx", "band_val"]
    bands = _cap_buckets(bands, keys, max_bucket)
    hamming = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}"))) for k in range(4)
    )
    # hamming-verify BEFORE the pair dedup: the verify is a map-side
    # expression on the join output either way, but filtering first
    # means the dropDuplicates exchange carries only VERIFIED pairs —
    # on ambient (near-uniform) corpora band collisions outnumber true
    # near-dups by orders of magnitude, so this is the smaller shuffle.
    # Safe because hamming depends only on the full signatures, not on
    # which band produced the collision (same value on every duplicate).
    return (
        _bucket_pairs(bands, keys, "doc_id")
        .select(
            *[F.col(f"a.{g}").alias(g) for g in gcols],
            F.col("a.doc_id").alias("a_doc"),
            F.col("b.doc_id").alias("b_doc"),
            hamming.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([*gcols, "a_doc", "b_doc"])  # a pair may collide in >1 band
    )


def _audio_envelope_bands(payload: bytes) -> list[int]:
    """Temporal-envelope hash of one audio clip, as four 16-bit band
    values — the audio twin of ``_ahash_bands``: REAL-decode the
    RIFF/WAVE container, downsample the mono amplitude curve to 64
    points (nearest-neighbor: point j = sample ``(j·n)//64``),
    threshold each point at the 64-point mean, pack bits in time order
    (band k packs points 16k..16k+15, bit j of band = point 16k+j).
    Robust to playback-speed/length perturbation the way aHash is to
    resizing: the envelope SHAPE drives the bits. Exact integer/IEEE
    arithmetic throughout (the 64-point sum is exact in float64), so
    the hash is replayable in SQL."""
    channels, _rate, _bits, s = _parse_wav(payload)
    mono = s.mean(axis=1) if channels > 1 else s[:, 0].astype(np.float64)
    n = mono.shape[0]
    pts = mono[(np.arange(64) * n) // 64]
    bits = pts >= pts.sum() / 64.0
    weights = 1 << np.arange(16, dtype=np.int64)
    return [int((bits[16 * k : 16 * k + 16] * weights).sum()) for k in range(4)]


def audio_envelope_signatures(audio: DataFrame) -> DataFrame:
    """Arrow-batched temporal-envelope hash over ``(doc_id, payload)``
    WAV clips — decodes each container (RIFF chunk walk) and emits the
    4×16-bit band signature (``AHASH_SCHEMA`` shape). ``fan_out``
    widens a narrow local scan so the decode kernel uses every core
    (no-op on a many-split production table)."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    audio = fan_out(audio)

    def signature(did, p):
        yield (did, *_audio_envelope_bands(bytes(p)))

    return row_kernel(audio.select("doc_id", "payload"), signature, AHASH_SCHEMA)


def audio_near_dup_pairs(
    audio: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Audio near-duplicate pairs by temporal-envelope hash — dedup
    across the third modality, completing the image/text/audio triad
    on the SAME 100 TB discipline (``banded_hamming_pairs``): map-only
    Arrow decode+signature pass, pigeonhole band join (exact for
    hamming ≤ 3), hamming verify on candidates only, and the
    ``max_bucket`` hot-bucket cap available from day one (silence-only
    and constant-tone clips are audio's modal class — identical
    envelopes, route them to exact dedup). Returns
    ``(a_doc, b_doc, hamming)`` with ``a_doc < b_doc``."""
    return banded_hamming_pairs(
        audio_envelope_signatures(audio), max_hamming, max_bucket
    )


def _video_envelope_bands(payload: bytes) -> list[int]:
    """Spatio-temporal envelope hash of one video clip, as four 16-bit
    band values — the video member of the perceptual-hash family
    (``_ahash_bands`` for images, ``_audio_envelope_bands`` for audio):
    REAL-decode the YUV4MPEG2 container (stream header + FRAME walk),
    concatenate the decoded luma planes in frame order into one stream
    of ``n = nf·w·h`` values, downsample to 64 points
    (nearest-neighbor: point j = value ``(j·n)//64``), threshold each
    point at the 64-point mean, pack bits in stream order (band k packs
    points 16k..16k+15). The stream order makes the hash sensitive to
    frame ORDER (a shuffled clip hashes differently) while staying
    robust to frame-rate/resolution perturbation the way aHash is to
    resizing. The 64-point mean divides by a power of two, so the
    threshold is exact IEEE arithmetic — replayable in SQL."""
    width, height, frames = _parse_y4m(payload)
    stream = np.concatenate([f.reshape(-1) for f in frames]).astype(np.float64)
    n = stream.shape[0]
    pts = stream[(np.arange(64) * n) // 64]
    bits = pts >= pts.sum() / 64.0
    weights = 1 << np.arange(16, dtype=np.int64)
    return [int((bits[16 * k : 16 * k + 16] * weights).sum()) for k in range(4)]


def video_envelope_signatures(video: DataFrame) -> DataFrame:
    """Arrow-batched spatio-temporal envelope hash over ``(doc_id,
    payload)`` Y4M clips — decodes each container (header + FRAME walk)
    and emits the 4×16-bit band signature (``AHASH_SCHEMA`` shape).
    ``fan_out`` widens a narrow local scan so the decode kernel uses
    every core (no-op on a many-split production table)."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    video = fan_out(video)

    def signature(did, p):
        yield (did, *_video_envelope_bands(bytes(p)))

    return row_kernel(video.select("doc_id", "payload"), signature, AHASH_SCHEMA)


def video_near_dup_pairs(
    video: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Video near-duplicate pairs by spatio-temporal envelope hash —
    the near-dup family now covers text (MinHash/SimHash), images
    (aHash), audio (temporal envelope) AND video, all on the SAME
    100 TB discipline (``banded_hamming_pairs``): map-only Arrow
    decode+signature pass, pigeonhole band join (exact for hamming
    ≤ 3), hamming verify on candidates only, and the ``max_bucket``
    hot-bucket cap available from day one (still frames / black clips
    are video's modal class — constant luma streams hash identically;
    route them to exact dedup). Returns ``(a_doc, b_doc, hamming)``
    with ``a_doc < b_doc``."""
    return banded_hamming_pairs(
        video_envelope_signatures(video), max_hamming, max_bucket
    )


CROSS_MODAL_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), True),
        T.StructField("b0", T.LongType(), True),
        T.StructField("b1", T.LongType(), True),
        T.StructField("b2", T.LongType(), True),
        T.StructField("b3", T.LongType(), True),
    ]
)


def cross_modal_signatures(lake: DataFrame) -> DataFrame:
    """ONE Arrow decode pass over a MIXED binary lake — the production
    data-curation shape: dispatch each row on its container MAGIC BYTES
    (Netpbm/PNG/GIF image via ``_parse_image`` / RIFF-WAVE audio /
    YUV4MPEG2 video), run the modality's perceptual-hash kernel
    (``_ahash_bands_px`` / ``_audio_envelope_bands`` /
    ``_video_envelope_bands``), and emit ``(doc_id, modality,
    b0..b3)``. Map-only, no routing shuffle — the per-row dispatch is
    the same pattern as ``_decode_image``, and all three LOSSLESS image
    containers feed one aHash. The recovered ``modality`` column gates
    the dispatch itself in the registered query's oracle."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    lake = fan_out(lake)

    def signature(did, p):
        payload = bytes(p)
        if payload[:4] == b"RIFF":
            modality, bands = "audio", _audio_envelope_bands(payload)
        elif payload[:9] == b"YUV4MPEG2":
            modality, bands = "video", _video_envelope_bands(payload)
        elif (
            payload[:2] in (b"P5", b"P6")
            or payload[:8] == PNG_SIGNATURE
            or payload[:6] in (b"GIF87a", b"GIF89a")
        ):
            # every LOSSLESS image container recovers the same
            # md5-derived raster, so one aHash serves all three
            _fmt, channels, w, h, px = _parse_image(payload)
            modality, bands = "image", _ahash_bands_px(channels, w, h, px)
        else:
            raise ValueError(f"unknown container magic {payload[:9]!r}")
        yield (did, modality, *bands)

    return row_kernel(
        lake.select("doc_id", "payload"), signature, CROSS_MODAL_SIG_SCHEMA
    )


def cross_modal_near_dup_pairs(
    lake: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Unified near-duplicate report over a mixed image/audio/video lake
    — the composition a data-curation user actually runs: one decode +
    signature scan (``cross_modal_signatures``, localCheckpoint'd once
    inside the join), then ONE banded pigeonhole self-join scoped by
    ``modality`` via ``banded_hamming_pairs(group_cols=("modality",))``
    — strictly fewer shuffles than three separate per-modality joins,
    with identical semantics (candidates never cross modalities because
    the modality is part of the bucket key). ``max_bucket`` caps hot
    buckets per (modality, band) — each modality's modal class (flat
    thumbnails, silence, still clips) is pruned independently. Returns
    ``(modality, a_doc, b_doc, hamming)`` with ``a_doc < b_doc``."""
    return banded_hamming_pairs(
        cross_modal_signatures(lake),
        max_hamming,
        max_bucket,
        group_cols=("modality",),
    )


def sample_frames(
    multimodal: DataFrame,
    frame_size: int = 64,
    every_k: int = 4,
) -> DataFrame:
    """Frame sampling over the binary payload — the video-pipeline shape:
    split the payload into fixed-size frames, keep every k-th.

    Pure built-in expressions (substring over binary via sequence/transform)
    — the sampling plan is JVM-side; a real video decoder would replace the
    byte-windowing with keyframe extraction inside a ``mapInPandas`` stage
    but keep this exact output schema ``(doc_id, frame_idx, frame binary)``.
    """
    n_frames = F.ceil(F.octet_length("payload") / F.lit(frame_size)).cast("int")
    idxs = F.filter(
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
        lambda i: i % every_k == 0,
    )
    return multimodal.select(
        "doc_id",
        F.explode(idxs).alias("frame_idx"),
        F.expr(f"substring(payload, frame_idx * {frame_size} + 1, {frame_size})").alias(
            "frame"
        ),
    )


def extract_byte_histogram_features(multimodal: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    ``mapInPandas`` streams per-partition Arrow batches through Python —
    the production pattern for decode/feature-extract stages: no driver
    collect, linear scaling with partition count, vectorizable batch bodies.
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def extract(did, meta, p):
        yield did, meta["width"], meta["height"], _decode_payload(bytes(p))

    return row_kernel(
        multimodal.select("doc_id", "meta", "payload"), extract, out_schema
    )
