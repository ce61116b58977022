"""GIF87a codec — the second REAL compressed-image branch (after PNG).

Original implementation of the public GIF87a specification (CompuServe,
1987; the LZW variant is the GIF flavor: variable-width codes packed
LSB-first, CLEAR/EOI control codes, 12-bit table cap): header + logical
screen descriptor + global color table + image descriptor + LZW-coded
index stream in ≤255-byte sub-blocks + trailer. Scope mirrors the PNG
branch (``operators/multimodal._parse_png``): 8-bit indexed pixels over
a grayscale identity palette, non-interlaced, single image frame.

Two encode framings, exactly like PNG's ``level=0`` vs ``level=6``:

- ``uncompressed=True`` — the classic "uncompressed GIF" technique: a
  CLEAR code before every pixel code keeps the dictionary empty and the
  code width pinned at 9 bits, so the container's byte length is pure
  arithmetic (``794 + d + ceil(d/255)`` with ``d = (18n+16)//8`` for
  ``n`` pixels) and a SQL oracle can recompute it — the format-census
  leg.
- ``uncompressed=False`` — REAL greedy LZW with dictionary growth,
  variable code widths (9→12 bits) and table-full CLEAR resets; the
  md5-cycled rasters repeat with period 16, so phrases genuinely grow
  and the stream genuinely compresses — the content-decode leg.

The decoder handles both (they are the same spec), plus GIF89a headers
and extension blocks, and is exercised by: a hand-built known-bytes GIF
(bit-level unpacking pinned independently of the encoder), hypothesis
round-trips over the filter/dim space, and a >4096-entry stream that
forces the table-full CLEAR reset (tests/test_gif.py).

Reference parity note: the reference engine (kafka-streams-common) has
no binary-decode surface at all — this tier is part of the mandated
training-data-pipeline extension, not a port.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

GIF_MAGICS = (b"GIF87a", b"GIF89a")

_MCS = 8  # minimum LZW code size for 8-bit indexed pixels
_CLEAR = 1 << _MCS  # 256
_EOI = _CLEAR + 1  # 257
_FIRST = _EOI + 1  # 258
_MAX_CODE = 4096  # 12-bit table cap per the spec


class _BitPacker:
    """LSB-first variable-width code packer (the GIF bit order: the
    first code occupies the low bits of the first byte)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_compress(data: bytes, uncompressed: bool = False) -> bytes:
    """GIF-flavor LZW over 8-bit symbols → packed code bytes.

    Greedy longest-match with the GIF sync rules: the code WIDTH bumps
    after the encoder defines entry ``(1 << width) - 1`` — i.e. when
    ``next_code == (1 << width) + 1`` — because the decoder defines each
    entry one code later than the encoder; at 4096 entries a CLEAR is
    emitted and the dictionary resets. ``uncompressed=True`` emits a
    CLEAR before every pixel so no entry is ever defined and the width
    stays ``_MCS + 1`` (deterministic output length: ``2n+1`` 9-bit
    codes for ``n`` symbols)."""
    pk = _BitPacker()
    if not data:
        pk.put(_CLEAR, _MCS + 1)
        pk.put(_EOI, _MCS + 1)
        return pk.finish()
    if uncompressed:
        pk.put(_CLEAR, _MCS + 1)
        for i, sym in enumerate(data):
            if i:
                pk.put(_CLEAR, _MCS + 1)
            pk.put(sym, _MCS + 1)
        pk.put(_EOI, _MCS + 1)
        return pk.finish()
    table: dict[bytes, int] = {}
    next_code = _FIRST
    width = _MCS + 1
    pk.put(_CLEAR, width)
    w = data[0:1]
    for i in range(1, len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w = w + c
            continue
        pk.put(table[w] if len(w) > 1 else w[0], width)
        if next_code < _MAX_CODE:
            table[w + c] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            pk.put(_CLEAR, width)
            table.clear()
            next_code = _FIRST
            width = _MCS + 1
        w = c
    pk.put(table[w] if len(w) > 1 else w[0], width)
    pk.put(_EOI, width)
    return pk.finish()


def _lzw_decompress(codebytes: bytes, expected: int | None = None) -> bytes:
    """Inverse of ``_lzw_compress`` per the spec: LSB-first unpacking,
    CLEAR resets, the KwKwK case (``code == next_code``), width bump
    when the table reaches ``1 << width`` entries, no growth past 4096.
    ``expected`` (the pixel count from the image descriptor) lets the
    stream stop cleanly even if EOI is missing."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = _MCS + 1
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(codebytes):
                if expected is not None and len(out) >= expected:
                    return bytes(out)
                raise ValueError("LZW stream ended without EOI")
            acc |= codebytes[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == _CLEAR:
            table = table[:_FIRST]
            width = _MCS + 1
            prev = None
            continue
        if code == _EOI:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[0:1]  # the KwKwK case
        else:
            raise ValueError(f"LZW code {code} out of range (table={len(table)})")
        out += entry
        if expected is not None and len(out) > expected:
            # cap DURING decode: a crafted stream can otherwise expand
            # ~4096× its input before the caller's raster check runs
            raise ValueError(
                f"decoded {len(out)}+ pixels for a raster declaring {expected} pixels"
            )
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[0:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    raise AssertionError("unreachable")


def _subblocks(data: bytes) -> bytes:
    """Split a byte stream into GIF data sub-blocks (length-prefixed,
    ≤255 bytes each) with the zero-length terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)
    return bytes(out)


_GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))

# the NON-identity affine gray palette i → (7i+13) mod 256 — shared with
# the indexed-PNG branch (operators/multimodal._AFFINE_GRAY_PALETTE);
# used as the LOCAL color table of odd composite frames so the per-frame
# palette lookup is load-bearing (index pass-through breaks content)
_AFFINE_PALETTE = bytes(v for i in range(256) for v in ((7 * i + 13) % 256,) * 3)

# modular inverse of 7 mod 256 (7·183 = 1281 ≡ 1): luma → affine index
_INV7 = 183


def _gif_interlace_order(h: int) -> list[int]:
    """The GIF four-pass row interlacement per the spec: rows 0,8,16…,
    then 4,12…, then 2,6,10…, then the odd rows — the order rows are
    STORED in the stream."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _encode_gif_bytes(
    px: np.ndarray, uncompressed: bool = False, interlaced: bool = False
) -> bytes:
    """Encode an ``(h, w, 1)`` uint8 array as a spec-compliant GIF87a:
    header, logical screen descriptor (global color table flag set,
    8-bit color resolution, 256-entry table), grayscale identity
    palette, image descriptor at (0,0), LZW-coded index stream in
    sub-blocks, trailer. ``interlaced`` (r13) stores the rows in the
    spec's four-pass order with the descriptor's interlace flag set —
    same pixels, so content oracles are unchanged while the decoder
    must run the row de-interlace."""
    h, w, channels = px.shape
    if channels != 1:
        raise ValueError("GIF branch encodes 8-bit grayscale (1 channel) only")
    lsd = (
        w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0xF7, 0x00, 0x00])  # GCT present, 8-bit res, 256 entries
    )
    desc = (
        b"\x2c"
        + (0).to_bytes(2, "little")
        + (0).to_bytes(2, "little")
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + (b"\x40" if interlaced else b"\x00")  # no local table; interlace flag
    )
    raster = px[:, :, 0]
    if interlaced:
        raster = raster[_gif_interlace_order(h)]
    codes = _lzw_compress(raster.reshape(-1).tobytes(), uncompressed=uncompressed)
    return (
        b"GIF87a"
        + lsd
        + _GRAY_PALETTE
        + desc
        + bytes([_MCS])
        + _subblocks(codes)
        + b"\x3b"
    )


def _parse_gif(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a GIF87a/89a container per the public spec: header,
    logical screen descriptor, global color table, block walk (image
    descriptors, 0x21 extensions skipped by sub-block framing, 0x3B
    trailer), LZW-decode of the first image's index stream, palette
    lookup. Returns ``(channels, width, height, pixels)`` shaped
    ``(h, w, channels)`` — the ``_parse_netpbm`` contract. A grayscale
    identity palette yields 1 channel; any other palette yields the
    mapped RGB (3 channels). Interlaced images and local color tables
    are out of scope (rejected), like interlaced PNGs."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError(f"not a GIF payload: {payload[:6]!r}")
    if len(payload) < 13:
        raise ValueError("truncated logical screen descriptor")
    flags = payload[10]
    pos = 13
    palette = None
    if flags & 0x80:
        gct_len = 3 * (2 << (flags & 0x07))
        palette = np.frombuffer(payload[pos : pos + gct_len], dtype=np.uint8)
        if palette.size != gct_len:
            raise ValueError("truncated global color table")
        palette = palette.reshape(-1, 3)
        pos += gct_len
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {pos}")
        if pos + 10 > len(payload):
            raise ValueError("truncated image descriptor")
        left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        if left or top:
            # explicit-rejection posture, same as interlace / local palettes:
            # a conforming foreign GIF offset within the logical screen would
            # otherwise decode silently as if anchored at (0, 0)
            raise ValueError(f"offset image descriptors not supported ({left},{top})")
        w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        if w * h > (1 << 28):
            raise ValueError(f"raster {w}x{h} exceeds the 256M-pixel bound")
        iflags = payload[pos + 9]
        if iflags & 0x80:
            raise ValueError("local color tables not supported")
        interlaced = bool(iflags & 0x40)
        pos += 10
        mcs = payload[pos]
        if mcs != _MCS:
            raise ValueError(f"unsupported LZW min code size {mcs} (8-bit only)")
        pos += 1
        parts = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            chunk = payload[pos + 1 : pos + 1 + ln]
            if len(chunk) != ln:
                raise ValueError("truncated image data sub-block")
            parts += chunk
            pos += 1 + ln
        if pos >= len(payload):
            raise ValueError("missing sub-block terminator")
        pos += 1
        idx = np.frombuffer(
            _lzw_decompress(bytes(parts), expected=w * h), dtype=np.uint8
        )
        if idx.size != w * h:
            raise ValueError(f"decoded {idx.size} pixels, descriptor says {w * h}")
        if interlaced:  # rows arrive in the four-pass order (r13)
            stored = idx.reshape(h, w)
            img = np.empty_like(stored)
            img[_gif_interlace_order(h)] = stored
            idx = img.reshape(-1)
        if palette is None:
            raise ValueError("no global color table (indexed pixels need one)")
        rgb = palette[idx]  # (n, 3)
        if (rgb[:, 0] == rgb[:, 1]).all() and (rgb[:, 1] == rgb[:, 2]).all():
            return 1, w, h, rgb[:, 0].reshape(h, w, 1)
        return 3, w, h, rgb.reshape(h, w, 3)
    raise ValueError("no image descriptor before trailer")


def _encode_gif_anim_bytes(
    frames: list[np.ndarray],
    delays_cs: list[int],
    loop: int = 0,
    composite: bool = False,
) -> bytes:
    """Encode a list of same-size ``(h, w, 1)`` uint8 RENDERED CANVASES
    as an ANIMATED GIF89a (r13): header, logical screen descriptor,
    grayscale identity palette, the NETSCAPE2.0 looping application
    extension, then per frame a Graphic Control Extension (disposal 1 =
    do not dispose, delay in centiseconds) + image descriptor + its own
    REAL LZW code stream, and the trailer.

    ``composite=False`` (r13 form): every frame a full-frame replace at
    (0,0), global palette, no transparency.

    ``composite=True`` (r14): the real-world frame-diffed form. Frame 0
    is stored full; every later frame is stored as the BOUNDING RECT of
    its diff against the previous canvas, at its (left, top) OFFSET,
    with in-rect pixels that did NOT change encoded as a per-frame
    TRANSPARENT index (the smallest index unused by the changed
    pixels), and ODD frames routed through a LOCAL COLOR TABLE carrying
    the non-identity affine gray palette (indexes are the inverse
    affine of the luma, so the decoder's per-frame lookup is
    load-bearing). Decoding composites rects over the canvas and must
    reproduce exactly the input canvases — the container exercises
    offsets, local palettes, and transparency while the CONTENT oracle
    of any full-canvas consumer is unchanged."""
    if not frames:
        raise ValueError("animated GIF needs at least one frame")
    h, w, channels = frames[0].shape
    if channels != 1:
        raise ValueError("GIF branch encodes 8-bit grayscale (1 channel) only")
    if len(delays_cs) != len(frames):
        raise ValueError("one delay per frame")
    lsd = (
        w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0xF7, 0x00, 0x00])
    )
    netscape = (
        b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        + int(loop).to_bytes(2, "little")
        + b"\x00"
    )
    body = bytearray()
    prev_canvas: np.ndarray | None = None
    for fi, (px, delay) in enumerate(zip(frames, delays_cs)):
        if px.shape != (h, w, 1):
            raise ValueError("all frames must share the logical screen size")
        plane = px[:, :, 0]
        local = composite and fi % 2 == 1
        if not composite or prev_canvas is None:
            x0 = y0 = 0
            rw, rh = w, h
            sub = plane
            changed = np.ones((rh, rw), dtype=bool)
        else:
            diff = plane != prev_canvas
            if diff.any():
                rows = np.flatnonzero(diff.any(axis=1))
                cols = np.flatnonzero(diff.any(axis=0))
                y0, rh = int(rows[0]), int(rows[-1] - rows[0] + 1)
                x0, rw = int(cols[0]), int(cols[-1] - cols[0] + 1)
            else:  # nothing changed: a 1×1 all-transparent update
                x0 = y0 = 0
                rw = rh = 1
            sub = plane[y0 : y0 + rh, x0 : x0 + rw]
            changed = sub != prev_canvas[y0 : y0 + rh, x0 : x0 + rw]
        if local:  # inverse affine: (v-13)·7⁻¹ mod 256 indexes the LCT
            idx = (((sub.astype(np.int64) - 13) * _INV7) % 256).astype(np.uint8)
        else:
            idx = sub.copy()
        trans_idx = None
        if composite and prev_canvas is not None and not changed.all():
            used = set(np.unique(idx[changed]).tolist()) if changed.any() else set()
            trans_idx = next(t for t in range(256) if t not in used)
            idx[~changed] = trans_idx
        packed = 0x04 | (0x01 if trans_idx is not None else 0x00)
        gce = (
            b"\x21\xf9\x04"
            + bytes([packed])
            + int(delay).to_bytes(2, "little")
            + bytes([trans_idx if trans_idx is not None else 0, 0x00])
        )
        desc = (
            b"\x2c"
            + int(x0).to_bytes(2, "little")
            + int(y0).to_bytes(2, "little")
            + int(rw).to_bytes(2, "little")
            + int(rh).to_bytes(2, "little")
            + (b"\x87" if local else b"\x00")  # 0x87: LCT flag + 256 entries
        )
        lct = _AFFINE_PALETTE if local else b""
        codes = _lzw_compress(idx.reshape(-1).tobytes())
        body += gce + desc + lct + bytes([_MCS]) + _subblocks(codes)
        prev_canvas = plane.copy()
    return b"GIF89a" + lsd + _GRAY_PALETTE + netscape + bytes(body) + b"\x3b"


def _parse_gif_frames(
    payload: bytes,
) -> tuple[int, int, list[int], list[np.ndarray]]:
    """Parse an animated (or single-frame) GIF into its RENDERED frames
    — the r14 COMPOSITING walk: every image descriptor is pasted onto
    the logical-screen canvas at its (left, top) OFFSET (rects must fit
    the screen), through its LOCAL color table when present (else the
    global one; every palette actually used must be grayscale — this
    branch renders luma), honoring the preceding Graphic Control
    Extension's TRANSPARENT index (masked pixels keep the canvas — the
    frame-diff mechanism real animated GIFs use) and delay field
    (centiseconds; 0 when absent, per spec). Disposal methods 0/1
    (no-op / do-not-dispose) are supported; 2/3 (restore-background /
    restore-previous) are explicitly rejected, the posture every other
    out-of-scope branch uses. The canvas starts as the global-palette
    background color. Other extensions (NETSCAPE looping, comments) are
    skipped by sub-block framing. Per-frame interlace is de-scattered.
    Returns ``(width, height, delays_cs, frames)`` with each frame the
    full ``(sh, sw)`` rendered luma canvas — full-frame GIFs decode
    exactly as before (each paste covers the screen)."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError(f"not a GIF payload: {payload[:6]!r}")
    if len(payload) < 13:
        raise ValueError("truncated logical screen descriptor")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    if sw * sh > (1 << 28):
        raise ValueError(f"canvas {sw}x{sh} exceeds the 256M-pixel bound")
    flags = payload[10]
    bg_index = payload[11]
    pos = 13
    palette = None
    if flags & 0x80:
        gct_len = 3 * (2 << (flags & 0x07))
        palette = np.frombuffer(payload[pos : pos + gct_len], dtype=np.uint8)
        if palette.size != gct_len:
            raise ValueError("truncated global color table")
        palette = palette.reshape(-1, 3)
        pos += gct_len
    if palette is None:
        raise ValueError("no global color table (indexed pixels need one)")
    if not (
        (palette[:, 0] == palette[:, 1]).all()
        and (palette[:, 1] == palette[:, 2]).all()
    ):
        raise ValueError("animated branch supports grayscale palettes only")
    glut = palette[:, 0]
    canvas = np.full(
        (sh, sw), glut[bg_index] if bg_index < glut.size else 0, dtype=np.uint8
    )
    delays: list[int] = []
    frames: list[np.ndarray] = []
    pending_delay = 0
    pending_trans: int | None = None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos + 1] if pos + 1 < len(payload) else None
            body = bytearray()
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                body += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if len(body) < 4:
                    raise ValueError("truncated graphic control extension")
                disposal = (body[0] >> 2) & 0x07
                if disposal > 1:
                    raise ValueError(
                        f"unsupported GIF disposal method {disposal} "
                        "(restore-background/previous out of scope)"
                    )
                pending_delay = int.from_bytes(body[1:3], "little")
                pending_trans = body[3] if body[0] & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {pos}")
        if pos + 10 > len(payload):
            raise ValueError("truncated image descriptor")
        left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        if w < 1 or h < 1 or left + w > sw or top + h > sh:
            raise ValueError(
                f"image rect ({left},{top})+{w}x{h} outside the "
                f"logical screen {sw}x{sh}"
            )
        iflags = payload[pos + 9]
        interlaced = bool(iflags & 0x40)
        pos += 10
        lut = glut
        if iflags & 0x80:  # local color table (r14)
            lct_len = 3 * (2 << (iflags & 0x07))
            local = np.frombuffer(payload[pos : pos + lct_len], dtype=np.uint8)
            if local.size != lct_len:
                raise ValueError("truncated local color table")
            local = local.reshape(-1, 3)
            if not (
                (local[:, 0] == local[:, 1]).all()
                and (local[:, 1] == local[:, 2]).all()
            ):
                raise ValueError("animated branch supports grayscale palettes only")
            lut = local[:, 0]
            pos += lct_len
        mcs = payload[pos]
        if mcs != _MCS:
            raise ValueError(f"unsupported LZW min code size {mcs} (8-bit only)")
        pos += 1
        parts = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            chunk = payload[pos + 1 : pos + 1 + ln]
            if len(chunk) != ln:
                raise ValueError("truncated image data sub-block")
            parts += chunk
            pos += 1 + ln
        if pos >= len(payload):
            raise ValueError("missing sub-block terminator")
        pos += 1
        idx = np.frombuffer(
            _lzw_decompress(bytes(parts), expected=w * h), dtype=np.uint8
        )
        if idx.size != w * h:
            raise ValueError(f"decoded {idx.size} pixels, descriptor says {w * h}")
        idx = idx.reshape(h, w)
        if interlaced:  # per-frame row de-interlace (r13)
            img = np.empty_like(idx)
            img[_gif_interlace_order(h)] = idx
            idx = img
        if int(idx.max()) >= lut.size:
            raise ValueError("palette index out of range")
        region = canvas[top : top + h, left : left + w]
        if pending_trans is not None:  # masked paste: transparency (r14)
            mask = idx != pending_trans
            region[mask] = lut[idx][mask]
        else:
            region[:, :] = lut[idx]
        frames.append(canvas.copy())
        delays.append(pending_delay)
        pending_delay = 0  # a GCE governs only the next image, per spec
        pending_trans = None
    if not frames:
        raise ValueError("no image descriptor before trailer")
    return sw, sh, delays, frames


def encode_gif(
    docs: DataFrame,
    uncompressed: bool = False,
    interlaced: bool = False,
) -> DataFrame:
    """Encode each document as a genuine GIF87a — REAL variable-width
    LZW (or the deterministic-size CLEAR-per-pixel framing when
    ``uncompressed=True``), 8-bit grayscale over the identity palette.
    Geometry and raster use the SAME md5 arithmetic as ``encode_pgm`` /
    ``encode_png`` (``width = md5(text) % 16 + 1``, digest-cycled
    pixels), so a SQL oracle replays the DECODED content without
    replaying LZW — and because the raster repeats with period 16, the
    dictionary builds real multi-byte phrases (genuine compression,
    not a degenerate stream). Arrow-batched ``mapInPandas``, map-only,
    same 100 TB shape as ``encode_png``. Reads ``doc_id`` and ``text``."""
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
        raster = (bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h]
        px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 1)
        yield did, _encode_gif_bytes(
            px, uncompressed=uncompressed, interlaced=interlaced
        )

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


def encode_gif_anim(
    docs: DataFrame,
    composite: bool = False,
) -> DataFrame:
    """Encode each document as an ANIMATED GIF89a clip with the SAME
    geometry arithmetic as ``encode_y4m`` (``w/h = md5 % 8 + 1``,
    ``n_frames = md5(text||'|nf') % 6 + 2``, frame ``f``'s raster =
    digest bytes cycled continuously across the clip), plus a per-frame
    GCE delay ``digest_byte[f % 16] % 50 + 2`` centiseconds — all
    md5-derived, so a SQL oracle replays frame content, frame ORDER,
    and the delays without replaying LZW. Arrow-batched
    ``mapInPandas``, map-only. Reads ``doc_id`` and ``text``.

    ``composite=True`` (r14) stores the SAME rendered canvases through
    the frame-diffed container form (``_encode_gif_anim_bytes``
    composite: bounding diff rects, local affine palettes on odd
    frames, transparency for unchanged in-rect pixels) — pixels equal,
    container harder, every content oracle unchanged."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        d = bytes.fromhex(hx)
        w = int(hx[:15], 16) % 8 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 8 + 1
        nf = int(hashlib.md5((text + "|nf").encode()).hexdigest()[:15], 16) % 6 + 2
        raster = (d * 28)[: nf * w * h]
        frames = [
            np.frombuffer(raster[f * w * h : (f + 1) * w * h], dtype=np.uint8).reshape(
                h, w, 1
            )
            for f in range(nf)
        ]
        delays = [d[f % 16] % 50 + 2 for f in range(nf)]
        yield did, _encode_gif_anim_bytes(frames, delays, composite=composite)

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


def encode_gif_anim_composite(docs: DataFrame) -> DataFrame:
    """Encode each document as a frame-diffed ANIMATED GIF89a whose
    CANVAS EVOLUTION is md5-replayable (r14): ``w/h = md5 % 8 + 2``,
    ``nf = md5(text||'|nf') % 5 + 2``; canvas 0 is the digest cycled to
    ``w·h`` bytes, and frame ``f ≥ 1`` updates ONLY the digest-derived
    sub-rectangle ``x0 = d[2f%16] % w``, ``y0 = d[(2f+1)%16] % h``,
    ``rw = d[(2f+3)%16] % (w-x0) + 1``, ``rh = d[(2f+5)%16] % (h-y0)+1``
    with bytes addressed by FULL-canvas position ``d[(f·w·h + r·w + c)
    % 16]`` — so a SQL oracle reconstructs any frame's canvas as "each
    pixel's value from the LAST frame whose rect covered it" without
    replaying LZW or the container. The container stores real
    frame-diffs: bounding rects at nonzero offsets, transparency for
    unchanged in-rect pixels, local affine palettes on odd frames
    (``_encode_gif_anim_bytes`` composite form) — so offsets,
    per-frame palettes, the transparent-index mask, and compositing
    order are ALL load-bearing for the content hash. Per-frame GCE
    delay ``d[f%16] % 50 + 2`` cs. Arrow-batched ``mapInPandas``,
    map-only — the same 100 TB shape as every encoder.
    Reads ``doc_id`` and ``text``."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        d = bytes.fromhex(hx)
        w = int(hx[:15], 16) % 8 + 2
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 8 + 2
        nf = int(hashlib.md5((text + "|nf").encode()).hexdigest()[:15], 16) % 5 + 2
        canvas = np.array(
            [d[p % 16] for p in range(w * h)], dtype=np.uint8
        ).reshape(h, w)
        canvases = [canvas]
        for f in range(1, nf):
            x0 = d[(2 * f) % 16] % w
            y0 = d[(2 * f + 1) % 16] % h
            rw = d[(2 * f + 3) % 16] % (w - x0) + 1
            rh = d[(2 * f + 5) % 16] % (h - y0) + 1
            cv = canvases[-1].copy()
            for r in range(y0, y0 + rh):
                for c in range(x0, x0 + rw):
                    cv[r, c] = d[(f * w * h + r * w + c) % 16]
            canvases.append(cv)
        delays = [d[f % 16] % 50 + 2 for f in range(nf)]
        yield did, _encode_gif_anim_bytes(
            [c[:, :, None] for c in canvases], delays, composite=True
        )

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


GIF_ANIM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("delay_cs", T.LongType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("min_luma", T.LongType(), True),
        T.StructField("max_luma", T.LongType(), True),
        T.StructField("diff_prev", T.DoubleType(), True),
    ]
)


def decode_gif_anim_frame_stats(gifs: DataFrame) -> DataFrame:
    """Arrow-batched animated-GIF decode over ``(doc_id, payload)``:
    walk the container (header, palette, NETSCAPE/GCE extensions,
    per-frame image blocks), LZW-decode EVERY frame, and emit per-frame
    luma stats + the GCE delay + the mean-luma delta vs the previous
    frame — the GIF twin of ``decode_y4m_frame_stats`` (scene-change
    primitive). Frame segmentation and ORDER are recovered from the
    container walk, never passed through; a zero-frame batch still
    carries the schema."""

    def decode(did, p):
        w, h, delays, frames = _parse_gif_frames(bytes(p))
        prev = None
        for fi, (fr, delay) in enumerate(zip(frames, delays)):
            m = float(fr.astype(np.float64).mean())
            yield {
                "doc_id": did,
                "frame_idx": fi,
                "width": w,
                "height": h,
                "delay_cs": delay,
                "mean_luma": m,
                "min_luma": int(fr.min()),
                "max_luma": int(fr.max()),
                "diff_prev": None if prev is None else abs(m - prev),
            }
            prev = m

    return row_kernel(gifs.select("doc_id", "payload"), decode, GIF_ANIM_STATS_SCHEMA)
