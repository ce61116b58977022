"""Baseline JPEG codec — the third REAL compressed-image branch.

Original implementation of the public baseline JPEG process (ITU-T
T.81 / ISO 10918-1): 8×8 block DCT, uniform quantization, zigzag,
DC-difference + run-length AC symbols, canonical Huffman entropy
coding with byte stuffing, and the SOI/DQT/SOF0/DHT/SOS/EOI marker
structure. Scope: sequential baseline (SOF0) AND (since r13)
PROGRESSIVE (SOF2) with full spectral selection + successive
approximation; 8-bit grayscale and 3-component YCbCr color with
4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 chroma subsampling, interleaved MCUs,
per-component DQT/DHT selectors, and DRI restart intervals with RSTn
markers (baseline scans). Arithmetic coding, hierarchical/extended
SOFs, and non-interleaved SOF0 multi-scan files are rejected with
clear messages.

Design notes (honest about what is and is not pinned):

- The DECODER trusts nothing baked in: quantization and Huffman tables
  are parsed from the file's own DQT/DHT segments (canonical code
  generation per the spec's Annex C recipe), so it reads any
  conforming baseline grayscale JPEG, not just this encoder's output.
- The ENCODER writes CUSTOM canonical Huffman tables rather than the
  spec's example Annex K tables: all 12 DC size symbols at 4 bits and
  all 162 AC symbols at 8 bits (EOB first, so EOB = the all-zeros
  code). Flat tables are spec-valid (DHT carries them; every reader
  decodes from DHT), deterministic, immune to recalled-table typos,
  and make the entropy stream HAND-COMPUTABLE — tests pin the encoded
  bytes of a constant 8×8 image against bits worked out on paper.
  The cost is a few percent of compression vs tuned tables.
- JPEG is LOSSY, so unlike the PNG/GIF branches the decoded raster
  cannot be replayed bit-exactly in a SQL oracle. The registered query
  therefore gates the SQL-replayable invariants (recovered dims /
  pixel count) plus DETERMINISTIC reconstruction-error bounds measured
  against the known md5-derived source raster — the same
  invariant-gate pattern as the sketch rows (``agg_approx_*``); the
  codec's internals (DCT orthogonality, round-trips, marker handling,
  bit stuffing) are pinned in tests/test_jpeg.py.

Reference parity note: the reference engine (kafka-streams-common) has
no binary-decode surface; this tier is part of the mandated
training-data-pipeline extension, not a port.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

# ---------------------------------------------------------------------------
# transform + tables

# 8×8 DCT-II basis matrix: C[u, x] = a(u)·cos((2x+1)uπ/16); orthonormal
# (C @ C.T = I, pinned in tests), so forward = C B Cᵀ, inverse = Cᵀ B C.
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )

# Quantization: a mild uniform-ish table (flat 8 with a heavier
# high-frequency corner) rather than the spec's example luminance
# table — tables live in DQT, so any value set is conforming; a mild
# table keeps the reconstruction-error bound tight and DETERMINISTIC
# for the invariant gate. (u+v) ramp: Q[u,v] = 6 + u + v.
_QTABLE = (6 + np.add.outer(np.arange(8), np.arange(8))).astype(np.int64)

# zigzag scan order, generated per the spec's pattern (anti-diagonals,
# alternating direction: odd diagonals walk row-ascending) — generated,
# not typed, to rule out transcription slips.
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
)
_ZZ_ROWS = np.array([r for r, _ in _ZIGZAG])
_ZZ_COLS = np.array([c for _, c in _ZIGZAG])

# Encoder Huffman tables (canonical; see module docstring). BITS[i] =
# number of codes of length i+1.
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176] + [0] * 8
# EOB first (code 0), then ZRL, then (run, size) in run-major order,
# then — appended LAST so every pre-existing code assignment (and so
# every baseline bitstream) is unchanged — the progressive EOBn
# symbols (n<<4, n=1..14; EOB0 is the existing 0x00)
_AC_VALS = (
    [0x00, 0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
    + [n << 4 for n in range(1, 15)]
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex-C canonical code assignment: symbols in HUFFVAL order get
    consecutive codes, code value doubling at each length step. Returns
    ``{symbol: (code, length)}``."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)

# ---------------------------------------------------------------------------
# color (YCbCr) additions — round 13. The chroma side gets its OWN
# deterministic tables, genuinely different from the luma ones, so a
# decoder that mixes up per-component DQT/DHT selectors fails loudly:
# quantization ramp 8+u+v at DQT slot 1; flat canonical Huffman with all
# 12 DC sizes at 5 bits and all 162 AC symbols at 9 bits at DHT slot 1
# (same hand-computability rationale as the luma 4/8-bit tables).
_QTABLE_C = (8 + np.add.outer(np.arange(8), np.arange(8))).astype(np.int64)
_DC_BITS_C = [0, 0, 0, 0, 12] + [0] * 11
_AC_BITS_C = [0] * 8 + [176] + [0] * 7
_DC_CODES_C = _canonical_codes(_DC_BITS_C, _DC_VALS)
_AC_CODES_C = _canonical_codes(_AC_BITS_C, _AC_VALS)

# JFIF / ITU-R BT.601 full-range color conversion (the public JPEG
# interchange convention).


def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def _bit_size(v: int) -> int:
    """JPEG amplitude size category: number of bits in |v|."""
    return int(abs(v)).bit_length()


# vectorized size-category lookup for the block encoder: quantized
# baseline coefficients and DC diffs stay far below this bound
_SIZE_LUT = np.array([int(i).bit_length() for i in range(1 << 13)], dtype=np.int64)


class _BitWriterMSB:
    """MSB-first bit writer with JPEG byte stuffing (0xFF → 0xFF 0x00)
    and 1-padding of the final byte, per the spec."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        nbits = self.nbits + length
        out = self.out
        while nbits >= 8:
            byte = (acc >> (nbits - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            nbits -= 8
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def align(self) -> None:
        """Pad the current byte with 1-bits (the spec's fill bits) —
        used before emitting a restart marker, which must be
        byte-aligned."""
        if self.nbits:
            pad = 8 - self.nbits
            byte = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0

    def marker(self, m: int) -> None:
        """Emit a bare marker (e.g. RSTn) into the stream — markers are
        written directly, never byte-stuffed."""
        self.align()
        self.out += bytes([0xFF, m])

    def finish(self) -> bytes:
        self.align()
        return bytes(self.out)


def _encode_block(
    bw: "_BitWriterMSB",
    block: np.ndarray,
    qtable: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    prev_dc: int,
) -> int:
    """DCT + quantize + entropy-code one 8×8 sample block (level-shifted
    here); returns the new DC predictor. Shared by the grayscale and
    color encoders — the grayscale entropy bytes are pinned byte-for-byte
    in tests, so this is the exact original arithmetic."""
    coef = _C @ (block - 128.0) @ _C.T
    q = np.rint(coef / qtable).astype(np.int64)
    zz = q[_ZZ_ROWS, _ZZ_COLS]
    # DC: difference, size category, amplitude bits (one's complement
    # representation for negatives, per the spec)
    diff = int(zz[0]) - prev_dc
    new_dc = int(zz[0])
    size = _bit_size(diff)
    code, length = dc_codes[size]
    bw.put(code, length)
    if size:
        bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    # AC: run-length coded. Symbol generation is vectorized (r14):
    # nonzero positions, zero-run lengths, size categories, and
    # one's-complement amplitudes all come out of numpy at once, so
    # the Python loop touches only the nonzero coefficients instead
    # of all 63 — emitted symbols (and bytes) are identical.
    ac = zz[1:]
    nz = np.flatnonzero(ac)
    if nz.size == 0:
        ec, el = ac_codes[0x00]  # EOB
        bw.put(ec, el)
        return new_dc
    vals = ac[nz]
    sizes = _SIZE_LUT[np.abs(vals)]
    runs = np.empty_like(nz)
    runs[0] = nz[0]
    runs[1:] = np.diff(nz) - 1
    amps = np.where(vals >= 0, vals, vals + (np.int64(1) << sizes) - 1)
    zc, zl = ac_codes[0xF0]  # ZRL
    put = bw.put
    for r, s, a in zip(runs.tolist(), sizes.tolist(), amps.tolist()):
        while r >= 16:
            put(zc, zl)
            r -= 16
        code, length = ac_codes[(r << 4) | s]
        put(code, length)
        put(a, s)
    if nz[-1] != 62:
        ec, el = ac_codes[0x00]  # EOB
        bw.put(ec, el)
    return new_dc


def _pad_replicate(a: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Edge-replicate pad a 2-D float plane to (th, tw)."""
    ah, aw = a.shape
    out = np.empty((th, tw), dtype=np.float64)
    out[:ah, :aw] = a
    if th > ah:
        out[ah:, :aw] = a[ah - 1 : ah, :]
    if tw > aw:
        out[:, aw:] = out[:, aw - 1 : aw]
    return out


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: FF xx + 2-byte big-endian length (incl. the
    length field itself) + body."""
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _dht_body(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc_th]) + bytes(bits) + bytes(vals)


def _encode_jpeg_bytes(px: np.ndarray, restart_interval: int = 0) -> bytes:
    """Encode an ``(h, w, 1)`` uint8 array as a baseline grayscale JPEG
    (SOI, DQT, SOF0, DHT×2, SOS, entropy-coded data, EOI). Blocks are
    edge-replicated to 8×8 multiples; the decoder crops back via the
    SOF0 dims. ``restart_interval`` > 0 emits a DRI segment and a
    byte-aligned RSTn marker (n cycling 0-7) after every that many MCUs
    (= blocks for grayscale), resetting the DC predictor — the spec's
    error-resilience mechanism, present in virtually every camera
    JPEG."""
    h, w, channels = px.shape
    if channels != 1:
        raise ValueError("JPEG branch encodes 8-bit grayscale (1 channel) only")
    gray = px[:, :, 0]
    bh, bw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((bh, bw), dtype=np.float64)
    padded[:h, :w] = gray
    padded[h:, :w] = gray[h - 1 : h, :]  # replicate bottom edge
    padded[:, w:] = padded[:, w - 1 : w]  # replicate right edge

    bw_writer = _BitWriterMSB()
    prev_dc = 0
    n_mcu = (bh // 8) * (bw // 8)
    mcu_i = 0
    for br in range(0, bh, 8):
        for bc in range(0, bw, 8):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw_writer.marker(0xD0 + ((mcu_i // restart_interval - 1) % 8))
                prev_dc = 0
            prev_dc = _encode_block(
                bw_writer,
                padded[br : br + 8, bc : bc + 8],
                _QTABLE,
                _DC_CODES,
                _AC_CODES,
                prev_dc,
            )
            mcu_i += 1
    assert mcu_i == n_mcu

    dqt = _seg(0xDB, bytes([0x00]) + bytes(int(_QTABLE[r, c]) for r, c in _ZIGZAG))
    sof0 = _seg(
        0xC0,
        bytes([8])  # precision
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),  # 1 component: id 1, sampling 1x1, Tq 0
    )
    dht_dc = _seg(0xC4, _dht_body(0x00, _DC_BITS, _DC_VALS))
    dht_ac = _seg(0xC4, _dht_body(0x10, _AC_BITS, _AC_VALS))
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    )
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8"  # SOI
        + dqt
        + sof0
        + dht_dc
        + dht_ac
        + dri
        + sos
        + bw_writer.finish()
        + b"\xff\xd9"  # EOI
    )


_SUBSAMPLE_FACTORS = {
    # (h, v) per component in SOF order Y, Cb, Cr
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "440": ((1, 2), (1, 1), (1, 1)),  # vertical-only subsampling (r13)
    "420": ((2, 2), (1, 1), (1, 1)),
}


def _encode_jpeg_color_bytes(
    px: np.ndarray, subsample: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode an ``(h, w, 3)`` uint8 RGB array as a baseline YCbCr JPEG
    with the requested chroma subsampling (4:4:4, 4:2:2, 4:4:0 or 4:2:0):
    BT.601 color conversion, box-average chroma downsampling, and one
    interleaved scan of MCUs (each MCU carries the component's h×v
    blocks in raster order, per the spec's interleaving rules). Luma
    uses quant slot 0 / Huffman slot 0 (the grayscale tables); chroma
    uses slot 1 tables that are GENUINELY different (8+u+v ramp, 5/9-bit
    flat canonical codes), so per-component selector plumbing is
    load-bearing on both sides."""
    h, w, channels = px.shape
    if channels != 3:
        raise ValueError("color JPEG branch encodes RGB (3 channels) only")
    samp = _SUBSAMPLE_FACTORS.get(subsample)
    if samp is None:
        raise ValueError(f"unsupported subsampling {subsample!r}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    planes = []
    for (hi, vi), plane in zip(samp, _rgb_to_ycbcr(px)):
        if (hi, vi) != (hmax, vmax):
            # component dims per the spec: ceil(w·hi/hmax) × ceil(h·vi/vmax);
            # box-average downsample over an edge-replicated grid
            fy, fx = vmax // vi, hmax // hi
            src = _pad_replicate(plane, -(-h // fy) * fy, -(-w // fx) * fx)
            down = src.reshape(src.shape[0] // fy, fy, src.shape[1] // fx, fx).mean(
                axis=(1, 3)
            )
            plane = down
        planes.append(_pad_replicate(plane, mcuy * vi * 8, mcux * hi * 8))

    qts = (_QTABLE, _QTABLE_C, _QTABLE_C)
    dcs = (_DC_CODES, _DC_CODES_C, _DC_CODES_C)
    acs = (_AC_CODES, _AC_CODES_C, _AC_CODES_C)
    bw_writer = _BitWriterMSB()
    prev = [0, 0, 0]
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw_writer.marker(0xD0 + ((mcu_i // restart_interval - 1) % 8))
                prev = [0, 0, 0]
            mcu_i += 1
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        r0, c0 = (my * vi + by) * 8, (mx * hi + bx) * 8
                        prev[ci] = _encode_block(
                            bw_writer,
                            planes[ci][r0 : r0 + 8, c0 : c0 + 8],
                            qts[ci],
                            dcs[ci],
                            acs[ci],
                            prev[ci],
                        )

    dqt = _seg(
        0xDB,
        bytes([0x00])
        + bytes(int(_QTABLE[r, c]) for r, c in _ZIGZAG)
        + bytes([0x01])
        + bytes(int(_QTABLE_C[r, c]) for r, c in _ZIGZAG),
    )
    sof0 = _seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([3])
        + bytes([1, (samp[0][0] << 4) | samp[0][1], 0])  # Y: Tq 0
        + bytes([2, (samp[1][0] << 4) | samp[1][1], 1])  # Cb: Tq 1
        + bytes([3, (samp[2][0] << 4) | samp[2][1], 1]),  # Cr: Tq 1
    )
    dht = (
        _seg(0xC4, _dht_body(0x00, _DC_BITS, _DC_VALS))
        + _seg(0xC4, _dht_body(0x10, _AC_BITS, _AC_VALS))
        + _seg(0xC4, _dht_body(0x01, _DC_BITS_C, _DC_VALS))
        + _seg(0xC4, _dht_body(0x11, _AC_BITS_C, _AC_VALS))
    )
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big")) if restart_interval else b""
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof0 + dht + dri + sos + bw_writer.finish() + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# progressive (SOF2) encoder — round 13. Emits a genuine progression:
# DC first at Al=1 (interleaved), spectrally-split AC first scans at
# Al=1 (per component, bands 1-5 and 6-63), then the successive-
# approximation refinements (DC raw-bit scan at Ah=1, AC refine scans
# with EOBn runs and correction bits). The decoded coefficients must
# EXACTLY equal the baseline quantization of the same source, which is
# the equality gate the tests and the registered query ride on.


def _enc_ac_first(
    bw: _BitWriterMSB,
    zblocks: np.ndarray,
    nbx: int,
    nby: int,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """Encode one AC 'first' scan band (Ah=0) over a component's block
    grid: run-length coding within the band, EOBn runs across blocks."""
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.put(code, ln)
            if n:
                bw.put(eobrun - (1 << n), n)
            eobrun = 0

    # point-transform the whole band grid at once: divide by 2^Al
    # truncating toward zero per the spec's AC convention (DC uses the
    # arithmetic shift instead)
    band = zblocks[:, :, ss : se + 1].astype(np.int64)
    tgrid = np.where(band >= 0, band >> al, -((-band) >> al))
    for by in range(nby):
        for bx in range(nbx):
            varr = tgrid[by, bx]
            nzarr = np.flatnonzero(varr)
            if nzarr.size == 0:
                eobrun += 1
                if eobrun == 32767:
                    flush()
                continue
            vals = varr.tolist()
            nz = nzarr.tolist()
            flush()
            r = 0
            for i in range(nz[-1] + 1):
                v = vals[i]
                if v == 0:
                    r += 1
                    continue
                while r > 15:
                    code, ln = ac_codes[0xF0]
                    bw.put(code, ln)
                    r -= 16
                size = _bit_size(v)
                code, ln = ac_codes[(r << 4) | size]
                bw.put(code, ln)
                bw.put(v if v >= 0 else v + (1 << size) - 1, size)
                r = 0
            if nz[-1] < len(vals) - 1:
                eobrun = 1
    flush()


def _enc_ac_refine(
    bw: _BitWriterMSB,
    zblocks: np.ndarray,
    nbx: int,
    nby: int,
    ss: int,
    se: int,
    al: int,
    ac_codes: dict[int, tuple[int, int]],
) -> None:
    """Encode one AC refinement scan (Ah=Al+1) per the spec's G.1.2.3
    semantics: newly-nonzero coefficients as (zero-HISTORY run, ±1)
    symbols; one correction bit per already-nonzero coefficient passed,
    BUFFERED and flushed after the next emitted symbol (coefficient,
    ZRL, or EOBn); trailing positions fold into the EOB run."""
    eobrun = 0
    run_bits: list[int] = []  # correction bits owned by the EOB run (BE)
    blk_bits: list[int] = []  # the current block's pending bits (BR)

    def put_sym(
        sym: int, extra: tuple[int, int] | None, tail: list[int]
    ) -> None:
        code, ln = ac_codes[sym]
        bw.put(code, ln)
        if extra is not None:
            bw.put(*extra)
        for b in tail:
            bw.put(b, 1)
        tail.clear()

    def flush() -> None:
        # EOBn carries ONLY the bits accumulated through the end of the
        # last covered block — the current block's bits ride after its
        # own symbols (the spec's association rule; a shared buffer
        # desyncs the decoder by the new block's early correction bits)
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            put_sym(n << 4, (eobrun - (1 << n), n) if n else None, run_bits)
            eobrun = 0

    # grid-level precompute (r14): |coef| >> Al and sign planes for the
    # whole component at once — per-block comprehensions removed
    band = zblocks[:, :, ss : se + 1].astype(np.int64)
    absg = np.abs(band) >> al
    signg = (band >= 0).astype(np.int64)
    for by in range(nby):
        for bx in range(nbx):
            absrow = absg[by, bx]
            absv = absrow.tolist()
            signs = signg[by, bx].tolist()
            ones = np.flatnonzero(absrow == 1)
            eob = int(ones[-1]) if ones.size else -1
            r = 0
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush()
                    put_sym(0xF0, None, blk_bits)
                    r -= 16
                if t > 1:
                    blk_bits.append(t & 1)
                    continue
                flush()
                put_sym((r << 4) | 1, (signs[i], 1), blk_bits)
                r = 0
            if r > 0 or blk_bits:
                eobrun += 1
                run_bits.extend(blk_bits)
                blk_bits.clear()
                if eobrun == 32767:
                    flush()
    flush()


def _encode_jpeg_progressive_bytes(px: np.ndarray, subsample: str = "444") -> bytes:
    """Encode an ``(h, w, 1)`` grayscale or ``(h, w, 3)`` RGB array as
    a PROGRESSIVE (SOF2) JPEG with both spectral selection AND
    successive approximation: DC first (interleaved, Al=1) → AC first
    per component in two bands (1-5, 6-63; Al=1) → DC refinement (raw
    bits, Ah=1) → AC refinements (same bands; EOBn + correction bits).
    Quantization is per-block-identical to the baseline encoders, so a
    correct progressive decode reconstructs EXACTLY the coefficients a
    baseline encode of the same source carries."""
    h, w, channels = px.shape
    if channels == 1:
        samp: tuple = ((1, 1),)
        planes = [
            _pad_replicate(
                px[:, :, 0].astype(np.float64), -(-h // 8) * 8, -(-w // 8) * 8
            )
        ]
        qts = (_QTABLE,)
        dc_codes = (_DC_CODES,)
        ac_codes = (_AC_CODES,)
        tsel = (0x00,)
        comp_ids = (1,)
        sof_comps = bytes([1]) + bytes([1, 0x11, 0])
        dqt = _seg(0xDB, bytes([0x00]) + bytes(int(_QTABLE[r, c]) for r, c in _ZIGZAG))
        dht = _seg(0xC4, _dht_body(0x00, _DC_BITS, _DC_VALS)) + _seg(
            0xC4, _dht_body(0x10, _AC_BITS, _AC_VALS)
        )
    elif channels == 3:
        fac = _SUBSAMPLE_FACTORS.get(subsample)
        if fac is None:
            raise ValueError(f"unsupported subsampling {subsample!r}")
        samp = fac
        hmax0 = max(s[0] for s in samp)
        vmax0 = max(s[1] for s in samp)
        mcux0, mcuy0 = -(-w // (8 * hmax0)), -(-h // (8 * vmax0))
        planes = []
        for (hi, vi), plane in zip(samp, _rgb_to_ycbcr(px)):
            if (hi, vi) != (hmax0, vmax0):
                fy, fx = vmax0 // vi, hmax0 // hi
                src = _pad_replicate(plane, -(-h // fy) * fy, -(-w // fx) * fx)
                plane = src.reshape(
                    src.shape[0] // fy, fy, src.shape[1] // fx, fx
                ).mean(axis=(1, 3))
            planes.append(_pad_replicate(plane, mcuy0 * vi * 8, mcux0 * hi * 8))
        qts = (_QTABLE, _QTABLE_C, _QTABLE_C)
        dc_codes = (_DC_CODES, _DC_CODES_C, _DC_CODES_C)
        ac_codes = (_AC_CODES, _AC_CODES_C, _AC_CODES_C)
        tsel = (0x00, 0x11, 0x11)
        comp_ids = (1, 2, 3)
        sof_comps = (
            bytes([3])
            + bytes([1, (samp[0][0] << 4) | samp[0][1], 0])
            + bytes([2, (samp[1][0] << 4) | samp[1][1], 1])
            + bytes([3, (samp[2][0] << 4) | samp[2][1], 1])
        )
        dqt = _seg(
            0xDB,
            bytes([0x00])
            + bytes(int(_QTABLE[r, c]) for r, c in _ZIGZAG)
            + bytes([0x01])
            + bytes(int(_QTABLE_C[r, c]) for r, c in _ZIGZAG),
        )
        dht = (
            _seg(0xC4, _dht_body(0x00, _DC_BITS, _DC_VALS))
            + _seg(0xC4, _dht_body(0x10, _AC_BITS, _AC_VALS))
            + _seg(0xC4, _dht_body(0x01, _DC_BITS_C, _DC_VALS))
            + _seg(0xC4, _dht_body(0x11, _AC_BITS_C, _AC_VALS))
        )
    else:
        raise ValueError("progressive branch encodes 1 or 3 channels")
    nc = len(samp)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # quantized zigzag blocks on the MCU grid — per-block arithmetic
    # IDENTICAL to the baseline encoders (the equality gate depends on
    # it; batched matmul could differ by an ulp at a rounding boundary)
    Z = []
    for (hi, vi), plane, q in zip(samp, planes, qts):
        nby, nbx = mcuy * vi, mcux * hi
        z = np.empty((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                block = plane[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8]
                coef = _C @ (block - 128.0) @ _C.T
                z[by, bx] = np.rint(coef / q).astype(np.int64)[_ZZ_ROWS, _ZZ_COLS]
        Z.append(z)

    def sos(comp_list: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_list)])
        for ci in comp_list:
            body += bytes([comp_ids[ci], tsel[ci]])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    AL = 1
    out = bytearray(
        b"\xff\xd8"
        + dqt
        + _seg(
            0xC2,
            bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + sof_comps,
        )
        + dht
    )

    # scan 1: DC first, interleaved, Al=1 (arithmetic-shift point transform)
    bw = _BitWriterMSB()
    prev = [0] * nc
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        v = int(Z[ci][my * vi + by, mx * hi + bx, 0]) >> AL
                        diff = v - prev[ci]
                        prev[ci] = v
                        size = _bit_size(diff)
                        code, ln = dc_codes[ci][size]
                        bw.put(code, ln)
                        if size:
                            bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    out += sos(list(range(nc)), 0, 0, 0, AL) + bw.finish()

    bands = ((1, 5), (6, 63))
    # AC first scans: per component, per band, Al=1
    for ci in range(nc):
        hi, vi = samp[ci]
        nbx, nby = _comp_block_grid(w, h, hi, vi, hmax, vmax)
        for b0, b1 in bands:
            bw = _BitWriterMSB()
            _enc_ac_first(bw, Z[ci], nbx, nby, b0, b1, AL, ac_codes[ci])
            out += sos([ci], b0, b1, 0, AL) + bw.finish()

    # DC refinement: interleaved raw bits, Ah=1, Al=0
    bw = _BitWriterMSB()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hi, vi) in enumerate(samp):
                for by in range(vi):
                    for bx in range(hi):
                        bw.put(int(Z[ci][my * vi + by, mx * hi + bx, 0]) & 1, 1)
    out += sos(list(range(nc)), 0, 0, 1, 0) + bw.finish()

    # AC refinement scans: per component, per band, Ah=1, Al=0
    for ci in range(nc):
        hi, vi = samp[ci]
        nbx, nby = _comp_block_grid(w, h, hi, vi, hmax, vmax)
        for b0, b1 in bands:
            bw = _BitWriterMSB()
            _enc_ac_refine(bw, Z[ci], nbx, nby, b0, b1, 0, ac_codes[ci])
            out += sos([ci], b0, b1, 1, 0) + bw.finish()

    return bytes(out + b"\xff\xd9")


class _BitReaderMSB:
    """MSB-first bit reader over entropy-coded data with byte
    unstuffing (0xFF 0x00 → 0xFF); stops at any other marker.

    r14 perf rework (behavior-identical; the whole suite's bit-level
    pins and corrupt-stream error messages are the regression gate):
    fills are buffered through ``_try_fill`` so ``peek16`` can look
    ahead WITHOUT consuming past a marker (the stop reason is recorded
    and only raised if a read actually needs those bits — exactly the
    lazy semantics the bit-by-bit reader had), and ``bits`` extracts
    in one mask instead of n ``bit()`` calls."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self._stop: str | None = None  # why filling stopped, lazily raised

    def _try_fill(self) -> bool:
        """Buffer one more (unstuffed) byte; False at end-of-data, a
        dangling 0xFF, or a marker — recording the exact message the
        eager reader used to raise, WITHOUT consuming the marker."""
        if self._stop is not None:
            return False
        if self.pos >= len(self.data):
            self._stop = "entropy stream ran out of bytes"
            return False
        byte = self.data[self.pos]
        if byte == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt is None:
                self._stop = "entropy stream truncated at a dangling 0xFF"
                return False
            if nxt != 0x00:
                self._stop = f"marker 0xFF{nxt:02x} inside entropy data"
                return False
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8
        return True

    def _fill(self) -> None:
        if not self._try_fill():
            stop, self._stop = self._stop, None
            raise ValueError(stop)

    def bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek16(self) -> int:
        """The next 16 bits WITHOUT consuming, 1-padded past the end of
        the entropy segment (the encoder 1-pads its final byte, so a
        valid symbol never needs the virtual bits)."""
        while self.nbits < 16 and self._try_fill():
            pass
        if self.nbits >= 16:
            return (self.acc >> (self.nbits - 16)) & 0xFFFF
        pad = 16 - self.nbits
        return ((self.acc << pad) | ((1 << pad) - 1)) & 0xFFFF

    def drop(self, n: int) -> None:
        """Consume ``n`` previously peeked bits; raises the recorded
        stop reason if the stream did not actually hold them."""
        if n > self.nbits:
            stop, self._stop = self._stop, None
            raise ValueError(stop or "entropy stream ran out of bytes")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def restart(self, expect_n: int) -> None:
        """Consume a byte-aligned RSTn marker: discard the current
        byte's remaining fill bits, then require ``FF D(expect_n)`` at
        the stream position."""
        self.acc = 0
        self.nbits = 0
        self._stop = None  # peeks may have parked on this very marker
        if self.pos + 2 > len(self.data):
            raise ValueError("entropy stream truncated at a restart marker")
        got = self.data[self.pos : self.pos + 2]
        want = bytes([0xFF, 0xD0 + expect_n])
        if got != want:
            raise ValueError(f"expected restart marker {want.hex()}, got {got.hex()}")
        self.pos += 2


class _HuffTable(dict):
    """``{(length, code): symbol}`` plus a flat 2^16-entry LUT:
    ``lut[next16bits] = (length << 8) | symbol`` (-1 = invalid code).
    Prefix codes are unique, so the first-match walk and the LUT agree
    on every decodable stream."""

    __slots__ = ("lut",)

    def __init__(self, mapping: dict, lut: list[int]) -> None:
        super().__init__(mapping)
        self.lut = lut


_HUFF_CACHE: dict[tuple[bytes, bytes], "_HuffTable"] = {}


def _huff_lookup(bits: list[int], vals: list[int]) -> "_HuffTable":
    """Canonical decode table from a DHT segment (codes per Annex C) —
    the decode-side form of ``_canonical_codes``. MEMOIZED on the DHT
    bytes (r14): a lake's files overwhelmingly share tables, and the
    LUT build is per-table work that must not repeat per image."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_CACHE.get(key)
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    lut = [-1] * (1 << 16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            base = code << (16 - length)
            packed = (length << 8) | vals[k]
            lut[base : base + (1 << (16 - length))] = [packed] * (1 << (16 - length))
            code += 1
            k += 1
        code <<= 1
    result = _HuffTable(table, lut)
    _HUFF_CACHE[key] = result
    return result


def _read_symbol(rd: _BitReaderMSB, table: "_HuffTable") -> int:
    packed = table.lut[rd.peek16()]
    if packed < 0:
        # distinguish a genuinely invalid 16-bit code from a stream
        # that simply ended mid-code — the lazy reader raised the
        # fill error in the latter case
        if rd.nbits < 16 and rd._stop is not None:
            stop, rd._stop = rd._stop, None
            raise ValueError(stop)
        raise ValueError("invalid Huffman code (no symbol within 16 bits)")
    rd.drop(packed >> 8)
    return packed & 0xFF


def _extend(bits: int, size: int) -> int:
    """Amplitude decode per the spec: values with a 0 high bit are the
    one's-complement encodings of negatives."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_block_coefs(
    rd: _BitReaderMSB,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    zz: np.ndarray,
    prev_dc: int,
) -> int:
    """Huffman-decode one SEQUENTIAL 8×8 block into the zigzag
    coefficient vector ``zz``; returns the updated DC predictor.
    (Dequantization and the IDCT happen batched at end-of-image — same
    arithmetic order, pairwise matmuls.)"""
    size = _read_symbol(rd, dc_tab)
    prev_dc += _extend(rd.bits(size), size)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_symbol(rd, ac_tab)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError(f"invalid AC symbol 0x{sym:02x}")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _extend(rd.bits(size), size)
        k += 1
    return prev_dc


def _decode_ac_first(
    rd: _BitReaderMSB,
    ac_tab: dict[tuple[int, int], int],
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """Progressive AC 'first' scan (Ah=0) for one block: run-length +
    EOBn band decode per the spec's G.1.2.2; returns the remaining
    EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(rd, ac_tab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) + (rd.bits(r) if r else 0) - 1  # EOBn
        k += r
        if k > se:
            raise ValueError("AC run past the spectral band end")
        zz[k] = _extend(rd.bits(s), s) << al
        k += 1
    return 0


def _decode_ac_refine(
    rd: _BitReaderMSB,
    ac_tab: dict[tuple[int, int], int],
    zz: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """Progressive AC refinement scan (Ah=Al+1) for one block per the
    spec's G.1.2.3: newly-nonzero coefficients arrive as ±1·2^Al with
    zero-HISTORY run lengths; every already-nonzero coefficient passed
    on the way contributes one correction bit; blocks inside an EOB
    run still carry correction bits for the band's nonzero history."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(rd, ac_tab)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + (rd.bits(r) if r else 0)
                    break
                # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("AC refinement amplitude must be ±1")
                newval = p1 if rd.bit() else -p1
            while k <= se:
                if zz[k] != 0:
                    if rd.bit() and (abs(int(zz[k])) & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else -p1
                else:
                    if r == 0:
                        if newval:
                            zz[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0 and rd.bit() and (abs(int(zz[k])) & p1) == 0:
                zz[k] += p1 if zz[k] > 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


# ---------------------------------------------------------------------------
# flat entropy decoder (round 15). The reader-class path above is kept,
# bit-identical, as ``_parse_jpeg_reference`` — the readable spec mirror
# and the codec seam's proven alternate implementation (VERDICT r14 §7).
# The default ``_parse_jpeg`` decodes each entropy-coded segment from a
# single unstuffed buffer with a local-variable bit cursor and the
# 2^16 LUT — no per-symbol method calls, no incremental fill machinery —
# and accumulates coefficients in plain Python block lists (cheap scalar
# reads for progressive refinement history) that convert to numpy once
# at EOI. Both paths share the marker walk, the Huffman/DQT tables, and
# the dequant+IDCT tail, so every container-level error message is
# common by construction; entropy-level error equality (including the
# lazy marker-stop semantics) is pinned by an A/B battery over the fuzz
# corpus in tests/test_jpeg.py.


def _unstuff_ecs(data: bytes, start: int) -> tuple[bytes, str, list[int]]:
    """Unstuff one entropy-coded segment (0xFF 0x00 -> 0xFF) starting at
    ``start``: returns ``(unstuffed bytes, stop reason, stuffed indices)``.
    The stop reason is the EXACT message the lazy reader records at the
    same boundary — raised only if the decode actually needs bits past
    it. ``stuffed`` holds the unstuffed index of every stuffed 0xFF, so
    an unstuffed byte count maps back to a raw offset (each stuffed byte
    consumed two raw bytes)."""
    out = bytearray()
    stuffed: list[int] = []
    p = start
    n = len(data)
    while True:
        f = data.find(b"\xff", p)
        if f < 0:
            out += data[p:]
            return bytes(out), "entropy stream ran out of bytes", stuffed
        out += data[p:f]
        if f + 1 >= n:
            return (
                bytes(out),
                "entropy stream truncated at a dangling 0xFF",
                stuffed,
            )
        nxt = data[f + 1]
        if nxt != 0x00:
            return bytes(out), f"marker 0xFF{nxt:02x} inside entropy data", stuffed
        stuffed.append(len(out))
        out.append(0xFF)
        p = f + 2


def _raise_symbol(avail_bits: int, stop: str) -> None:
    """The reader path's symbol-failure precedence: a 16-bit window that
    ran into the segment boundary raises the recorded stop reason; a
    full window with no LUT hit is a genuinely invalid code."""
    if avail_bits < 16:
        raise ValueError(stop)
    raise ValueError("invalid Huffman code (no symbol within 16 bits)")


def _flat_end_pos(
    chunk_start: int,
    chunk_len: int,
    stuffed: list[int],
    lastpeek: int | None,
    bitpos: int,
) -> int:
    """Raw position the lazy reader would have advanced to: fills are
    byte-granular and driven by the LAST 16-bit symbol peek (fills to
    ``ceil((peekpos+16)/8)``) and the final consume (``ceil(bitpos/8)``),
    both clamped to the segment; stuffed bytes map 1 unstuffed -> 2 raw."""
    filled = (bitpos + 7) >> 3
    if lastpeek is not None:
        peek_fill = (lastpeek + 23) >> 3
        if peek_fill > filled:
            filled = peek_fill
    if filled > chunk_len:
        filled = chunk_len
    return chunk_start + filled + bisect_left(stuffed, filled)


def _flat_read_bits(
    padded: bytes, bitpos: int, size: int, navail: int, stop: str
) -> tuple[int, int]:
    """Arbitrary-width amplitude read (sizes a hostile DHT can push past
    the 3-byte fast window); returns ``(value, new bitpos)``."""
    if bitpos + size > navail:
        raise ValueError(stop)
    i0 = bitpos >> 3
    i1 = (bitpos + size + 7) >> 3
    v = (int.from_bytes(padded[i0:i1], "big") >> (i1 * 8 - bitpos - size)) & (
        (1 << size) - 1
    )
    return v, bitpos + size


def _decode_baseline_scan_flat(
    payload: bytes,
    ecs_start: int,
    per: list[tuple[int, int, list[int], list[int]]],
    blocks: list[list[list[int]]],
    mcux: int,
    mcuy: int,
    restart_interval: int,
) -> int:
    """Flat sequential-scan decode: one interleaved pass over the MCU
    grid writing (DC-predicted) zigzag coefficients into per-block
    Python lists. DRI restart intervals rechunk the unstuffed buffer at
    each byte-aligned RSTn (ordinal checked, predictors reset). Returns
    the raw position after the segment — the marker-walk resume point."""
    buf, stop, stuffed = _unstuff_ecs(payload, ecs_start)
    chunk_start = ecs_start
    padded = buf + b"\xff\xff\xff"
    navail = len(buf) * 8
    chunk_len = len(buf)
    bitpos = 0
    lastpeek: int | None = None
    ncomp = len(per)
    prev = [0] * ncomp
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                raw_pos = _flat_end_pos(
                    chunk_start, chunk_len, stuffed, lastpeek, bitpos
                )
                if raw_pos + 2 > len(payload):
                    raise ValueError("entropy stream truncated at a restart marker")
                got = payload[raw_pos : raw_pos + 2]
                want = bytes([0xFF, 0xD0 + (mcu_i // restart_interval - 1) % 8])
                if got != want:
                    raise ValueError(
                        f"expected restart marker {want.hex()}, got {got.hex()}"
                    )
                chunk_start = raw_pos + 2
                buf, stop, stuffed = _unstuff_ecs(payload, chunk_start)
                padded = buf + b"\xff\xff\xff"
                navail = len(buf) * 8
                chunk_len = len(buf)
                bitpos = 0
                lastpeek = None
                prev = [0] * ncomp
            mcu_i += 1
            for ci in range(ncomp):
                hi, vi, dc_lut, ac_lut = per[ci]
                nbx_t = mcux * hi
                comp_blocks = blocks[ci]
                p_dc = prev[ci]
                for by in range(vi):
                    row0 = (my * vi + by) * nbx_t + mx * hi
                    for bx in range(hi):
                        blk = comp_blocks[row0 + bx]
                        # DC: size category, then the amplitude bits
                        lastpeek = bitpos
                        i = bitpos >> 3
                        r = bitpos & 7
                        w = (
                            (padded[i] << 16 | padded[i + 1] << 8 | padded[i + 2])
                            >> (8 - r)
                        ) & 0xFFFF
                        packed = dc_lut[w]
                        if packed < 0:
                            _raise_symbol(navail - bitpos, stop)
                        size = packed & 0xFF
                        bitpos += packed >> 8
                        if bitpos > navail:
                            raise ValueError(stop)
                        if size:
                            r = bitpos & 7
                            if r + size <= 24:
                                if bitpos + size > navail:
                                    raise ValueError(stop)
                                i = bitpos >> 3
                                v = (
                                    (
                                        padded[i] << 16
                                        | padded[i + 1] << 8
                                        | padded[i + 2]
                                    )
                                    >> (24 - r - size)
                                ) & ((1 << size) - 1)
                                bitpos += size
                            else:
                                v, bitpos = _flat_read_bits(
                                    padded, bitpos, size, navail, stop
                                )
                            p_dc += (
                                v
                                if v >= (1 << (size - 1))
                                else v - (1 << size) + 1
                            )
                        blk[0] = p_dc
                        # AC run-length loop
                        k = 1
                        while k < 64:
                            lastpeek = bitpos
                            i = bitpos >> 3
                            r = bitpos & 7
                            w = (
                                (
                                    padded[i] << 16
                                    | padded[i + 1] << 8
                                    | padded[i + 2]
                                )
                                >> (8 - r)
                            ) & 0xFFFF
                            packed = ac_lut[w]
                            if packed < 0:
                                _raise_symbol(navail - bitpos, stop)
                            sym = packed & 0xFF
                            bitpos += packed >> 8
                            if bitpos > navail:
                                raise ValueError(stop)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    raise ValueError(
                                        f"invalid AC symbol 0x{sym:02x}"
                                    )
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            if bitpos + size > navail:
                                raise ValueError(stop)
                            i = bitpos >> 3
                            r = bitpos & 7
                            v = (
                                (
                                    padded[i] << 16
                                    | padded[i + 1] << 8
                                    | padded[i + 2]
                                )
                                >> (24 - r - size)
                            ) & ((1 << size) - 1)
                            bitpos += size
                            blk[k] = (
                                v
                                if v >= (1 << (size - 1))
                                else v - (1 << size) + 1
                            )
                            k += 1
                prev[ci] = p_dc
    return _flat_end_pos(chunk_start, chunk_len, stuffed, lastpeek, bitpos)


def _decode_dc_scan_flat(
    payload: bytes,
    ecs_start: int,
    scan_blocks: list[tuple[list[list[int]], int, int, int, list[int] | None]],
    mcux: int,
    mcuy: int,
    interleaved: bool,
    single_grid: tuple[int, int] | None,
    ah: int,
    al: int,
) -> int:
    """Flat progressive DC scan (first Ah=0 or refinement), interleaved
    MCU order or a single component's own block grid. ``scan_blocks``
    carries ``(component blocks, hi, vi, nbx_total, dc_lut-or-None)``
    per scan component in scan order."""
    buf, stop, stuffed = _unstuff_ecs(payload, ecs_start)
    padded = buf + b"\xff\xff\xff"
    navail = len(buf) * 8
    chunk_len = len(buf)
    bitpos = 0
    lastpeek: int | None = None
    prev = [0] * len(scan_blocks)
    if interleaved:
        for mcu in range(mcuy * mcux):
            my, mx = divmod(mcu, mcux)
            for si, (comp_blocks, hi, vi, nbx_t, dc_lut) in enumerate(
                scan_blocks
            ):
                for by in range(vi):
                    row0 = (my * vi + by) * nbx_t + mx * hi
                    for bx in range(hi):
                        blk = comp_blocks[row0 + bx]
                        if ah == 0:
                            lastpeek = bitpos
                            i = bitpos >> 3
                            r = bitpos & 7
                            w = (
                                (
                                    padded[i] << 16
                                    | padded[i + 1] << 8
                                    | padded[i + 2]
                                )
                                >> (8 - r)
                            ) & 0xFFFF
                            packed = dc_lut[w]
                            if packed < 0:
                                _raise_symbol(navail - bitpos, stop)
                            size = packed & 0xFF
                            bitpos += packed >> 8
                            if bitpos > navail:
                                raise ValueError(stop)
                            if size:
                                v, bitpos = _flat_read_bits(
                                    padded, bitpos, size, navail, stop
                                )
                                prev[si] += (
                                    v
                                    if v >= (1 << (size - 1))
                                    else v - (1 << size) + 1
                                )
                            blk[0] = prev[si] << al
                        else:  # refinement: one raw correction bit
                            if bitpos >= navail:
                                raise ValueError(stop)
                            bit = (padded[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                            bitpos += 1
                            blk[0] |= bit << al
    else:
        comp_blocks, hi, vi, nbx_t, dc_lut = scan_blocks[0]
        nbx, nby = single_grid
        for by in range(nby):
            row0 = by * nbx_t
            for bx in range(nbx):
                blk = comp_blocks[row0 + bx]
                if ah == 0:
                    lastpeek = bitpos
                    i = bitpos >> 3
                    r = bitpos & 7
                    w = (
                        (padded[i] << 16 | padded[i + 1] << 8 | padded[i + 2])
                        >> (8 - r)
                    ) & 0xFFFF
                    packed = dc_lut[w]
                    if packed < 0:
                        _raise_symbol(navail - bitpos, stop)
                    size = packed & 0xFF
                    bitpos += packed >> 8
                    if bitpos > navail:
                        raise ValueError(stop)
                    if size:
                        v, bitpos = _flat_read_bits(
                            padded, bitpos, size, navail, stop
                        )
                        prev[0] += (
                            v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        )
                    blk[0] = prev[0] << al
                else:
                    if bitpos >= navail:
                        raise ValueError(stop)
                    bit = (padded[bitpos >> 3] >> (7 - (bitpos & 7))) & 1
                    bitpos += 1
                    blk[0] |= bit << al
    return _flat_end_pos(ecs_start, chunk_len, stuffed, lastpeek, bitpos)


def _decode_ac_scan_flat(
    payload: bytes,
    ecs_start: int,
    comp_blocks: list[list[int]],
    nbx: int,
    nby: int,
    nbx_t: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    ac_lut: list[int],
) -> int:
    """Flat progressive AC scan over one component's block grid:
    run-length + EOBn band decode (Ah=0, G.1.2.2) or the ±1·2^Al
    refinement pass with zero-history runs and correction bits for
    every nonzero coefficient (G.1.2.3) — the reader-class functions'
    control flow verbatim, on a local bit cursor and list blocks."""
    buf, stop, stuffed = _unstuff_ecs(payload, ecs_start)
    padded = buf + b"\xff\xff\xff"
    navail = len(buf) * 8
    chunk_len = len(buf)
    bitpos = 0
    lastpeek: int | None = None
    eobrun = 0
    p1 = 1 << al
    for by in range(nby):
        row0 = by * nbx_t
        for bx in range(nbx):
            blk = comp_blocks[row0 + bx]
            if ah == 0:  # first scan for this band
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    lastpeek = bitpos
                    i = bitpos >> 3
                    r = bitpos & 7
                    w = (
                        (padded[i] << 16 | padded[i + 1] << 8 | padded[i + 2])
                        >> (8 - r)
                    ) & 0xFFFF
                    packed = ac_lut[w]
                    if packed < 0:
                        _raise_symbol(navail - bitpos, stop)
                    sym = packed & 0xFF
                    bitpos += packed >> 8
                    if bitpos > navail:
                        raise ValueError(stop)
                    rr, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if rr == 15:
                            k += 16  # ZRL
                            continue
                        ext = 0
                        if rr:
                            if bitpos + rr > navail:
                                raise ValueError(stop)
                            i = bitpos >> 3
                            r = bitpos & 7
                            ext = (
                                (
                                    padded[i] << 16
                                    | padded[i + 1] << 8
                                    | padded[i + 2]
                                )
                                >> (24 - r - rr)
                            ) & ((1 << rr) - 1)
                            bitpos += rr
                        eobrun = (1 << rr) + ext - 1  # EOBn
                        break
                    k += rr
                    if k > se:
                        raise ValueError("AC run past the spectral band end")
                    if bitpos + s > navail:
                        raise ValueError(stop)
                    i = bitpos >> 3
                    r = bitpos & 7
                    v = (
                        (padded[i] << 16 | padded[i + 1] << 8 | padded[i + 2])
                        >> (24 - r - s)
                    ) & ((1 << s) - 1)
                    bitpos += s
                    blk[k] = (
                        v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    ) << al
                    k += 1
            else:  # refinement scan
                k = ss
                if eobrun == 0:
                    while k <= se:
                        lastpeek = bitpos
                        i = bitpos >> 3
                        r = bitpos & 7
                        w = (
                            (
                                padded[i] << 16
                                | padded[i + 1] << 8
                                | padded[i + 2]
                            )
                            >> (8 - r)
                        ) & 0xFFFF
                        packed = ac_lut[w]
                        if packed < 0:
                            _raise_symbol(navail - bitpos, stop)
                        sym = packed & 0xFF
                        bitpos += packed >> 8
                        if bitpos > navail:
                            raise ValueError(stop)
                        rr, s = sym >> 4, sym & 0x0F
                        newval = 0
                        if s == 0:
                            if rr != 15:
                                ext = 0
                                if rr:
                                    if bitpos + rr > navail:
                                        raise ValueError(stop)
                                    i = bitpos >> 3
                                    r = bitpos & 7
                                    ext = (
                                        (
                                            padded[i] << 16
                                            | padded[i + 1] << 8
                                            | padded[i + 2]
                                        )
                                        >> (24 - r - rr)
                                    ) & ((1 << rr) - 1)
                                    bitpos += rr
                                eobrun = (1 << rr) + ext
                                break
                            # ZRL: skip 16 zero-history positions
                        else:
                            if s != 1:
                                raise ValueError(
                                    "AC refinement amplitude must be ±1"
                                )
                            if bitpos >= navail:
                                raise ValueError(stop)
                            bit = (
                                padded[bitpos >> 3] >> (7 - (bitpos & 7))
                            ) & 1
                            bitpos += 1
                            newval = p1 if bit else -p1
                        while k <= se:
                            cur = blk[k]
                            if cur != 0:
                                if bitpos >= navail:
                                    raise ValueError(stop)
                                bit = (
                                    padded[bitpos >> 3] >> (7 - (bitpos & 7))
                                ) & 1
                                bitpos += 1
                                if bit and ((cur if cur >= 0 else -cur) & p1) == 0:
                                    blk[k] = cur + (p1 if cur > 0 else -p1)
                            else:
                                if rr == 0:
                                    if newval:
                                        blk[k] = newval
                                    k += 1
                                    break
                                rr -= 1
                            k += 1
                if eobrun > 0:
                    while k <= se:
                        cur = blk[k]
                        if cur != 0:
                            if bitpos >= navail:
                                raise ValueError(stop)
                            bit = (
                                padded[bitpos >> 3] >> (7 - (bitpos & 7))
                            ) & 1
                            bitpos += 1
                            if bit and ((cur if cur >= 0 else -cur) & p1) == 0:
                                blk[k] = cur + (p1 if cur > 0 else -p1)
                        k += 1
                    eobrun -= 1
    return _flat_end_pos(ecs_start, chunk_len, stuffed, lastpeek, bitpos)


def _parse_jpeg(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a baseline (SOF0) or PROGRESSIVE (SOF2, r13) JPEG per the
    public spec: marker walk (APPn/COM skipped), DQT/DHT parsed FROM
    THE FILE, per-component sampling factors, then one interleaved
    sequential scan (baseline) or ANY conforming progression of scans
    (progressive: interleaved or single-component, spectral selection
    Ss..Se, successive approximation Ah/Al for DC and AC — EOBn runs,
    ±1 refinements, correction bits). Coefficients accumulate across
    scans; dequantization + the IDCT run once at EOI. Grayscale and
    YCbCr (sampling factors 1-2 each axis) are in scope; chroma is
    upsampled by sample replication and converted to RGB per BT.601.
    DRI restart intervals are honored in baseline scans (byte-align +
    RSTn ordinal check + predictor reset); restarts inside progressive
    scans are out of scope (rejected), as are non-interleaved SOF0
    multi-scan files. Returns ``(channels, width, height, pixels)``
    shaped ``(h, w, channels)`` — the ``_parse_netpbm`` contract.

    Entropy decoding runs the FLAT engine (r15): each segment is
    unstuffed once and walked with a local bit cursor + the 2^16 LUT.
    ``_parse_jpeg_reference`` is the reader-class twin, pinned A/B
    equal (pixels AND error messages) over the corpus + fuzz battery
    in tests/test_jpeg.py."""
    return _parse_jpeg_impl(payload, fast=True)


def _parse_jpeg_reference(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """The reader-class decoder (``_BitReaderMSB`` + per-block
    functions) — retained bit-identical as the readable spec mirror
    and as the codec seam's PROVEN alternate: tests/test_jpeg.py swaps
    it in through the report operators' ``decoder=`` hook, exercising
    the documented libjpeg-arrival substitution path end-to-end with a
    real second implementation (VERDICT r14 'What's missing' §7)."""
    return _parse_jpeg_impl(payload, fast=False)


def _parse_jpeg_impl(
    payload: bytes, fast: bool
) -> tuple[int, int, int, np.ndarray]:
    """Shared container walk for both decoders: marker/segment parse,
    DQT/DHT/SOF/DRI handling, scan-header validation, and the batched
    dequant+IDCT tail are common (so every container-level error is
    shared by construction); only the entropy-coded-segment engine
    differs — ``fast`` walks the flat unstuffed buffer into per-block
    Python lists, the reference path drives ``_BitReaderMSB`` into
    numpy planes."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG payload: {payload[:2]!r}")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, dict[tuple[int, int], int]] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] | None = None  # (cid, h, v, tq)
    progressive = False
    restart_interval = 0
    coefs: list[np.ndarray] = []  # reference: per comp (nby, nbx, 64) int64
    blocks: list[list[list[int]]] = []  # fast: per comp, flat block lists
    hmax = vmax = mcux = mcuy = 0
    saw_scan = False
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + length]
        if len(body) != length - 2:
            raise ValueError(f"truncated segment 0xFF{marker:02x}")
        if marker == 0xDB:  # DQT (possibly several tables)
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                tbl = np.zeros((8, 8), dtype=np.int64)
                tbl[_ZZ_ROWS, _ZZ_COLS] = np.frombuffer(b[1:65], dtype=np.uint8)
                qtables[tq] = tbl
                b = b[65:]
        elif marker == 0xC4:  # DHT (possibly several tables)
            b = body
            while b:
                tc_th = b[0]
                bits = list(b[1:17])
                n = sum(bits)
                vals = list(b[17 : 17 + n])
                htables[tc_th] = _huff_lookup(bits, vals)
                b = b[17 + n :]
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            if body[0] != 8:
                raise ValueError("8-bit sample precision only")
            nf = body[5]
            if nf not in (1, 3):
                raise ValueError("1 (grayscale) or 3 (YCbCr) components only")
            comps = []
            for i in range(nf):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                hi, vi = hv >> 4, hv & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(f"sampling factors {hi}x{vi} not supported")
                comps.append((cid, hi, vi, body[8 + 3 * i]))
            if nf == 1 and (comps[0][1], comps[0][2]) != (1, 1):
                raise ValueError("subsampled single component not supported")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux, mcuy = -(-width // (8 * hmax)), -(-height // (8 * vmax))
            # sanity bound BEFORE allocating coefficient planes: every
            # block costs ≥ 2 bits of entropy data (a DC symbol + an
            # EOB, ≥ 1 bit each even with degenerate tables), so a
            # header declaring more blocks than 4× the FILE bytes is
            # corrupt — without this, a flipped dim byte could demand
            # a multi-GB allocation and an hours-long MCU loop
            total_blocks = sum(
                (mcuy * vi) * (mcux * hi) for _, hi, vi, _ in comps
            )
            if total_blocks > 4 * len(payload):
                raise ValueError(
                    f"SOF declares {total_blocks} blocks but the file "
                    f"has only {len(payload)} bytes"
                )
            if fast:
                blocks = [
                    [[0] * 64 for _ in range(mcuy * vi * mcux * hi)]
                    for _, hi, vi, _ in comps
                ]
            else:
                coefs = [
                    np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                    for _, hi, vi, _ in comps
                ]
        elif marker in (
            0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,  # incl. arithmetic differential
        ):
            raise ValueError(f"non-baseline SOF 0xFF{marker:02x} not supported")
        elif marker == 0xCC:  # DAC — arithmetic conditioning
            raise ValueError("arithmetic-coded JPEG (DAC) not supported")
        elif marker == 0xDD:  # DRI — restart interval in MCUs
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy data follows
            if width is None or height is None or comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            sel: dict[int, tuple[int, int]] = {}
            scan_cids: list[int] = []
            for i in range(ns):
                scan_cids.append(body[1 + 2 * i])
                sel[body[1 + 2 * i]] = (
                    body[2 + 2 * i] >> 4,
                    body[2 + 2 * i] & 0x0F,
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            ecs_start = pos + 2 + length
            cid_index = {c[0]: i for i, c in enumerate(comps)}
            if not progressive:
                if ns != len(comps):
                    raise ValueError("non-interleaved scans not supported")
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError("baseline scans must cover Ss=0..Se=63")
                per = []
                for cid, hi, vi, tq in comps:
                    dc_sel, ac_sel = sel[cid]
                    dc_tab = htables.get(0x00 | dc_sel)
                    ac_tab = htables.get(0x10 | ac_sel)
                    if dc_tab is None or ac_tab is None or tq not in qtables:
                        raise ValueError("scan references missing DHT/DQT tables")
                    per.append((hi, vi, dc_tab, ac_tab))
                if fast:
                    pos = _decode_baseline_scan_flat(
                        payload,
                        ecs_start,
                        [(hi, vi, dc.lut, ac.lut) for hi, vi, dc, ac in per],
                        blocks,
                        mcux,
                        mcuy,
                        restart_interval,
                    )
                else:
                    rd = _BitReaderMSB(payload, ecs_start)
                    prev = [0] * len(comps)
                    mcu_i = 0
                    for my in range(mcuy):
                        for mx in range(mcux):
                            if (
                                restart_interval
                                and mcu_i
                                and mcu_i % restart_interval == 0
                            ):
                                # byte-align, consume RSTn (n cycles 0-7),
                                # reset every component's DC predictor —
                                # per the spec
                                rd.restart(
                                    (mcu_i // restart_interval - 1) % 8
                                )
                                prev = [0] * len(comps)
                            mcu_i += 1
                            for ci, (hi, vi, dc_tab, ac_tab) in enumerate(per):
                                for by in range(vi):
                                    for bx in range(hi):
                                        prev[ci] = _decode_block_coefs(
                                            rd,
                                            dc_tab,
                                            ac_tab,
                                            coefs[ci][
                                                my * vi + by, mx * hi + bx
                                            ],
                                            prev[ci],
                                        )
                    pos = rd.pos
            else:
                if restart_interval:
                    raise ValueError(
                        "restart intervals in progressive scans not supported"
                    )
                if ah and ah != al + 1:
                    raise ValueError("successive approximation must refine by 1 bit")
                if ss == 0:  # DC scan (interleaved or single-component)
                    if se != 0:
                        raise ValueError("DC scans must have Se=0")
                    order = [cid_index[c] for c in scan_cids]
                    # resolve each component's DC table ONCE, before the
                    # MCU loops (fail fast on a missing table, no per-block
                    # dict lookup — the baseline path's discipline)
                    dc_tabs: dict[int, dict] = {}
                    if ah == 0:
                        for ci in order:
                            dc_tab = htables.get(0x00 | sel[comps[ci][0]][0])
                            if dc_tab is None:
                                raise ValueError("missing DC table")
                            dc_tabs[ci] = dc_tab
                    if fast:
                        scan_blocks = [
                            (
                                blocks[ci],
                                comps[ci][1],
                                comps[ci][2],
                                mcux * comps[ci][1],
                                dc_tabs[ci].lut if ah == 0 else None,
                            )
                            for ci in order
                        ]
                        grid = None
                        if ns == 1:
                            _, hi, vi, _ = comps[order[0]]
                            grid = _comp_block_grid(
                                width, height, hi, vi, hmax, vmax
                            )
                        pos = _decode_dc_scan_flat(
                            payload,
                            ecs_start,
                            scan_blocks,
                            mcux,
                            mcuy,
                            ns > 1,
                            grid,
                            ah,
                            al,
                        )
                    else:
                        rd = _BitReaderMSB(payload, ecs_start)
                        prev = {ci: 0 for ci in order}
                        if ns > 1:  # interleaved: MCU order
                            for my in range(mcuy):
                                for mx in range(mcux):
                                    for ci in order:
                                        _, hi, vi, _ = comps[ci]
                                        for by in range(vi):
                                            for bx in range(hi):
                                                zz = coefs[ci][
                                                    my * vi + by, mx * hi + bx
                                                ]
                                                if ah == 0:
                                                    size = _read_symbol(
                                                        rd, dc_tabs[ci]
                                                    )
                                                    prev[ci] += _extend(
                                                        rd.bits(size), size
                                                    )
                                                    zz[0] = prev[ci] << al
                                                else:  # refinement: one raw bit
                                                    zz[0] |= rd.bit() << al
                        else:
                            ci = order[0]
                            _, hi, vi, _ = comps[ci]
                            nbx, nby = _comp_block_grid(
                                width, height, hi, vi, hmax, vmax
                            )
                            for by in range(nby):
                                for bx in range(nbx):
                                    zz = coefs[ci][by, bx]
                                    if ah == 0:
                                        size = _read_symbol(rd, dc_tabs[ci])
                                        prev[ci] += _extend(rd.bits(size), size)
                                        zz[0] = prev[ci] << al
                                    else:
                                        zz[0] |= rd.bit() << al
                        pos = rd.pos
                else:  # AC scan: single component only, per the spec
                    if ns != 1:
                        raise ValueError("progressive AC scans carry one component")
                    if not 1 <= ss <= se <= 63:
                        raise ValueError("bad spectral band")
                    ci = cid_index[scan_cids[0]]
                    _, hi, vi, _ = comps[ci]
                    _, ac_sel = sel[comps[ci][0]]
                    ac_tab = htables.get(0x10 | ac_sel)
                    if ac_tab is None:
                        raise ValueError("missing AC table")
                    nbx, nby = _comp_block_grid(width, height, hi, vi, hmax, vmax)
                    if fast:
                        pos = _decode_ac_scan_flat(
                            payload,
                            ecs_start,
                            blocks[ci],
                            nbx,
                            nby,
                            mcux * hi,
                            ss,
                            se,
                            ah,
                            al,
                            ac_tab.lut,
                        )
                    else:
                        rd = _BitReaderMSB(payload, ecs_start)
                        eobrun = 0
                        dec = _decode_ac_refine if ah else _decode_ac_first
                        for by in range(nby):
                            for bx in range(nbx):
                                eobrun = dec(
                                    rd,
                                    ac_tab,
                                    coefs[ci][by, bx],
                                    ss,
                                    se,
                                    al,
                                    eobrun,
                                )
                        pos = rd.pos
            saw_scan = True
            continue
        # APPn / COM / anything else: skipped by the length field
        pos += 2 + length
    if not saw_scan or comps is None:
        raise ValueError("no SOS scan before EOI")
    if fast:
        coefs = [
            np.array(blocks[ci], dtype=np.int64).reshape(
                mcuy * vi, mcux * hi, 64
            )
            for ci, (_, hi, vi, _) in enumerate(comps)
        ]
    # dequantize + IDCT, batched per component (pairwise matmuls — the
    # same arithmetic order as the per-block form)
    planes = []
    for (cid, hi, vi, tq), z in zip(comps, coefs):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("missing quantization table")
        mat = np.zeros((z.shape[0], z.shape[1], 8, 8), dtype=np.float64)
        mat[:, :, _ZZ_ROWS, _ZZ_COLS] = z
        mat *= q
        blocks8 = np.matmul(np.matmul(_C.T, mat), _C) + 128.0
        plane = blocks8.transpose(0, 2, 1, 3).reshape(z.shape[0] * 8, z.shape[1] * 8)
        planes.append(plane)
    if len(comps) == 1:
        px = np.clip(np.rint(planes[0][:height, :width]), 0, 255).astype(np.uint8)
        return 1, width, height, px.reshape(height, width, 1)
    full = []
    for (_, hi, vi, _), plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(up[:height, :width])
    rgb = _ycbcr_to_rgb(full[0], full[1], full[2])
    return 3, width, height, rgb


def _comp_block_grid(
    width: int, height: int, hi: int, vi: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """Block grid of a NON-INTERLEAVED scan per the spec: derived from
    the component's own dims (ceil(w·hi/hmax) × ceil(h·vi/vmax), then
    ceil/8) — smaller than the MCU-padded grid when the image width or
    height is not an MCU multiple."""
    cw = -(-width * hi // hmax)
    ch = -(-height * vi // vmax)
    return -(-cw // 8), -(-ch // 8)


# ---------------------------------------------------------------------------
# Spark surface

def encode_jpeg(docs: DataFrame) -> DataFrame:
    """Encode each document as a baseline grayscale JPEG — REAL DCT +
    quantization + canonical Huffman entropy coding. Geometry and
    source raster use the SAME md5 arithmetic as the other image
    encoders (``width = md5(text) % 16 + 1``, digest-cycled
    pixels), which is what lets the registered query bound the LOSSY
    reconstruction against a known source deterministically. Keeps the
    ``text`` column alongside the payload so the evaluation stage can
    recompute the source raster per row without a join. Arrow-batched
    ``mapInPandas``, map-only; the input rides ``fan_out`` (r15) so a
    small local corpus arriving as one parquet split spreads the
    kernel-bound stage across the session's cores — on a many-split
    production table the guard is a no-op and the stage stays
    exchange-free. Reads ``doc_id`` and ``text``."""
    import hashlib

    from kafka_streams_common_spark.operators.dedup import fan_out

    docs = fan_out(docs)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )

    def encode(did, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        raster = (bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h]
        px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 1)
        yield did, _encode_jpeg_bytes(px), text

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


JPEG_RECON_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("max_err_le_32", T.BooleanType(), True),
        T.StructField("mean_err_le_12", T.BooleanType(), True),
    ]
)


def decode_jpeg_recon_report(images: DataFrame, decoder=None) -> DataFrame:
    """Arrow-batched JPEG decode + reconstruction report over
    ``(doc_id, payload, text)``: parses the container (markers, DHT/DQT
    from the file, Huffman, dequant, IDCT), recomputes the md5-derived
    SOURCE raster from ``text``, and emits the recovered dims plus
    deterministic error-bound booleans (max |err| ≤ 32, mean |err| ≤ 12 —
    the (u+v)-ramp quantization table's measured worst case across the
    sf0.001/0.01/0.1 corpora is max 18 / mean 7.25 (md5 rasters are
    white noise, the hardest DCT content; tiny images dominate the
    mean), so the gates carry ~1.7× headroom while a broken
    unquant/IDCT/Huffman path lands at mean ≈50+). Dims and pixel
    count come from the SOF0 parse, NOT passed through.

    ``decoder`` (r14, the codec seam): a callable ``payload →
    (channels, width, height, pixels)`` replacing the pure-Python
    ``_parse_jpeg`` — a libjpeg/PIL arrival is a one-argument swap
    (contract-tested with a fake native decoder in
    tests/test_jpeg.py)."""
    import hashlib

    decode = decoder if decoder is not None else _parse_jpeg

    def report(did, p, text):
        channels, w, h, px = decode(bytes(p))
        hx = hashlib.md5(text.encode()).hexdigest()
        raster = (bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h]
        src = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 1)
        err = np.abs(px.astype(np.int64) - src.astype(np.int64))
        yield {
            "doc_id": did,
            "format": "jpeg",
            "width": w,
            "height": h,
            "n_px": w * h,
            "max_err_le_32": bool(err.max() <= 32),
            "mean_err_le_12": bool(err.mean() <= 12.0),
        }

    return row_kernel(
        images.select("doc_id", "payload", "text"), report, JPEG_RECON_SCHEMA
    )


# ---------------------------------------------------------------------------
# color Spark surface (round 13)


def _md5_color_image(text: str, dim_mod: int = 32) -> np.ndarray:
    """Deterministic ``(h, w, 3)`` RGB source raster from a document:
    md5-derived dims (``% dim_mod + 1`` — 32 here, so multi-MCU images
    occur in every mode), a white-noise LUMA plane (digest-cycled,
    range 48..207 — the hardest DCT content), and CONSTANT-PER-16×16-TILE
    chroma in 104..151 derived from digest bytes. The ranges keep the
    YCbCr values inside the RGB cube (no conversion clipping), and the
    16-aligned constant chroma tiles make 4:2:0/4:2:2 box-averaging
    EXACT — so the registered query's reconstruction gate stays as tight
    as the grayscale one (measured corpus worst: max 16 / mean 4.0 in
    all three modes) while a swapped Cb/Cr, wrong upsample, or
    mixed-up per-component table selector shifts whole channels and
    lands far outside it. Noise-chroma subsampling loss is pinned
    separately in tests/test_jpeg.py with its own measured bounds."""
    import hashlib

    hx = hashlib.md5(text.encode()).hexdigest()
    d = bytes.fromhex(hx)
    w = int(hx[:15], 16) % dim_mod + 1
    h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % dim_mod + 1
    n = w * h
    raster = (d * ((n + 15) // 16))[:n]
    y = (48.0 + (np.frombuffer(raster, np.uint8).astype(np.float64) % 160)).reshape(
        h, w
    )
    ty, tx = -(-h // 16), -(-w // 16)
    cb_t = np.array(
        [[104.0 + d[(r * 7 + c * 3) % 16] % 48 for c in range(tx)] for r in range(ty)]
    )
    cr_t = np.array(
        [
            [104.0 + d[(r * 5 + c * 11 + 1) % 16] % 48 for c in range(tx)]
            for r in range(ty)
        ]
    )
    cb = np.repeat(np.repeat(cb_t, 16, axis=0), 16, axis=1)[:h, :w]
    cr = np.repeat(np.repeat(cr_t, 16, axis=0), 16, axis=1)[:h, :w]
    return _ycbcr_to_rgb(y, cb, cr)


def _sof_info(payload: bytes) -> tuple[str, str]:
    """Header-only marker walk to the SOF segment; returns
    ``(mode, subsample)`` with mode 'baseline' (SOF0) or 'progressive'
    (SOF2) and subsampling '444' / '422' / '440' / '420' / 'gray' (the
    ``_SUBSAMPLE_FACTORS`` names) or 'other' for any factor combination
    outside that set — both RECOVERED from the file, not passed
    through."""
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker in (0xC0, 0xC2):
            mode = "baseline" if marker == 0xC0 else "progressive"
            body = payload[pos + 4 : pos + 2 + length]
            nf = body[5]
            if nf == 1:
                return mode, "gray"
            factors = tuple(
                (body[7 + 3 * i] >> 4, body[7 + 3 * i] & 0x0F) for i in range(nf)
            )
            for name, samp in _SUBSAMPLE_FACTORS.items():
                if factors == samp:
                    return mode, name
            return mode, "other"
        pos += 2 + length
    raise ValueError("no SOF segment")


def _sof_sampling(payload: bytes) -> str:
    """The subsample leg of :func:`_sof_info`."""
    return _sof_info(payload)[1]


def _sof_header(payload: bytes) -> tuple[str, str, int, int]:
    """Header-only marker walk (no entropy decode): returns
    ``(mode, subsample, width, height)`` — everything the SOF segment
    carries, recovered from the file. This is the cheap corpus-wide leg
    of the progressive gate (r14): geometry and mode recovery cost one
    marker walk, while the full dual-decode equality runs on the
    deterministic sub-lake."""
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker in (0xC0, 0xC2):
            mode = "baseline" if marker == 0xC0 else "progressive"
            body = payload[pos + 4 : pos + 2 + length]
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
            nf = body[5]
            if nf == 1:
                return mode, "gray", width, height
            factors = tuple(
                (body[7 + 3 * i] >> 4, body[7 + 3 * i] & 0x0F) for i in range(nf)
            )
            for name, samp in _SUBSAMPLE_FACTORS.items():
                if factors == samp:
                    return mode, name, width, height
            return mode, "other", width, height
        pos += 2 + length
    raise ValueError("no SOF segment")


def _default_jpeg_encoder(px: np.ndarray, subsample: str, progressive: bool) -> bytes:
    """The pure-Python encode side of the codec seam (r14): the default
    for the report operators' ``encoder=`` hook. A libjpeg-backed
    callable with this signature is a drop-in swap."""
    if progressive:
        return _encode_jpeg_progressive_bytes(px, subsample)
    return _encode_jpeg_color_bytes(px, subsample)


def encode_jpeg_color(
    docs: DataFrame,
    restart_interval: int = 0,
) -> DataFrame:
    """Encode each document as a baseline YCbCr COLOR JPEG of its
    md5-derived RGB raster (``_md5_color_image``): even ``doc_id`` →
    4:4:4, odd → 4:2:0, so one lake carries both subsampling modes and
    the decoder's SOF-driven dispatch is load-bearing. Keeps ``text``
    alongside the payload so the recon stage recomputes the source
    per row without a join. Arrow-batched ``mapInPandas``, map-only;
    the input rides ``fan_out`` (r15) so a single-split local corpus
    spreads the kernel across cores while a many-split production
    table inserts no exchange. Reads ``doc_id`` and ``text``."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    docs = fan_out(docs)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )

    def encode(did, text):
        px = _md5_color_image(text)
        mode = "444" if int(did) % 2 == 0 else "420"
        yield did, _encode_jpeg_color_bytes(px, mode, restart_interval), text

    return row_kernel(docs.select("doc_id", "text"), encode, out_schema)


JPEG_COLOR_RECON_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("subsample", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("max_err_le_32", T.BooleanType(), True),
        T.StructField("mean_err_le_8", T.BooleanType(), True),
    ]
)


def decode_jpeg_color_recon_report(images: DataFrame, decoder=None) -> DataFrame:
    """Arrow-batched COLOR JPEG decode + reconstruction report: parses
    the container (interleaved MCUs, per-component DQT/DHT selectors,
    chroma upsampling, BT.601 to RGB), recomputes the md5-derived RGB
    source from ``text``, and emits the recovered dims, the recovered
    SOF sampling mode, and deterministic RGB error-bound booleans
    (max |err| ≤ 32, mean ≤ 8 — measured corpus worst 16 / 4.0, so ~2×
    headroom; a chroma-path break lands at mean ≈20+). Dims, pixel
    count, and subsampling mode come from the SOF0 parse, NOT passed
    through.

    ``decoder`` (r14, the codec seam): a callable ``payload →
    (channels, width, height, pixels)`` replacing the pure-Python
    ``_parse_jpeg`` — the executable form of the documented native-
    codec swap (contract-tested in tests/test_jpeg.py)."""
    decode = decoder if decoder is not None else _parse_jpeg

    def report(did, p, text):
        payload = bytes(p)
        channels, w, h, px = decode(payload)
        if channels != 3:
            raise ValueError(f"expected a color JPEG, got {channels} channel")
        src = _md5_color_image(text)
        err = np.abs(px.astype(np.int64) - src.astype(np.int64))
        yield {
            "doc_id": did,
            "format": "jpeg",
            "subsample": _sof_sampling(payload),
            "width": w,
            "height": h,
            "n_px": w * h,
            "max_err_le_32": bool(err.max() <= 32),
            "mean_err_le_8": bool(err.mean() <= 8.0),
        }

    return row_kernel(
        images.select("doc_id", "payload", "text"), report, JPEG_COLOR_RECON_SCHEMA
    )


JPEG_PROGRESSIVE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("mode", T.StringType(), True),
        T.StructField("subsample", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("matches_baseline", T.BooleanType(), True),
        T.StructField("max_err_le_32", T.BooleanType(), True),
        T.StructField("mean_err_le_8", T.BooleanType(), True),
    ]
)


def jpeg_progressive_report(
    docs: DataFrame,
    equality_mod: int = 1,
    decoder=None,
    encoder=None,
) -> DataFrame:
    """Arrow-batched PROGRESSIVE JPEG gate over ``(doc_id, text)``: per
    row, build the md5-derived RGB source, encode the progressive
    (SOF2) file with spectral selection + successive approximation
    (even docs 4:4:4, odd 4:2:0), and recover ``mode``/``subsample``/
    dims from its SOF segment — NEVER passed through.

    ``equality_mod`` (r14, the designed cost cut): the EXPENSIVE leg —
    encode the baseline (SOF0) twin, decode BOTH files through the
    multi-scan decoder, assert ``matches_baseline`` = the decodes are
    ARRAY-EXACT (a correct progression reconstructs exactly the
    coefficients the baseline carries — any EOBn/refinement/
    correction-bit defect breaks it) plus the source error bounds —
    runs on the deterministic sub-lake ``doc_id % equality_mod == 0``
    (gate columns are NULL elsewhere; an oracle mirrors the predicate).
    The default 1 keeps the full-lake dual decode — pytest pins it
    bit-level corpus-wide; the registered query passes 4, which keeps
    the gate's power (the sub-lake spans every dim/subsample class)
    while cutting ~3 of the 4 entropy-coding passes from 75% of rows.

    ``decoder``/``encoder`` (r14, the codec seam): ``decoder(payload)
    → (channels, w, h, px)`` and ``encoder(px, subsample, progressive)
    → bytes`` replace the pure-Python codecs — a libjpeg arrival is a
    two-argument swap, contract-tested in tests/test_jpeg.py.
    Map-only; the input rides ``fan_out`` (r15) so a single-split
    local corpus spreads the encode+dual-decode kernel across cores
    while a many-split production table inserts no exchange."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    decode = decoder if decoder is not None else _parse_jpeg
    encode = encoder if encoder is not None else _default_jpeg_encoder
    if equality_mod < 1:
        raise ValueError("equality_mod must be >= 1")
    docs = fan_out(docs)

    def report(did, text):
        src = _md5_color_image(text)
        ss = "444" if int(did) % 2 == 0 else "420"
        prog = encode(src, ss, True)
        mode, got_ss, w, h = _sof_header(prog)
        if int(did) % equality_mod == 0:
            base = encode(src, ss, False)
            c, dw, dh, px = decode(prog)
            if (dw, dh) != (w, h):
                raise ValueError("SOF header and decode disagree on dims")
            _, _, _, px_base = decode(base)
            err = np.abs(px.astype(np.int64) - src.astype(np.int64))
            matches = bool(np.array_equal(px, px_base))
            max_ok = bool(err.max() <= 32)
            mean_ok = bool(err.mean() <= 8.0)
        else:
            matches = max_ok = mean_ok = None
        yield {
            "doc_id": did,
            "format": "jpeg",
            "mode": mode,
            "subsample": got_ss,
            "width": w,
            "height": h,
            "n_px": w * h,
            "matches_baseline": matches,
            "max_err_le_32": max_ok,
            "mean_err_le_8": mean_ok,
        }

    return row_kernel(docs.select("doc_id", "text"), report, JPEG_PROGRESSIVE_SCHEMA)
