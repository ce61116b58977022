"""From-scratch FLAC audio-FRAME codec (r14 wave 4) — the companion to
``operators/flac.py``'s metadata walk: real encoded audio, per the
PUBLIC format spec (RFC 9639 / xiph.org/flac/format).

What's implemented, both directions:

- frame headers: the 14-bit sync code, blocking-strategy bit, the
  4-bit BLOCK-SIZE code table (192 / 256·2^n / 576·2^n AND the
  explicit 8-bit end-of-header form), the 4-bit SAMPLE-RATE code
  table, channel assignment (mono, left/side, right/side, mid/side),
  sample-size bits, the UTF-8-style coded frame number, and the CRC-8
  (poly 0x07) over the header — VERIFIED per frame;
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4 (the closed-form
  polynomial predictors), and general LPC (precision/shift/
  coefficient fields, signed dot-product prediction), plus WASTED-BITS
  tracking (the encoder engages it when every sample in a subframe
  shares trailing zero bits; the decoder always honors the flag);
- residuals: both partitioned-rice methods (4-bit and 5-bit
  parameters), multi-partition layouts (order chosen per frame so the
  first partition rule holds), zigzag folding, and the VERBATIM-escape
  form (parameter 0b1111(1) + 5-bit width) when rice would lose;
- stereo decorrelation: left/side, right/side, and mid/side with the
  side channel at bits+1 — the parity-carry reconstruction is exact;
- the frame CRC-16 (poly 0x8005) over header+body — VERIFIED per
  frame; and the STREAMINFO 128-bit MD5 of the unencoded
  little-endian interleaved samples — VERIFIED per file, the
  end-to-end gate that makes every stage above load-bearing.

Scale posture: encode and decode are map-only Arrow ``mapInPandas``
stages; the rice bitstream is built and folded with VECTORIZED numpy
(bit-position scatter + packbits on encode; a flatnonzero/searchsorted
unary scan on decode), so the per-sample Python cost is a short
constant, not an interpreter loop per bit. Like the JPEG tier, a
native libFLAC would still beat this by a large constant — the
documented codec-seam swap applies — but the plan shape (no shuffle,
no driver collect) is the one a 100 TB audio lake needs.

Reference parity note: the reference engine has no audio surface; this
module is part of the mandated multimodal extension tier.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.operators.flac import (
    FLAC_MAGIC,
    _SAMPLE_RATES,
    _block,
    _parse_streaminfo,
    _streaminfo_block,
)
from kafka_streams_common_spark.rowkernel import row_kernel

# ---------------------------------------------------------------------------
# CRCs (both MSB-first / non-reflected, init 0 — per the FLAC spec)
# ---------------------------------------------------------------------------

_CRC8_TABLE: list[int] | None = None
_CRC16_TABLE: list[int] | None = None


def _crc8(data: bytes) -> int:
    global _CRC8_TABLE
    if _CRC8_TABLE is None:
        t = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = ((c << 1) ^ 0x07 if c & 0x80 else c << 1) & 0xFF
            t.append(c)
        _CRC8_TABLE = t
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    global _CRC16_TABLE
    if _CRC16_TABLE is None:
        t = []
        for i in range(256):
            c = i << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005 if c & 0x8000 else c << 1) & 0xFFFF
            t.append(c)
        _CRC16_TABLE = t
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[(crc >> 8) ^ b]
    return crc


# ---------------------------------------------------------------------------
# bit helpers (MSB-first throughout, matching the container)
# ---------------------------------------------------------------------------


def _bits_of(value: int, nbits: int) -> np.ndarray:
    """``nbits``-wide two's-complement bit vector (uint8 0/1)."""
    value &= (1 << nbits) - 1
    return ((value >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)


def _bits_of_array(values: np.ndarray, nbits: int) -> np.ndarray:
    """Fixed-width bit vectors for a whole sample array, flattened."""
    v = values.astype(np.int64) & ((1 << nbits) - 1)
    shifts = np.arange(nbits - 1, -1, -1, dtype=np.int64)
    return ((v[:, None] >> shifts[None, :]) & 1).astype(np.uint8).reshape(-1)


def _read_uint(bits: np.ndarray, pos: int, nbits: int) -> tuple[int, int]:
    if pos + nbits > bits.shape[0]:
        raise ValueError("bitstream underrun")
    v = 0
    for b in bits[pos : pos + nbits]:
        v = (v << 1) | int(b)
    return v, pos + nbits


def _read_signed_array(
    bits: np.ndarray, pos: int, count: int, nbits: int
) -> tuple[np.ndarray, int]:
    """``count`` two's-complement ``nbits``-wide integers, vectorized."""
    end = pos + count * nbits
    if end > bits.shape[0]:
        raise ValueError("bitstream underrun in sample block")
    if count == 0:
        return np.zeros(0, dtype=np.int64), pos
    grid = bits[pos:end].reshape(count, nbits).astype(np.int64)
    powers = 1 << np.arange(nbits - 1, -1, -1, dtype=np.int64)
    vals = grid @ powers
    sign = 1 << (nbits - 1)
    vals = np.where(vals >= sign, vals - (1 << nbits), vals)
    return vals, end


# ---------------------------------------------------------------------------
# rice residual coding (vectorized both directions)
# ---------------------------------------------------------------------------


def _zigzag_fold(res: np.ndarray) -> np.ndarray:
    r = res.astype(np.int64)
    return np.where(r >= 0, r << 1, ((-r) << 1) - 1).astype(np.int64)


def _rice_bits(res: np.ndarray, p: int) -> np.ndarray:
    """Bit vector for one rice-coded partition: per residual, the
    zigzag quotient in unary (q zeros then a 1) + p remainder bits —
    built by vectorized position scatter, no per-bit Python."""
    zig = _zigzag_fold(res)
    q = zig >> p
    lens = q + 1 + p
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = np.zeros(int(lens.sum()), dtype=np.uint8)
    sep = starts + q
    out[sep] = 1
    if p:
        rem = zig & ((1 << p) - 1)
        for j in range(p):
            out[sep + 1 + j] = (rem >> (p - 1 - j)) & 1
    return out


def _best_rice_param(res: np.ndarray, max_p: int) -> tuple[int, int]:
    """(param, cost_bits) minimizing the partition size; compared by
    the caller against the verbatim escape."""
    zig = _zigzag_fold(res)
    n = res.shape[0]
    best_p, best_cost = 0, None
    for p in range(max_p + 1):
        cost = n * (p + 1) + int((zig >> p).sum())
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
        elif cost > best_cost * 2:
            break  # costs are convex in p past the optimum
    return best_p, best_cost


def _escape_width(res: np.ndarray) -> int:
    """Two's-complement width needed by the verbatim escape."""
    if res.shape[0] == 0:
        return 1
    lo, hi = int(res.min()), int(res.max())
    w = 1
    while not (-(1 << (w - 1)) <= lo and hi < (1 << (w - 1))):
        w += 1
    return w


def _encode_residual(res: np.ndarray, order: int, blocksize: int) -> np.ndarray:
    """Partitioned-rice residual: pick the partition order (the largest
    power of two dividing the blocksize, capped so the first partition
    keeps ≥1 sample after the warmup), per-partition the cheaper of
    rice and the 5-bit-width escape, and method 00 (4-bit params)
    unless any partition wants a parameter above 14."""
    part_order = 0
    while (
        part_order < 3
        and blocksize % (1 << (part_order + 1)) == 0
        and blocksize // (1 << (part_order + 1)) > order
    ):
        part_order += 1
    nparts = 1 << part_order
    plen = blocksize // nparts
    parts = []
    for i in range(nparts):
        lo = i * plen - order if i else 0
        hi = (i + 1) * plen - order
        parts.append(res[lo:hi] if i else res[:hi])
    choices = []  # (is_escape, param_or_width)
    need_rice2 = False
    for pr in parts:
        p, rice_cost = _best_rice_param(pr, 30)
        w = _escape_width(pr)
        esc_cost = 5 + pr.shape[0] * w
        if esc_cost < rice_cost:
            choices.append((True, w))
        else:
            choices.append((False, p))
            if p > 14:
                need_rice2 = True
    pbits = 5 if need_rice2 else 4
    chunks = [_bits_of(0b01 if need_rice2 else 0b00, 2), _bits_of(part_order, 3)]
    for (is_escape, pw), pr in zip(choices, parts):
        if is_escape:
            chunks.append(_bits_of((1 << pbits) - 1, pbits))
            chunks.append(_bits_of(pw, 5))
            chunks.append(_bits_of_array(pr, pw))
        else:
            chunks.append(_bits_of(pw, pbits))
            chunks.append(_rice_bits(pr, pw))
    return np.concatenate(chunks)


def _decode_residual(
    bits: np.ndarray, ones: np.ndarray, pos: int, order: int, blocksize: int
) -> tuple[np.ndarray, int]:
    method, pos = _read_uint(bits, pos, 2)
    if method not in (0, 1):
        raise ValueError(f"reserved residual coding method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order, pos = _read_uint(bits, pos, 3)
    nparts = 1 << part_order
    if blocksize % nparts:
        raise ValueError("partition order does not divide the blocksize")
    plen = blocksize // nparts
    if plen <= order and nparts == 1:
        raise ValueError("first partition would be empty")
    out = np.empty(blocksize - order, dtype=np.int64)
    filled = 0
    for i in range(nparts):
        count = plen - order if i == 0 else plen
        if count < 0:
            raise ValueError("predictor order exceeds the first partition")
        param, pos = _read_uint(bits, pos, pbits)
        if param == escape:
            width, pos = _read_uint(bits, pos, 5)
            vals, pos = _read_signed_array(bits, pos, count, width)
            out[filled : filled + count] = vals
        else:
            powers = (
                1 << np.arange(param - 1, -1, -1, dtype=np.int64) if param else None
            )
            for j in range(count):
                k = np.searchsorted(ones, pos)
                if k >= ones.shape[0]:
                    raise ValueError("rice unary run past end of frame")
                sep = int(ones[k])
                q = sep - pos
                pos = sep + 1
                if param:
                    if pos + param > bits.shape[0]:
                        raise ValueError("rice remainder underrun")
                    rem = int(bits[pos : pos + param].astype(np.int64) @ powers)
                    pos += param
                else:
                    rem = 0
                zig = (q << param) | rem
                out[filled + j] = (zig >> 1) ^ -(zig & 1)
        filled += count
    return out, pos


# ---------------------------------------------------------------------------
# predictors
# ---------------------------------------------------------------------------

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(samples: np.ndarray, order: int) -> np.ndarray:
    r = samples.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _fixed_restore(res: np.ndarray, warmup: np.ndarray, order: int) -> np.ndarray:
    """Invert ``order`` rounds of np.diff: level k of the cumsum stack
    is seeded with the FIRST element of the k-th difference of the
    warmup samples (not the raw warmup value — the classic off-by-one
    in polynomial-predictor restores)."""
    out = res.astype(np.int64)
    pyr = [warmup.astype(np.int64)]
    for _ in range(order - 1):
        pyr.append(np.diff(pyr[-1]))
    for k in range(order, 0, -1):
        out = np.concatenate(([pyr[k - 1][0]], out)).cumsum()
    return out


def _lpc_restore(
    res: np.ndarray, warmup: np.ndarray, coefs: list[int], shift: int
) -> np.ndarray:
    order = len(coefs)
    out = np.empty(res.shape[0] + order, dtype=np.int64)
    out[:order] = warmup
    c = np.array(coefs[::-1], dtype=np.int64)  # oldest-first for the dot
    for i in range(order, out.shape[0]):
        pred = int(out[i - order : i] @ c) >> shift
        out[i] = pred + res[i - order]
    return out


# ---------------------------------------------------------------------------
# subframes
# ---------------------------------------------------------------------------


def _encode_subframe(samples: np.ndarray, bits_per_sample: int, kind: int) -> np.ndarray:
    """One subframe as a bit vector. ``kind`` rotates the encoder's
    strategy deterministically: 0/1/2 → FIXED order 0/1/2, 3 →
    VERBATIM, 4 → LPC order 2 (precision 4, shift 0, coefficients
    [2,-1] — the general-LPC read path with a closed-form oracle).
    CONSTANT is emitted whenever the block is genuinely constant;
    wasted-bits engage whenever every sample shares trailing zeros."""
    n = samples.shape[0]
    wasted = 0
    s = samples.astype(np.int64)
    if np.any(s):
        while not np.any(s & 1):
            s >>= 1
            wasted += 1
    eff_bits = bits_per_sample - wasted
    wflag = (
        np.concatenate([_bits_of(1, 1), np.zeros(wasted - 1, np.uint8), _bits_of(1, 1)])
        if wasted
        else _bits_of(0, 1)
    )

    if np.all(s == s[0]):
        head = np.concatenate([_bits_of(0, 1), _bits_of(0b000000, 6), wflag])
        return np.concatenate([head, _bits_of(int(s[0]), eff_bits)])
    if kind == 3 or n <= 4:
        head = np.concatenate([_bits_of(0, 1), _bits_of(0b000001, 6), wflag])
        return np.concatenate([head, _bits_of_array(s, eff_bits)])
    if kind == 4:
        order, coefs, precision, shift = 2, [2, -1], 4, 0
        head = np.concatenate(
            [_bits_of(0, 1), _bits_of(0b100000 | (order - 1), 6), wflag]
        )
        res = s[order:] - (
            (2 * s[order - 1 : -1] - s[: -order]) >> shift
        )
        return np.concatenate(
            [
                head,
                _bits_of_array(s[:order], eff_bits),
                _bits_of(precision - 1, 4),
                _bits_of(shift, 5),
                _bits_of_array(np.array(coefs), precision),
                _encode_residual(res, order, n),
            ]
        )
    order = kind  # 0, 1 or 2
    head = np.concatenate([_bits_of(0, 1), _bits_of(0b001000 | order, 6), wflag])
    res = _fixed_residual(s, order)
    return np.concatenate(
        [head, _bits_of_array(s[:order], eff_bits), _encode_residual(res, order, n)]
    )


def _decode_subframe(
    bits: np.ndarray, ones: np.ndarray, pos: int, blocksize: int, bits_per_sample: int
) -> tuple[np.ndarray, int]:
    pad, pos = _read_uint(bits, pos, 1)
    if pad:
        raise ValueError("subframe padding bit set")
    stype, pos = _read_uint(bits, pos, 6)
    wflag, pos = _read_uint(bits, pos, 1)
    wasted = 0
    if wflag:
        wasted = 1
        while True:
            b, pos = _read_uint(bits, pos, 1)
            if b:
                break
            wasted += 1
    eff = bits_per_sample - wasted
    if eff < 1:
        raise ValueError("wasted bits exhaust the sample width")
    if stype == 0b000000:  # CONSTANT
        vals, pos = _read_signed_array(bits, pos, 1, eff)
        out = np.full(blocksize, vals[0], dtype=np.int64)
    elif stype == 0b000001:  # VERBATIM
        out, pos = _read_signed_array(bits, pos, blocksize, eff)
    elif 0b001000 <= stype <= 0b001100:  # FIXED
        order = stype & 0x07
        warmup, pos = _read_signed_array(bits, pos, order, eff)
        res, pos = _decode_residual(bits, ones, pos, order, blocksize)
        out = _fixed_restore(res, warmup, order)
    elif stype & 0b100000:  # LPC
        order = (stype & 0x1F) + 1
        warmup, pos = _read_signed_array(bits, pos, order, eff)
        pm1, pos = _read_uint(bits, pos, 4)
        if pm1 == 0b1111:
            raise ValueError("invalid LPC precision code 1111")
        precision = pm1 + 1
        shift_arr, pos = _read_signed_array(bits, pos, 1, 5)
        shift = int(shift_arr[0])
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs, pos = _read_signed_array(bits, pos, order, precision)
        res, pos = _decode_residual(bits, ones, pos, order, blocksize)
        out = _lpc_restore(res, warmup, [int(c) for c in coefs], shift)
    else:
        raise ValueError(f"reserved subframe type {stype:06b}")
    return out << wasted, pos


# ---------------------------------------------------------------------------
# frames
# ---------------------------------------------------------------------------

_BLOCKSIZE_CODES = {192: 0b0001, 576: 0b0010, 1152: 0b0011, 2304: 0b0100,
                    4608: 0b0101, 256: 0b1000, 512: 0b1001, 1024: 0b1010,
                    2048: 0b1011, 4096: 0b1100, 8192: 0b1101, 16384: 0b1110,
                    32768: 0b1111}
_RATE_CODES = {88200: 0b0001, 176400: 0b0010, 192000: 0b0011, 8000: 0b0100,
               16000: 0b0101, 22050: 0b0110, 24000: 0b0111, 32000: 0b1000,
               44100: 0b1001, 48000: 0b1010, 96000: 0b1011}
_SIZE_CODES = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}
_CHAN_CODES = {"mono": 0b0000, "stereo": 0b0001, "left_side": 0b1000,
               "right_side": 0b1001, "mid_side": 0b1010}


def _utf8_number(v: int) -> bytes:
    """The spec's UTF-8-style coded number (frame index)."""
    if v < 0x80:
        return bytes([v])
    for nbytes, ceiling in ((2, 1 << 11), (3, 1 << 16), (4, 1 << 21),
                            (5, 1 << 26), (6, 1 << 31)):
        if v < ceiling:
            lead = (0xFF << (8 - nbytes)) & 0xFF
            out = [lead | (v >> (6 * (nbytes - 1)))]
            for i in range(nbytes - 2, -1, -1):
                out.append(0x80 | ((v >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _read_utf8_number(buf: bytes, pos: int) -> tuple[int, int]:
    b0 = buf[pos]
    if b0 < 0x80:
        return b0, pos + 1
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError(f"malformed coded number lead byte 0x{b0:02x}")
    v = b0 & (0x7F >> nbytes)
    for i in range(1, nbytes):
        b = buf[pos + i]
        if b & 0xC0 != 0x80:
            raise ValueError("malformed coded-number continuation byte")
        v = (v << 6) | (b & 0x3F)
    return v, pos + nbytes


def encode_frame(
    channels: list[np.ndarray],
    frame_idx: int,
    sample_rate: int,
    bits_per_sample: int,
    nominal_blocksize: int,
    mode: str,
) -> bytes:
    """One complete FLAC frame: byte-aligned header with CRC-8, the
    decorrelated subframes (kind rotated per frame+channel), zero-pad
    to alignment, CRC-16 footer."""
    n = channels[0].shape[0]
    head = bytearray(b"\xff\xf8")  # sync + reserved 0 + fixed blocking
    bs_code = _BLOCKSIZE_CODES.get(n)
    tail_bs = b""
    if bs_code is None:
        if n - 1 < 256:
            bs_code, tail_bs = 0b0110, bytes([n - 1])
        else:
            bs_code, tail_bs = 0b0111, (n - 1).to_bytes(2, "big")
    rate_code = _RATE_CODES[sample_rate]
    head.append((bs_code << 4) | rate_code)
    head.append((_CHAN_CODES[mode] << 4) | (_SIZE_CODES[bits_per_sample] << 1))
    head += _utf8_number(frame_idx)
    head += tail_bs
    head.append(_crc8(bytes(head)))

    if mode == "mono":
        subs = [(channels[0], bits_per_sample)]
    else:
        l, r = channels[0].astype(np.int64), channels[1].astype(np.int64)
        if mode == "left_side":
            subs = [(l, bits_per_sample), (l - r, bits_per_sample + 1)]
        elif mode == "right_side":
            subs = [(l - r, bits_per_sample + 1), (r, bits_per_sample)]
        elif mode == "mid_side":
            subs = [((l + r) >> 1, bits_per_sample), (l - r, bits_per_sample + 1)]
        else:  # independent stereo
            subs = [(l, bits_per_sample), (r, bits_per_sample)]
    chunks = []
    for ch, (samples, bps) in enumerate(subs):
        chunks.append(_encode_subframe(samples, bps, (frame_idx + ch) % 5))
    body_bits = np.concatenate(chunks)
    pad = (-body_bits.shape[0]) % 8
    if pad:
        body_bits = np.concatenate([body_bits, np.zeros(pad, np.uint8)])
    body = np.packbits(body_bits).tobytes()
    frame = bytes(head) + body
    return frame + _crc16(frame).to_bytes(2, "big")


def decode_frame(
    buf: bytes, pos: int, info: dict
) -> tuple[np.ndarray, int, int, int]:
    """Decode one frame starting at ``pos``. Returns
    ``(samples[channels, n], frame_idx, blocksize, end_pos)`` — CRC-8,
    CRC-16, rate/size congruence with STREAMINFO all enforced."""
    start = pos
    if buf[pos] != 0xFF or (buf[pos + 1] & 0xFE) != 0xF8:
        raise ValueError(f"frame sync not found at {pos}")
    if buf[pos + 1] & 0x01:
        raise ValueError("variable-blocking streams not produced by this lake")
    bs_code = buf[pos + 2] >> 4
    rate_code = buf[pos + 2] & 0x0F
    chan_code = buf[pos + 3] >> 4
    size_code = (buf[pos + 3] >> 1) & 0x07
    if buf[pos + 3] & 1:
        raise ValueError("frame header reserved bit set")
    pos += 4
    frame_idx, pos = _read_utf8_number(buf, pos)
    if bs_code in (0b0000,):
        raise ValueError("reserved blocksize code")
    if bs_code == 0b0110:
        blocksize = buf[pos] + 1
        pos += 1
    elif bs_code == 0b0111:
        blocksize = int.from_bytes(buf[pos : pos + 2], "big") + 1
        pos += 2
    else:
        blocksize = next(k for k, v in _BLOCKSIZE_CODES.items() if v == bs_code)
    rate = next((k for k, v in _RATE_CODES.items() if v == rate_code), None)
    if rate is None or rate != info["sample_rate"]:
        raise ValueError(f"frame sample-rate code {rate_code:04b} != STREAMINFO")
    bps = next((k for k, v in _SIZE_CODES.items() if v == size_code), None)
    if bps is None or bps != info["bits_per_sample"]:
        raise ValueError(f"frame sample-size code {size_code:03b} != STREAMINFO")
    if _crc8(buf[start:pos]) != buf[pos]:
        raise ValueError(f"frame header CRC-8 mismatch at {start}")
    pos += 1

    mode = next((m for m, c in _CHAN_CODES.items() if c == chan_code), None)
    if mode is None:
        if chan_code < 8:
            raise ValueError(f"{chan_code + 1}-channel frames not in this lake")
        raise ValueError(f"reserved channel assignment {chan_code:04b}")
    nch = 1 if mode == "mono" else 2
    if nch != info["channels"]:
        raise ValueError("frame channel count != STREAMINFO")

    body = np.frombuffer(buf[pos:], dtype=np.uint8)
    bits = np.unpackbits(body)
    ones = np.flatnonzero(bits)
    bpos = 0
    subs = []
    for ch in range(nch):
        bps_sub = bps
        if (mode in ("left_side", "mid_side") and ch == 1) or (
            mode == "right_side" and ch == 0
        ):
            bps_sub += 1
        s, bpos = _decode_subframe(bits, ones, bpos, blocksize, bps_sub)
        subs.append(s)
    nbytes = (bpos + 7) // 8
    # padding bits to alignment must be zero
    if bpos % 8 and np.any(bits[bpos : nbytes * 8]):
        raise ValueError("nonzero frame padding bits")
    pos += nbytes
    want = int.from_bytes(buf[pos : pos + 2], "big")
    if _crc16(buf[start:pos]) != want:
        raise ValueError(f"frame CRC-16 mismatch at {start}")
    pos += 2

    if mode == "mono":
        out = subs[0][None, :]
    elif mode == "left_side":
        l = subs[0]
        out = np.stack([l, l - subs[1]])
    elif mode == "right_side":
        r = subs[1]
        out = np.stack([r + subs[0], r])
    elif mode == "mid_side":
        mid, side = subs[0], subs[1]
        ms = (mid << 1) | (side & 1)
        out = np.stack([(ms + side) >> 1, (ms - side) >> 1])
    else:
        out = np.stack(subs)
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if out.min() < lo or out.max() > hi:
        raise ValueError("decoded samples exceed the declared bit depth")
    return out, frame_idx, blocksize, pos


# ---------------------------------------------------------------------------
# whole files
# ---------------------------------------------------------------------------


def encode_flac_audio(
    channels: list[np.ndarray],
    sample_rate: int,
    bits_per_sample: int,
    blocksize: int,
    mode: str,
) -> bytes:
    """Magic + STREAMINFO (with the real audio MD5) + frames."""
    n = channels[0].shape[0]
    inter = np.stack(channels, axis=1).astype("<i2").tobytes()
    md5 = hashlib.md5(inter).digest()
    out = bytearray(FLAC_MAGIC)
    out += _block(
        0,
        _streaminfo_block(
            sample_rate, len(channels), bits_per_sample, n, md5, blocksize=blocksize
        ),
        True,
    )
    for idx, lo in enumerate(range(0, n, blocksize)):
        blk = [c[lo : lo + blocksize] for c in channels]
        out += encode_frame(blk, idx, sample_rate, bits_per_sample, blocksize, mode)
    return bytes(out)


def decode_flac_audio(payload: bytes) -> dict:
    """Full decode: metadata walk, every frame (CRC-8 + CRC-16 +
    sequential frame numbering enforced), then the STREAMINFO total
    and 128-bit audio MD5 VERIFIED against the decoded samples —
    the end-to-end integrity gate."""
    if payload[:4] != FLAC_MAGIC:
        raise ValueError(f"not a FLAC stream: {payload[:4]!r}")
    pos, info = 4, None
    while True:
        head = payload[pos]
        is_last, btype = bool(head & 0x80), head & 0x7F
        ln = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + ln]
        if info is None:
            if btype != 0:
                raise ValueError("first metadata block must be STREAMINFO")
            info = _parse_streaminfo(body)
        pos += 4 + ln
        if is_last:
            break
    frames = []
    n_frames = 0
    while pos < len(payload):
        samples, idx, blocksize, pos = decode_frame(payload, pos, info)
        if idx != n_frames:
            raise ValueError(f"frame number {idx} out of sequence ({n_frames})")
        if blocksize > info["max_blocksize"]:
            raise ValueError("frame blocksize exceeds STREAMINFO maximum")
        frames.append(samples)
        n_frames += 1
    audio = np.concatenate(frames, axis=1) if frames else np.zeros((info["channels"], 0))
    if audio.shape[1] != info["total_samples"]:
        raise ValueError(
            f"decoded {audio.shape[1]} samples != STREAMINFO {info['total_samples']}"
        )
    inter = audio.T.astype("<i2").tobytes()
    if hashlib.md5(inter).hexdigest() != info["audio_md5"]:
        raise ValueError("STREAMINFO audio MD5 mismatch")
    return {
        "channels": info["channels"],
        "sample_rate": info["sample_rate"],
        "bits_per_sample": info["bits_per_sample"],
        "n_samples": info["total_samples"],
        "n_frames": n_frames,
        "blocksize": info["max_blocksize"],
        "audio": audio,
    }


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------


def _doc_audio_params(doc_id: int, text: str) -> tuple:
    """The lake derivation, all SQL-replayable: samples are signed
    16-bit big-endian pairs of the cycled md5 digest (left from
    md5(text), right from md5(reverse(text))); n = md5 % 600 + 100;
    blocksize rotates 192 (table code) / 256 (table code) / 144
    (explicit 8-bit form) by doc_id % 3; even ids mono, odd ids rotate
    all three stereo decorrelation modes by doc_id % 8."""
    d = hashlib.md5(text.encode()).digest()
    n = int(hashlib.md5(text.encode()).hexdigest()[:15], 16) % 600 + 100
    rate = _SAMPLE_RATES[d[0] % len(_SAMPLE_RATES)]
    blocksize = (192, 256, 144)[doc_id % 3]
    if doc_id % 2 == 0:
        mode = "mono"
    elif doc_id % 8 in (1, 7):
        mode = "left_side"
    elif doc_id % 8 == 3:
        mode = "right_side"
    else:
        mode = "mid_side"

    def samples(digest: bytes) -> np.ndarray:
        raw = (digest * ((2 * n + 15) // 16))[: 2 * n]
        return (
            np.frombuffer(raw, dtype=">u2").astype(np.int64) - 32768
        )

    left = samples(d)
    chans = [left]
    if mode != "mono":
        chans.append(samples(hashlib.md5(text[::-1].encode()).digest()))
    return chans, rate, blocksize, mode


_FLAC_AUDIO_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_flac_audio_docs(docs: DataFrame) -> DataFrame:
    """documents → real FLAC files with encoded frames. Map-only after
    the ``fan_out`` parallelism guard (a small local corpus arrives as
    one parquet split, which would serialize the whole entropy-coding
    pipeline on one core; on a many-split production table the guard
    is a no-op). Reads ``doc_id`` and ``text``."""
    from kafka_streams_common_spark.operators.dedup import fan_out

    def encode(did, text):
        chans, rate, bs, mode = _doc_audio_params(int(did), str(text))
        yield did, encode_flac_audio(chans, rate, 16, bs, mode)

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, _FLAC_AUDIO_OUT)


FLAC_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("channel_mode", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("bits", T.IntegerType(), False),
        T.StructField("blocksize", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("sum_left", T.LongType(), False),
        T.StructField("sum_right", T.LongType(), True),
    ]
)


def decode_flac_audio_stats(flacs: DataFrame) -> DataFrame:
    """Arrow-batched full FLAC decode over ``(doc_id, payload)``:
    every frame entropy-decoded, un-predicted and re-correlated, CRCs
    and the STREAMINFO MD5 verified — then folded to SQL-replayable
    channel sums. The channel_mode column is RECOVERED from the frame
    headers, so the decorrelation dispatch is itself oracle-gated.
    Map-only."""

    def decode(did, payload):
        buf = bytes(payload)
        rec = decode_flac_audio(buf)
        # recover the mode from the FIRST frame header
        meta_end = 4
        while True:
            head = buf[meta_end]
            ln = int.from_bytes(buf[meta_end + 1 : meta_end + 4], "big")
            meta_end += 4 + ln
            if head & 0x80:
                break
        chan_code = buf[meta_end + 3] >> 4
        mode = next(m for m, c in _CHAN_CODES.items() if c == chan_code)
        audio = rec["audio"]
        yield {
            "doc_id": int(did),
            "channels": rec["channels"],
            "channel_mode": mode,
            "sample_rate": rec["sample_rate"],
            "bits": rec["bits_per_sample"],
            "blocksize": rec["blocksize"],
            "n_samples": rec["n_samples"],
            "n_frames": rec["n_frames"],
            "sum_left": int(audio[0].sum()),
            "sum_right": int(audio[1].sum()) if rec["channels"] == 2 else None,
        }

    return row_kernel(flacs.select("doc_id", "payload"), decode, FLAC_AUDIO_SCHEMA)
