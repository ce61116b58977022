"""Cross-parser fuzz battery (r14): every binary/text container parser
in the repo must FAIL CLEANLY on arbitrary foreign bytes — a bounded
set of exception types, no hangs, no unbounded allocation. This is the
posture a 100 TB ingest needs: one corrupt object in a billion must
quarantine as a per-row error, never wedge an executor.

Each parser also gets a 'mutation' leg: take a VALID container, flip
one byte at an arbitrary offset, and require clean handling (either a
successful parse — many single-bit flips only change payload content —
or one of the bounded exception types)."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_streams_common_spark.operators import avro as av
from kafka_streams_common_spark.operators import flac as fl
from kafka_streams_common_spark.operators import mp4
from kafka_streams_common_spark.operators import mpeg_audio as ma
from kafka_streams_common_spark.operators import ogg
from kafka_streams_common_spark.operators import protowire as pw
from kafka_streams_common_spark.operators import subtitles as sub
from kafka_streams_common_spark.operators import tiff as tf
from kafka_streams_common_spark.operators import warc as w
from kafka_streams_common_spark.operators import webtext as wt

# the bounded failure surface foreign bytes may produce
_OK_ERRORS = (
    ValueError,
    KeyError,
    IndexError,
    UnicodeDecodeError,
    struct.error,
    zlib.error,
    EOFError,
    OverflowError,
)

_raw = st.binary(min_size=0, max_size=300)


def _clean(parser, data):
    try:
        parser(data)
    except _OK_ERRORS:
        pass  # clean per-row failure — exactly what the ingest wants


_PARSERS = {
    "ocf": lambda b: av.read_ocf(b),
    "confluent": lambda b: av.confluent_parse(
        b, av.EVENT_SCHEMAS_BY_ID, av.EVENT_SCHEMA_READER
    ),
    "proto": lambda b: pw.decode_message(pw.EVENT_PROTO_READER_SPEC, b),
    "flac": lambda b: fl.parse_flac_meta(b),
    "id3v2": lambda b: ma._parse_id3v2(b),
    "mp3": lambda b: ma._parse_mp3_meta(b),
    "tiff": lambda b: tf.parse_tiff_image(b),
    "mp4": lambda b: mp4.parse_mp4_meta(b),
    "ogg": lambda b: ogg.parse_pages(b),
    "warc": lambda b: w.parse_warc_record(b),
    "gzip_members": lambda b: list(w.split_gzip_members(b)),
    "subtitles": lambda b: sub.parse_cues(b.decode("latin-1")),
    "html": lambda b: wt.extract_main_text(b.decode("latin-1")),
}


@pytest.mark.parametrize("name", sorted(_PARSERS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_random_bytes_fail_cleanly(name, data):
    _clean(_PARSERS[name], data)


# magic-prefixed fuzz: random bytes AFTER a valid magic reach deeper
# parse layers than pure noise does
_MAGICS = {
    "ocf": av.OCF_MAGIC,
    "confluent": b"\x00\x00\x00\x00\x02",
    "flac": fl.FLAC_MAGIC,
    "id3v2": b"ID3\x03\x00\x00",
    "tiff": b"II\x2a\x00\x08\x00\x00\x00",
    "mp4": (16).to_bytes(4, "big") + b"ftypisom" + (512).to_bytes(4, "big"),
    "ogg": ogg.OGG_MAGIC,
    "warc": b"WARC/1.0\r\n",
}


@pytest.mark.parametrize("name", sorted(_MAGICS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_magic_prefixed_bytes_fail_cleanly(name, data):
    _clean(_PARSERS[name], _MAGICS[name] + data)


def _valid_samples():
    d = hashlib.md5(b"fuzz-doc").digest()
    px_g = np.arange(48, dtype=np.uint8).reshape(6, 8)
    return {
        "ocf": av.write_ocf(
            av.ORDER_SCHEMA_JSON,
            [
                {
                    "o_orderkey": 5,
                    "o_custkey": 6,
                    "o_totalprice": 1.5,
                    "o_orderstatus": "O",
                    "priority": None,
                }
            ],
            codec="deflate",
        ),
        "confluent": av.confluent_frame(
            1,
            av.encode_record(
                av.EVENT_SCHEMA_V1,
                {"event_id": 3, "event_type": "t", "value": 2.0},
            ),
        ),
        "proto": pw.encode_message(
            pw.EVENT_PROTO_READER_SPEC,
            {
                "event_id": 9,
                "event_type": "x",
                "value": 0.5,
                "delta": -4,
                "meta": {"source": "u1", "tag32": 7},
                "token_bytes": [1, 2, 3],
            },
        ),
        "flac": fl.build_flac_meta(8000, 1, 8, 100, d, [("TITLE", "t")], 16),
        "id3v2": ma._id3v2_tag([("TIT2", "t")], ("eng", "d", "c"), False, 4),
        "tiff": tf._tiff_image_bytes(px_g, "II", rows_per_strip=2),
        "mp4": mp4.build_mp4_meta(1, 5000, 64, 48, 8000, "eng", b"\x00" * 8, "normal"),
        "ogg": ogg.build_page(b"\x01vorbis-ish", 3, 0, 0, bos=True, eos=True),
        "warc": w.build_response_record(4, b"payload", "text/plain"),
    }


@pytest.mark.parametrize("name", sorted(_MAGICS))
@settings(deadline=None, max_examples=120)
@given(offset_frac=st.floats(min_value=0, max_value=1), flip=st.integers(1, 255))
def test_single_byte_mutations_handled(name, offset_frac, flip):
    raw = bytearray(_valid_samples()[name])
    raw[int(offset_frac * (len(raw) - 1))] ^= flip
    _clean(_PARSERS[name], bytes(raw))


# ---------------------------------------------------------------------------
# legacy-tier parsers (r11-r13 codecs) under the same battery
# ---------------------------------------------------------------------------

from kafka_streams_common_spark.operators import archive as ar
from kafka_streams_common_spark.operators import gif as g
from kafka_streams_common_spark.operators import jpeg as jp
from kafka_streams_common_spark.operators import multimodal as mm
from kafka_streams_common_spark.operators.exif import _parse_tiff_ifd0

_LEGACY_PARSERS = {
    "png": lambda b: mm._parse_png(b),
    "netpbm": lambda b: mm._parse_netpbm(b),
    "bmp": lambda b: mm._parse_bmp(b),
    "wav": lambda b: mm._parse_wav(b),
    "y4m": lambda b: mm._parse_y4m(b),
    "gif": lambda b: g._parse_gif(b),
    "jpeg": lambda b: jp._parse_jpeg(b),
    "tar": lambda b: ar._parse_tar(b),
    "zip": lambda b: ar._parse_zip(b),
    "gzip": lambda b: ar._gzip_decompress_bytes(b),
    "tiff_ifd": lambda b: _parse_tiff_ifd0(b),
}

_LEGACY_MAGICS = {
    "png": mm.PNG_SIGNATURE,
    "netpbm": b"P5\n",
    "bmp": b"BM",
    "wav": b"RIFF\x80\x00\x00\x00WAVE",
    "y4m": b"YUV4MPEG2 ",
    "gif": b"GIF87a",
    "jpeg": b"\xff\xd8\xff",
    "tar": b"",  # tar has no leading magic; header checksum is the gate
    "zip": b"PK\x03\x04",
    "gzip": b"\x1f\x8b\x08\x00",
    "tiff_ifd": b"MM\x00\x2a",
}


@pytest.mark.parametrize("name", sorted(_LEGACY_PARSERS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_legacy_random_bytes_fail_cleanly(name, data):
    _clean(_LEGACY_PARSERS[name], data)


@pytest.mark.parametrize("name", sorted(_LEGACY_PARSERS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_legacy_magic_prefixed_fail_cleanly(name, data):
    _clean(_LEGACY_PARSERS[name], _LEGACY_MAGICS[name] + data)


def _legacy_valid_samples():
    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(9, 11, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    return {
        "png": mm._encode_png_bytes(rng.integers(0, 256, (9, 11, 1), dtype=np.uint8)),
        "bmp": mm._encode_bmp_bytes(rgb),
        "gif": g._encode_gif_bytes(gray[:, :, :1]),
        "jpeg": jp._encode_jpeg_bytes(gray),
        "netpbm": b"P5\n11 9\n255\n" + gray[:, :, 0].tobytes(),
        "gzip": ar._gzip_compress_bytes(b"legacy mutation corpus", fname="a.txt"),
        "tiff_ifd": tf._tiff_image_bytes(gray[:, :, 0], "MM", rows_per_strip=4),
    }


@pytest.mark.parametrize("name", sorted(_legacy_valid_samples()))
@settings(deadline=None, max_examples=120)
@given(offset_frac=st.floats(min_value=0, max_value=1), flip=st.integers(1, 255))
def test_legacy_single_byte_mutations_handled(name, offset_frac, flip):
    raw = bytearray(_legacy_valid_samples()[name])
    raw[int(offset_frac * (len(raw) - 1))] ^= flip
    _clean(_LEGACY_PARSERS[name], bytes(raw))


# ---------------------------------------------------------------------------
# decompression-bomb / declared-geometry guards (r14): a flipped
# header byte must produce a FAST ValueError, never a multi-GB
# allocation or an hours-long decode loop
# ---------------------------------------------------------------------------


def test_jpeg_huge_declared_dims_fail_fast():
    raw = bytearray(jp._encode_jpeg_bytes(np.zeros((8, 8, 1), dtype=np.uint8)))
    at = raw.index(b"\xff\xc0")  # SOF0: len(2) precision(1) h(2) w(2)
    raw[at + 5 : at + 9] = (65500).to_bytes(2, "big") + (65500).to_bytes(2, "big")
    with pytest.raises(ValueError, match="declares .* blocks"):
        jp._parse_jpeg(bytes(raw))


def test_png_huge_declared_dims_fail_fast():
    raw = bytearray(mm._encode_png_bytes(np.zeros((8, 8, 1), dtype=np.uint8)))
    at = raw.index(b"IHDR")
    raw[at + 4 : at + 12] = (65500).to_bytes(4, "big") * 2
    # (the IHDR CRC check fires first on an un-fixed CRC; recompute it)
    crc = zlib.crc32(raw[at : at + 4 + 13]) & 0xFFFFFFFF
    raw[at + 17 : at + 21] = crc.to_bytes(4, "big")
    with pytest.raises(ValueError, match="256M-pixel"):
        mm._parse_png(bytes(raw))


def test_gif_lzw_output_capped():
    from kafka_streams_common_spark.operators.gif import (
        _lzw_compress,
        _lzw_decompress,
    )

    codes = _lzw_compress(bytes(64))
    with pytest.raises(ValueError, match="declaring 16 pixels"):
        _lzw_decompress(codes, expected=16)


def test_gif_huge_canvas_fails_fast():
    from kafka_streams_common_spark.operators import gif as gg

    raw = bytearray(gg._encode_gif_bytes(np.zeros((4, 4, 1), dtype=np.uint8)))
    raw[6:10] = (65500).to_bytes(2, "little") * 2  # logical screen dims
    # _parse_gif reads the IMAGE descriptor dims; patch those too (the
    # descriptor sits after the 13-byte header + 768-byte palette —
    # 0x2C also occurs inside the identity palette)
    at = raw.index(b"\x2c", 13 + 768)
    raw[at + 5 : at + 9] = (65500).to_bytes(2, "little") * 2
    with pytest.raises(ValueError, match="256M-pixel"):
        gg._parse_gif(bytes(raw))


def _riff_wav(n_samples=40, rate=8000):
    body = bytes(range(n_samples))  # 8-bit PCM
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + rate.to_bytes(4, "little")
        + rate.to_bytes(4, "little")  # byte rate (8-bit mono)
        + (1).to_bytes(2, "little")  # block align
        + (8).to_bytes(2, "little")  # bits/sample
    )
    data = b"data" + len(body).to_bytes(4, "little") + body
    riff_body = b"WAVE" + fmt + data
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body


def _y4m(w=4, h=2, frames=2):
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode()
    out = bytearray(head)
    for i in range(frames):
        out += b"FRAME\n" + bytes([i]) * (w * h)
    return bytes(out)


def _audio_video_valid_samples():
    return {
        "wav": _riff_wav(),
        "y4m": _y4m(),
        "mp3": ma._mp3_bytes(3, 9, 0, 3, b"\x11\x22", "t", "a", "al", 1999, 5),
    }


@pytest.mark.parametrize("name", sorted(_audio_video_valid_samples()))
@settings(deadline=None, max_examples=120)
@given(offset_frac=st.floats(min_value=0, max_value=1), flip=st.integers(1, 255))
def test_audio_video_single_byte_mutations_handled(name, offset_frac, flip):
    parser = {**_LEGACY_PARSERS, **_PARSERS}[name]
    raw = bytearray(_audio_video_valid_samples()[name])
    raw[int(offset_frac * (len(raw) - 1))] ^= flip
    _clean(parser, bytes(raw))


def test_audio_video_samples_parse_clean():
    """The hand-built mutation baselines are themselves valid."""
    ch, rate, bits, px = mm._parse_wav(_riff_wav())
    assert (ch, rate, bits) == (1, 8000, 8) and px.size == 40
    w, h, frames = mm._parse_y4m(_y4m())
    assert (w, h, len(frames)) == (4, 2, 2)
    meta = ma._parse_mp3_meta(
        ma._mp3_bytes(3, 9, 0, 3, b"\x11\x22", "t", "a", "al", 1999, 5)
    )
    assert meta["n_frames"] == 3 and meta["year"] == 1999


# ---------------------------------------------------------------------------
# wave-3d/4 parsers (msgpack/cbor landed with their own fuzz legs in
# test_msgpack_cbor.py; these are the thrift / bz2 / xz / flac-audio /
# parquet-footer entry points) under the same three-leg battery
# ---------------------------------------------------------------------------

import bz2 as _bz2mod
import lzma as _lzmamod

from kafka_streams_common_spark.operators import flacaudio as fa
from kafka_streams_common_spark.operators import parquetmeta as pm
from kafka_streams_common_spark.operators import thriftcompact as tc

_W4_OK_ERRORS = _OK_ERRORS + (_lzmamod.LZMAError, OSError, RecursionError)


def _w4_clean(parser, data):
    try:
        parser(data)
    except _W4_OK_ERRORS:
        pass


_W4_PARSERS = {
    "thrift": lambda b: tc.decode_struct(tc.EVENT_THRIFT_READER_SPEC, b),
    "bz2": lambda b: ar._bz2_verify_and_decompress(b),
    "xz": lambda b: ar._xz_verify_and_decompress(b),
    "flac_audio": lambda b: fa.decode_flac_audio(b),
    "parquet_footer": lambda b: pm.parse_parquet_footer(b),
}

_W4_MAGICS = {
    "thrift": b"\x16\x02",  # short-form i64 field then noise
    "bz2": b"BZh5",
    "xz": b"\xfd7zXZ\x00\x00\x01",
    "flac_audio": b"fLaC",
    "parquet_footer": b"PAR1",
}


def _w4_valid_samples():
    import numpy as np

    rng = np.random.default_rng(21)
    samples = rng.integers(-32768, 32768, 200).astype(np.int64)
    return {
        "thrift": tc.encode_struct(
            tc.EVENT_THRIFT_READER_SPEC,
            {
                "event_id": 3,
                "event_type": "t",
                "value": 1.0,
                "delta": -2,
                "meta": {"source": "u1", "tag16": 5},
                "flag": True,
                "tokens": [1, 2, 3],
                "token_set": [1, 2],
                "props": {"u": 9},
            },
        ),
        "bz2": ar._bz2_compress_member(b"fuzz corpus text " * 10, 3),
        "xz": ar._xz_compress_member(b"fuzz corpus text " * 10, "crc32"),
        "flac_audio": fa.encode_flac_audio([samples], 16000, 16, 144, "mono"),
        # a real footer region is exercised through the whole-file parse:
        # build a minimal fake by wrapping an encoded FileMetaData
        "parquet_footer": (
            lambda meta: pm.PARQUET_MAGIC
            + meta
            + len(meta).to_bytes(4, "little")
            + pm.PARQUET_MAGIC
        )(
            tc.encode_struct(
                pm.FILE_META_SPEC,
                {
                    "version": 1,
                    "schema": [
                        {"name": "root", "num_children": 1},
                        {"name": "k", "type": 1, "repetition_type": 1},
                    ],
                    "num_rows": 3,
                    "row_groups": [],
                    "created_by": "fuzz",
                },
            )
        ),
    }


@pytest.mark.parametrize("name", sorted(_W4_PARSERS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_w4_random_bytes_fail_cleanly(name, data):
    _w4_clean(_W4_PARSERS[name], data)


@pytest.mark.parametrize("name", sorted(_W4_PARSERS))
@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_w4_magic_prefixed_bytes_fail_cleanly(name, data):
    _w4_clean(_W4_PARSERS[name], _W4_MAGICS[name] + data)


@pytest.mark.parametrize("name", sorted(_W4_PARSERS))
@settings(deadline=None, max_examples=120)
@given(offset_frac=st.floats(min_value=0, max_value=1), flip=st.integers(1, 255))
def test_w4_single_byte_mutations_handled(name, offset_frac, flip):
    raw = bytearray(_w4_valid_samples()[name])
    raw[int(offset_frac * (len(raw) - 1))] ^= flip
    _w4_clean(_W4_PARSERS[name], bytes(raw))


def test_w4_samples_parse_clean():
    """The mutation baselines are themselves valid."""
    s = _w4_valid_samples()
    rec, end = tc.decode_struct(tc.EVENT_THRIFT_READER_SPEC, s["thrift"])
    assert rec["event_id"] == 3 and end == len(s["thrift"])
    assert ar._bz2_verify_and_decompress(s["bz2"])[0] == 3
    assert ar._xz_verify_and_decompress(s["xz"])[0] == "crc32"
    assert fa.decode_flac_audio(s["flac_audio"])["n_samples"] == 200
    assert pm.parse_parquet_footer(s["parquet_footer"])["num_rows"] == 3


def test_thrift_nesting_depth_bounded():
    """A kilobyte of struct-in-struct field headers (one byte per
    level) must quarantine via the explicit depth bound, not via the
    interpreter's recursion limit."""
    hostile = bytes([0x1C]) * 1024  # delta-1 STRUCT field, forever
    with pytest.raises(ValueError, match="nesting depth"):
        tc.decode_struct({}, hostile)


def test_thrift_skip_rejects_oversized_collection():
    """An unknown list field declaring ten million bool elements in a
    few bytes must be rejected on its declared size, not skipped one
    element at a time (random fuzz bytes hit such headers)."""
    n = 10**7
    size = bytearray()
    while n > 0x7F:
        size.append(n & 0x7F | 0x80)
        n >>= 7
    size.append(n)
    hostile = bytes([0xF9, 0xF1]) + bytes(size)  # field 15: list<bool>
    with pytest.raises(ValueError, match="exceeds the remaining bytes"):
        tc.decode_struct({}, hostile)


from kafka_streams_common_spark.operators import orcmeta as om


_W4_PARSERS["orc_tail"] = lambda b: om.parse_orc_tail(b)
_W4_MAGICS["orc_tail"] = b"ORC"


@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_orc_tail_random_bytes_fail_cleanly(data):
    _w4_clean(_W4_PARSERS["orc_tail"], data)


@settings(deadline=None, max_examples=120)
@given(data=_raw)
def test_orc_tail_magic_prefixed_fail_cleanly(data):
    _w4_clean(_W4_PARSERS["orc_tail"], b"ORC" + data)
