"""FLAC metadata-block codec — the lossless-audio container's
governance surface, from the PUBLIC format spec (xiph.org/flac/format):
``fLaC`` magic, then metadata blocks each headed by one byte
(is-last flag in the top bit, 7-bit block type) + a 24-bit big-endian
length. Implemented blocks:

- STREAMINFO (type 0, mandatory first): the 34-byte bit-packed layout
  — min/max blocksize (16+16), min/max framesize (24+24), sample rate
  (20 bits), channels-1 (3), bits-per-sample-1 (5), total samples
  (36), and the 128-bit MD5 of the unencoded audio;
- VORBIS_COMMENT (type 4): the FLAC tagging standard — and the one
  spot in an otherwise big-endian container that is LITTLE-endian
  (u32 vendor length + vendor, u32 count, per-comment u32 length +
  ``KEY=value`` utf-8), so the byte-order flip is load-bearing;
- PADDING (type 1): zero-filled, skipped on read but its length and
  zero-fill are VERIFIED.

The fixture is metadata-only FLAC (header + blocks, no audio frames —
the decoder stops after the is-last block and REJECTS trailing bytes,
documenting exactly what it covers); every recovered field derives
from the documents table's md5 arithmetic so the SQL oracle replays
it. Encode/decode are both map-only Arrow ``mapInPandas`` stages.

Reference parity note: the reference engine has no audio surface; this
module is part of the mandated multimodal extension tier.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

FLAC_MAGIC = b"fLaC"
_SAMPLE_RATES = (8000, 16000, 22050, 44100, 48000)


def _streaminfo_block(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    audio_md5: bytes,
    blocksize: int = 4096,
) -> bytes:
    """The 34-byte STREAMINFO body, bit-packed per spec."""
    if not 1 <= channels <= 8:
        raise ValueError(f"channels {channels} out of range")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError(f"bits/sample {bits_per_sample} out of range")
    if total_samples >= 1 << 36 or sample_rate >= 1 << 20:
        raise ValueError("STREAMINFO field overflow")
    if len(audio_md5) != 16:
        raise ValueError("audio md5 must be 16 bytes")
    out = bytearray()
    out += blocksize.to_bytes(2, "big") * 2  # min == max blocksize
    out += (0).to_bytes(3, "big") * 2  # framesizes unknown
    packed = (sample_rate << 44) | ((channels - 1) << 41) | (
        (bits_per_sample - 1) << 36
    ) | total_samples
    out += packed.to_bytes(8, "big")
    out += audio_md5
    return bytes(out)


def _parse_streaminfo(body: bytes) -> dict:
    if len(body) != 34:
        raise ValueError(f"STREAMINFO must be 34 bytes, got {len(body)}")
    packed = int.from_bytes(body[10:18], "big")
    return {
        "min_blocksize": int.from_bytes(body[0:2], "big"),
        "max_blocksize": int.from_bytes(body[2:4], "big"),
        "sample_rate": packed >> 44,
        "channels": ((packed >> 41) & 0x7) + 1,
        "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
        "total_samples": packed & ((1 << 36) - 1),
        "audio_md5": body[18:34].hex(),
    }


def _vorbis_comment_block(vendor: str, comments: list[tuple[str, str]]) -> bytes:
    """VORBIS_COMMENT body — all integers LITTLE-endian per the Vorbis
    spec the block imports."""
    vb = vendor.encode("utf-8")
    out = bytearray(len(vb).to_bytes(4, "little") + vb)
    out += len(comments).to_bytes(4, "little")
    for k, v in comments:
        entry = f"{k}={v}".encode("utf-8")
        out += len(entry).to_bytes(4, "little") + entry
    return bytes(out)


def _parse_vorbis_comment(body: bytes) -> tuple[str, dict[str, str]]:
    pos = 0
    n = int.from_bytes(body[pos : pos + 4], "little")
    pos += 4
    vendor = body[pos : pos + n].decode("utf-8")
    pos += n
    count = int.from_bytes(body[pos : pos + 4], "little")
    pos += 4
    comments: dict[str, str] = {}
    for _ in range(count):
        if pos + 4 > len(body):
            raise ValueError("truncated vorbis comment list")
        ln = int.from_bytes(body[pos : pos + 4], "little")
        pos += 4
        entry = body[pos : pos + ln].decode("utf-8")
        pos += ln
        k, sep, v = entry.partition("=")
        if not sep:
            raise ValueError(f"vorbis comment without '=': {entry!r}")
        comments[k.upper()] = v  # field names are case-insensitive per spec
    if pos != len(body):
        raise ValueError(f"{len(body) - pos} trailing bytes in VORBIS_COMMENT")
    return vendor, comments


def _block(block_type: int, body: bytes, is_last: bool) -> bytes:
    if len(body) >= 1 << 24:
        raise ValueError("metadata block too large")
    return bytes([block_type | (0x80 if is_last else 0)]) + len(body).to_bytes(
        3, "big"
    ) + body


def build_flac_meta(
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    audio_md5: bytes,
    comments: list[tuple[str, str]],
    padding: int = 64,
) -> bytes:
    """Metadata-only FLAC: magic, STREAMINFO, VORBIS_COMMENT, then a
    zero-filled PADDING block flagged is-last."""
    return (
        FLAC_MAGIC
        + _block(
            0,
            _streaminfo_block(
                sample_rate, channels, bits_per_sample, total_samples, audio_md5
            ),
            False,
        )
        + _block(4, _vorbis_comment_block("kafka-streams-common-spark", comments), False)
        + _block(1, b"\x00" * padding, True)
    )


def parse_flac_meta(payload: bytes) -> dict:
    """Walk the metadata chain: magic checked, STREAMINFO required
    first per spec, block lengths honored, PADDING verified zero-
    filled, the is-last flag must terminate the walk exactly at the
    end of the payload (audio frames are out of scope for this
    metadata fixture and rejected as trailing bytes)."""
    if payload[:4] != FLAC_MAGIC:
        raise ValueError(f"not a FLAC stream: {payload[:4]!r}")
    pos = 4
    first = True
    info: dict | None = None
    vendor = ""
    comments: dict[str, str] = {}
    n_blocks = 0
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        head = payload[pos]
        is_last = bool(head & 0x80)
        btype = head & 0x7F
        ln = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4
        if pos + ln > len(payload):
            raise ValueError("metadata block overruns payload")
        body = payload[pos : pos + ln]
        pos += ln
        n_blocks += 1
        if first and btype != 0:
            raise ValueError("first metadata block must be STREAMINFO")
        first = False
        if btype == 0:
            info = _parse_streaminfo(body)
        elif btype == 4:
            vendor, comments = _parse_vorbis_comment(body)
        elif btype == 1:
            if body.strip(b"\x00"):
                raise ValueError("PADDING block not zero-filled")
        elif btype == 127:
            raise ValueError("metadata block type 127 is invalid per spec")
        # other types (seektable, cuesheet, picture) skipped by length
        if is_last:
            break
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} bytes after last metadata block")
    assert info is not None
    return {**info, "vendor": vendor, "comments": comments, "n_blocks": n_blocks}


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------


def _doc_flac_fields(doc_id: int, text: str) -> tuple[int, int, int, int, bytes]:
    """Deterministic per-document audio parameters from the corpus md5
    arithmetic (the multimodal tier's derivation convention)."""
    d = hashlib.md5(text.encode()).digest()
    sample_rate = _SAMPLE_RATES[d[0] % len(_SAMPLE_RATES)]
    channels = d[1] % 2 + 1
    bits = 8 if d[2] % 2 == 0 else 16
    total = int.from_bytes(d[3:7], "big") % 10_000_000
    audio_md5 = hashlib.md5(text[::-1].encode()).digest()
    return sample_rate, channels, bits, total, audio_md5


_FLAC_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_flac_meta(docs: DataFrame) -> DataFrame:
    """documents → metadata-only FLAC per row: STREAMINFO from the md5
    arithmetic, TITLE/ARTIST/LANGUAGE comments, PADDING sized
    ``doc_id % 64 + 16``. Map-only. The input rides ``fan_out`` (r16) so
    a single-split local lake spreads the kernel across the session's
    cores; a many-split production table takes the no-op branch and no
    exchange is inserted."""

    def encode(did, text, lang):
        did = int(did)
        sr, ch, bps, total, amd5 = _doc_flac_fields(did, str(text))
        yield did, build_flac_meta(
            sr,
            ch,
            bps,
            total,
            amd5,
            [
                ("TITLE", f"Doc {did}"),
                ("ARTIST", f"corpus-{did % 10}"),
                ("LANGUAGE", str(lang)),
            ],
            padding=did % 64 + 16,
        )

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text", "lang")), encode, _FLAC_OUT)


_FLAC_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("bits_per_sample", T.IntegerType(), False),
        T.StructField("total_samples", T.LongType(), False),
        T.StructField("audio_md5", T.StringType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("artist", T.StringType(), False),
        T.StructField("language", T.StringType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
    ]
)


def decode_flac_meta(flacs: DataFrame) -> DataFrame:
    """Map-only FLAC metadata ingest: full block walk (STREAMINFO
    bit-unpack, little-endian Vorbis comments, padding verification,
    is-last termination), emitting every recovered field plus the
    derived clip duration — all oracle-replayable."""

    def decode(did, payload):
        m = parse_flac_meta(bytes(payload))
        yield {
            "doc_id": int(did),
            "sample_rate": m["sample_rate"],
            "channels": m["channels"],
            "bits_per_sample": m["bits_per_sample"],
            "total_samples": m["total_samples"],
            "audio_md5": m["audio_md5"],
            "title": m["comments"]["TITLE"],
            "artist": m["comments"]["ARTIST"],
            "language": m["comments"]["LANGUAGE"],
            "n_blocks": m["n_blocks"],
            "duration_sec": m["total_samples"] / m["sample_rate"],
        }

    return row_kernel(flacs.select("doc_id", "payload"), decode, _FLAC_META)
