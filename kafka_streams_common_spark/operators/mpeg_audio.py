"""MPEG-audio (MP3) metadata scan: MPEG-1 Layer III frame-header walk
(the public ISO/IEC 11172-3 header layout) plus the ID3v1 trailing tag
(the public id3.org v1 layout) — the header-level census an audio lake
needs BEFORE committing to a full decode: bitrate/samplerate/channel
recovery, CBR duration arithmetic, and tag metadata extraction, all
without touching the audio payload.

This is deliberately a METADATA operator, not a decoder: MDCT synthesis
is out of scope (the container has no audio codec library — the same
honesty posture as the JPEG tier's from-scratch note), but everything a
frame-header walk can recover is recovered and VERIFIED — sync words,
version/layer fields, bitrate and samplerate table indexes, per-frame
padding arithmetic (frame length = ``144000·kbps/Hz + pad``), CBR
consistency across frames, and the 128-byte ``TAG`` trailer's fixed
field offsets.

Reference parity note: the reference engine (kafka-streams-common) has
no audio surface — this module is part of the mandated
training-data-pipeline extension, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

# MPEG-1 Layer III bitrate table, kbps, index 1..14 (0 = free-format
# and 15 = reserved are both rejected)
MPEG1_L3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)

# MPEG-1 samplerate table, Hz, index 0..2 (3 = reserved)
MPEG1_SAMPLERATES = (44100, 48000, 32000)

CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")

SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III

ID3V1_SIZE = 128


def _mp3_frame_header(
    bitrate_idx: int, sr_idx: int, channel_mode: int, padded: bool
) -> bytes:
    """One 4-byte MPEG-1 Layer III frame header: 11 sync bits, version
    11 (MPEG-1), layer 01 (III), protection 1 (no CRC), then the
    bitrate/samplerate/padding/mode fields at their spec offsets."""
    b1 = 0xFF
    b2 = 0xE0 | (0b11 << 3) | (0b01 << 1) | 0b1  # sync + MPEG1 + LayerIII + no-CRC
    b3 = (bitrate_idx << 4) | (sr_idx << 2) | (int(padded) << 1)
    b4 = channel_mode << 6  # mode ext / copyright / original / emphasis all 0
    return bytes((b1, b2, b3, b4))


def _mp3_frame_len(bitrate_idx: int, sr_idx: int, padded: bool) -> int:
    """Layer III frame length in bytes:
    ``floor(144 * bitrate / samplerate) + padding`` per the spec."""
    return (
        144 * MPEG1_L3_BITRATES[bitrate_idx] * 1000 // MPEG1_SAMPLERATES[sr_idx]
        + int(padded)
    )


def _id3v1_tag(
    title: str, artist: str, album: str, year: int, comment: str, genre: int
) -> bytes:
    """The 128-byte ID3v1 trailer: ``TAG`` magic then fixed-width
    NUL-padded Latin-1 fields at the public layout's offsets."""

    def field(s: str, n: int) -> bytes:
        b = s.encode("latin-1")[:n]
        return b + b"\x00" * (n - len(b))

    return (
        b"TAG"
        + field(title, 30)
        + field(artist, 30)
        + field(album, 30)
        + field(f"{year:04d}", 4)
        + field(comment, 30)
        + bytes([genre])
    )


def _mp3_bytes(
    n_frames: int,
    bitrate_idx: int,
    sr_idx: int,
    channel_mode: int,
    fill: bytes,
    title: str,
    artist: str,
    album: str,
    year: int,
    genre: int,
) -> bytes:
    """A complete CBR MPEG-1 Layer III file: ``n_frames`` frames whose
    PADDING BIT alternates (so the walker's per-frame length arithmetic
    is load-bearing), deterministic fill bytes as the audio payload,
    then the ID3v1 trailer."""
    out = bytearray()
    for i in range(n_frames):
        padded = i % 2 == 0
        flen = _mp3_frame_len(bitrate_idx, sr_idx, padded)
        body = (fill * ((flen - 4) // len(fill) + 1))[: flen - 4]
        out += _mp3_frame_header(bitrate_idx, sr_idx, channel_mode, padded) + body
    out += _id3v1_tag(title, artist, album, year, "", genre)
    return bytes(out)


def _parse_mp3_meta(payload: bytes) -> dict:
    """Walk an MPEG-1 Layer III file: per frame VERIFY the sync word,
    version and layer fields, and table indexes (free-format, reserved
    bitrate/samplerate indexes, and CRC-protected frames are explicitly
    rejected — the tier's posture), advance by the computed frame
    length, require CBR consistency (one bitrate/samplerate/mode across
    every frame), then parse the 128-byte ID3v1 trailer at its fixed
    offsets. Everything returned is RECOVERED from the bytes."""
    n_frames = 0
    bitrate_idx = sr_idx = mode = None
    pos = 0
    while pos < len(payload) - ID3V1_SIZE:
        if pos + 4 > len(payload):
            raise ValueError(f"truncated frame header at offset {pos}")
        b1, b2, b3, b4 = payload[pos : pos + 4]
        if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
            raise ValueError(f"lost MPEG sync at offset {pos}")
        if (b2 >> 3) & 0b11 != 0b11:
            raise ValueError("only MPEG-1 audio is supported")
        if (b2 >> 1) & 0b11 != 0b01:
            raise ValueError("only Layer III is supported")
        if not b2 & 1:
            raise ValueError("CRC-protected frames are not supported")
        bidx = b3 >> 4
        if bidx in (0, 15):
            raise ValueError(f"free-format/reserved bitrate index {bidx}")
        sidx = (b3 >> 2) & 0b11
        if sidx == 3:
            raise ValueError("reserved samplerate index")
        m = b4 >> 6
        if n_frames == 0:
            bitrate_idx, sr_idx, mode = bidx, sidx, m
        elif (bidx, sidx, m) != (bitrate_idx, sr_idx, mode):
            raise ValueError(f"VBR/mode change at frame {n_frames} not supported")
        flen = _mp3_frame_len(bidx, sidx, bool((b3 >> 1) & 1))
        if pos + flen > len(payload) - ID3V1_SIZE:
            raise ValueError(f"truncated frame {n_frames}")
        pos += flen
        n_frames += 1
    if n_frames == 0:
        raise ValueError("no MPEG audio frames")
    tag = payload[pos:]
    if len(tag) != ID3V1_SIZE or tag[:3] != b"TAG":
        raise ValueError("missing ID3v1 trailer")
    sr = MPEG1_SAMPLERATES[sr_idx]
    return {
        "n_frames": n_frames,
        "bitrate_kbps": MPEG1_L3_BITRATES[bitrate_idx],
        "sample_rate": sr,
        "channel_mode": CHANNEL_MODES[mode],
        "duration_ms": n_frames * SAMPLES_PER_FRAME * 1000 // sr,
        "title": tag[3:33].rstrip(b"\x00").decode("latin-1"),
        "artist": tag[33:63].rstrip(b"\x00").decode("latin-1"),
        "album": tag[63:93].rstrip(b"\x00").decode("latin-1"),
        "year": int(tag[93:97]),
        "genre_id": tag[127],
    }


# ---------------------------------------------------------------------------
# Spark surface


def encode_mp3_meta(docs: DataFrame) -> DataFrame:
    """Encode each document as a genuine CBR MPEG-1 Layer III file with
    an ID3v1 trailer, every recoverable field derived from the corpus
    so the SQL oracle replays it: bitrate index ``doc_id % 14 + 1``,
    samplerate index ``doc_id % 3``, channel mode ``doc_id % 4``,
    ``strlen(text) % 8 + 2`` frames (padding bit alternating per
    frame), title/artist = the text digests, year ``1980 + doc_id %
    40``, genre ``doc_id % 80``. Audio payload is digest fill — the
    metadata walk never reads it. Arrow-batched ``mapInPandas``,
    map-only. The input rides ``fan_out`` (r16) so a single-split local
    lake spreads the kernel across the session's cores; a many-split
    production table takes the no-op branch and no exchange is inserted.
    Reads ``doc_id`` and ``text``."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        did = int(did)
        hx = hashlib.md5(text.encode()).hexdigest()
        rhx = hashlib.md5(text[::-1].encode()).hexdigest()
        yield did, _mp3_bytes(
            n_frames=len(text.encode()) % 8 + 2,
            bitrate_idx=did % 14 + 1,
            sr_idx=did % 3,
            channel_mode=did % 4,
            fill=bytes.fromhex(hx),
            title=hx[:30],
            artist=rhx[:30],
            album="corpus",
            year=1980 + did % 40,
            genre=did % 80,
        )

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


MP3_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("bitrate_kbps", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channel_mode", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("genre_id", T.IntegerType(), True),
    ]
)


def decode_mp3_meta(files: DataFrame) -> DataFrame:
    """Arrow-batched MP3 metadata scan over ``(doc_id, payload)``: the
    full frame-header walk + ID3v1 parse of ``_parse_mp3_meta`` per
    row. Every output column is RECOVERED from the bytes (frame count
    by walking, bitrate/samplerate/mode from header fields, duration
    from the CBR arithmetic, tag fields from their fixed offsets) — a
    wrong frame-length formula desyncs the walk and fails loudly
    rather than mis-counting. Map-only, no shuffle — the audio-lake
    census shape at 100 TB."""

    def decode(did, p):
        yield {"doc_id": did, **_parse_mp3_meta(bytes(p))}

    return row_kernel(files.select("doc_id", "payload"), decode, MP3_META_SCHEMA)


# ---------------------------------------------------------------------------
# ID3v2.3 (r14) — the modern front-of-file tag (public id3.org
# id3v2.3.0 layout): 10-byte header ("ID3", version 3.0, flags, 28-bit
# SYNCHSAFE size), then frames of (4-char id, 4-byte PLAIN big-endian
# size — v2.3 frame sizes are NOT synchsafe, the classic trap — 2 flag
# bytes, body). Text frames carry an encoding byte: 0 = ISO-8859-1,
# 1 = UTF-16 with BOM; COMM adds a 3-byte language + null-terminated
# description. Zero-padding after the last frame is allowed and the
# parser stops at it (a zero byte can never start a frame id).
# ---------------------------------------------------------------------------


def _synchsafe(n: int) -> bytes:
    """28-bit synchsafe integer: 4 bytes, 7 payload bits each (high
    bit always clear, so the tag header can never alias MPEG sync)."""
    if not 0 <= n < 1 << 28:
        raise ValueError(f"synchsafe overflow: {n}")
    return bytes(((n >> s) & 0x7F) for s in (21, 14, 7, 0))


def _read_synchsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError("synchsafe byte with high bit set")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3v2_text_frame(fid: str, text: str, utf16: bool) -> bytes:
    if utf16:
        body = b"\x01\xff\xfe" + text.encode("utf-16-le")
    else:
        body = b"\x00" + text.encode("latin-1")
    return fid.encode("latin-1") + len(body).to_bytes(4, "big") + b"\x00\x00" + body


def _id3v2_comm_frame(lang: str, descr: str, text: str, utf16: bool) -> bytes:
    if utf16:
        body = (
            b"\x01"
            + lang.encode("latin-1")
            + b"\xff\xfe" + descr.encode("utf-16-le") + b"\x00\x00"
            + b"\xff\xfe" + text.encode("utf-16-le")
        )
    else:
        body = (
            b"\x00"
            + lang.encode("latin-1")
            + descr.encode("latin-1") + b"\x00"
            + text.encode("latin-1")
        )
    return b"COMM" + len(body).to_bytes(4, "big") + b"\x00\x00" + body


def _id3v2_tag(
    text_frames: list[tuple[str, str]],
    comment: tuple[str, str, str] | None,
    utf16: bool,
    padding: int = 0,
) -> bytes:
    frames = b"".join(_id3v2_text_frame(f, v, utf16) for f, v in text_frames)
    if comment is not None:
        frames += _id3v2_comm_frame(*comment, utf16=utf16)
    frames += b"\x00" * padding
    return b"ID3\x03\x00\x00" + _synchsafe(len(frames)) + frames


def _decode_id3v2_text(body: bytes) -> tuple[str, str]:
    """(decoded text, encoding name) for a text-frame body."""
    if not body:
        raise ValueError("empty text frame body")
    enc = body[0]
    raw = body[1:]
    if enc == 0:
        return raw.rstrip(b"\x00").decode("latin-1"), "latin1"
    if enc == 1:
        if raw[:2] not in (b"\xff\xfe", b"\xfe\xff"):
            raise ValueError("UTF-16 text frame missing BOM")
        codec = "utf-16-le" if raw[:2] == b"\xff\xfe" else "utf-16-be"
        body16 = raw[2:]
        # strip the optional terminator as FULL code units — a bare
        # rstrip(b"\x00") would eat the final character's high byte
        while body16.endswith(b"\x00\x00"):
            body16 = body16[:-2]
        return body16.decode(codec), "utf16"
    raise ValueError(f"unsupported ID3v2.3 text encoding {enc}")


def _split_utf16_terminated(raw: bytes) -> tuple[bytes, bytes]:
    for i in range(0, len(raw) - 1, 2):
        if raw[i : i + 2] == b"\x00\x00":
            return raw[:i], raw[i + 2 :]
    raise ValueError("unterminated UTF-16 string")


def _parse_id3v2(payload: bytes) -> tuple[dict[str, str], str, int]:
    """Parse one leading ID3v2.3 tag. Returns (fields, text encoding
    name, total tag length including the 10-byte header). Fields:
    text-frame ids map to their decoded text; ``COMM`` maps to the
    comment text (its language under ``COMM_LANG``)."""
    if payload[:3] != b"ID3":
        raise ValueError("no ID3v2 tag")
    if payload[3:5] != b"\x03\x00":
        raise ValueError(f"unsupported ID3v2 version {payload[3]}.{payload[4]}")
    flags = payload[5]
    if flags:
        raise ValueError(f"unsupported ID3v2 header flags 0x{flags:02x}")
    size = _read_synchsafe(payload[6:10])
    if 10 + size > len(payload):
        raise ValueError("ID3v2 tag overruns payload")
    tag = payload[10 : 10 + size]
    fields: dict[str, str] = {}
    encoding = "latin1"
    pos = 0
    while pos < len(tag):
        if tag[pos] == 0:  # padding — nothing but zeros may follow
            if tag[pos:].strip(b"\x00"):
                raise ValueError("garbage inside ID3v2 padding")
            break
        fid = tag[pos : pos + 4].decode("latin-1")
        fsize = int.from_bytes(tag[pos + 4 : pos + 8], "big")
        fflags = tag[pos + 8 : pos + 10]
        if fflags != b"\x00\x00":
            raise ValueError(f"unsupported frame flags in {fid}")
        body = tag[pos + 10 : pos + 10 + fsize]
        if len(body) != fsize:
            raise ValueError(f"frame {fid} overruns tag")
        pos += 10 + fsize
        if fid == "COMM":
            enc = body[0]
            lang = body[1:4].decode("latin-1")
            rest = body[4:]
            if enc == 0:
                _descr, _, text_raw = rest.partition(b"\x00")
                text = text_raw.decode("latin-1")
                encoding = "latin1"
            elif enc == 1:
                if rest[:2] not in (b"\xff\xfe", b"\xfe\xff"):
                    raise ValueError("COMM UTF-16 description missing BOM")
                _descr, text_raw = _split_utf16_terminated(rest[2:])
                if text_raw[:2] not in (b"\xff\xfe", b"\xfe\xff"):
                    raise ValueError("COMM UTF-16 text missing BOM")
                text = text_raw[2:].decode(
                    "utf-16-le" if text_raw[:2] == b"\xff\xfe" else "utf-16-be"
                )
                encoding = "utf16"
            else:
                raise ValueError(f"unsupported COMM encoding {enc}")
            fields["COMM"] = text
            fields["COMM_LANG"] = lang
        elif fid.startswith("T"):
            fields[fid], encoding = _decode_id3v2_text(body)
        else:
            raise ValueError(f"unsupported ID3v2 frame {fid!r}")
    return fields, encoding, 10 + size


# Spark surface: ID3v2-tagged MP3 files


def encode_mp3_id3v2(docs: DataFrame) -> DataFrame:
    """Each document becomes an MP3 with BOTH tag generations — a
    leading ID3v2.3 tag (TIT2/TPE1/TALB/TYER/TRCK + COMM; odd doc_ids
    UTF-16, even latin-1, padding ``doc_id % 33``) and the legacy
    ID3v1 trailer carrying a DIFFERENT year, so the decode stage must
    read both tags independently. The audio between them is the
    established CBR frame fixture. Map-only. The input rides ``fan_out``
    (r16) so a single-split local lake spreads the kernel across the
    session's cores; a many-split production table takes the no-op
    branch and no exchange is inserted. Reads ``doc_id``, ``text`` and
    ``lang``."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text, lang):
        did = int(did)
        hx = hashlib.md5(text.encode()).hexdigest()
        tag2 = _id3v2_tag(
            [
                ("TIT2", f"Doc {did}"),
                ("TPE1", f"corpus-{did % 10}"),
                ("TALB", str(lang)),
                ("TYER", str(1990 + did % 30)),
                ("TRCK", str(did % 12 + 1)),
            ],
            comment=("eng", "note", hx[:16]),
            utf16=did % 2 == 1,
            padding=did % 33,
        )
        audio = _mp3_bytes(
            n_frames=len(text.encode()) % 8 + 2,
            bitrate_idx=did % 14 + 1,
            sr_idx=did % 3,
            channel_mode=did % 4,
            fill=bytes.fromhex(hx),
            title=hx[:30],
            artist=hx[:30],
            album="corpus",
            year=1980 + did % 40,
            genre=did % 80,
        )
        yield did, tag2 + audio

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text", "lang")), encode, out_schema)


MP3_ID3V2_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("artist", T.StringType(), False),
        T.StructField("album", T.StringType(), False),
        T.StructField("year_v2", T.IntegerType(), False),
        T.StructField("track", T.IntegerType(), False),
        T.StructField("comment", T.StringType(), False),
        T.StructField("comment_lang", T.StringType(), False),
        T.StructField("text_encoding", T.StringType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("year_v1", T.IntegerType(), False),
    ]
)


def decode_mp3_id3v2(files: DataFrame) -> DataFrame:
    """Map-only dual-tag scan: the leading ID3v2.3 parse (synchsafe
    header size, PLAIN big-endian v2.3 frame sizes, latin-1 and
    BOM'd UTF-16 text, COMM language + description, padding
    verification), then the established frame walk + ID3v1 parse over
    the remainder — v2 fields, frame count, and the v1 year are all
    emitted, so the oracle gates both tag layers AND the boundary
    between them."""

    def decode(did, p):
        p = bytes(p)
        fields, encoding, tag_len = _parse_id3v2(p)
        audio = _parse_mp3_meta(p[tag_len:])
        yield {
            "doc_id": did,
            "title": fields["TIT2"],
            "artist": fields["TPE1"],
            "album": fields["TALB"],
            "year_v2": int(fields["TYER"]),
            "track": int(fields["TRCK"]),
            "comment": fields["COMM"],
            "comment_lang": fields["COMM_LANG"],
            "text_encoding": encoding,
            "n_frames": audio["n_frames"],
            "year_v1": audio["year"],
        }

    return row_kernel(files.select("doc_id", "payload"), decode, MP3_ID3V2_SCHEMA)
