"""MP4 / ISO base-media-file-format box walk (r14) — the container
every video lake actually stores, from the PUBLIC ISO/IEC 14496-12
layout (also mirrored in the QuickTime File Format docs): a tree of
boxes, each a 32-bit big-endian size + 4-char type, with the two
special size forms real readers must handle — ``size == 1`` (a 64-bit
largesize follows the type) and ``size == 0`` (the box runs to end of
file, legal only for the last top-level box, typically ``mdat``).

This is the video twin of the MP3/FLAC metadata tier: a METADATA
operator (no codec decode — the container has no video codec library;
the honesty posture of the MP3 module), but everything a box walk can
recover is recovered and VERIFIED: exact box-boundary arithmetic
(a box that overruns its parent raises), ``ftyp`` brands, ``mvhd``
movie timescale/duration (version 0 AND version 1 — 64-bit times —
both parsed), per-track ``tkhd`` ids and 16.16 fixed-point visual
dimensions, ``mdhd`` media timescale + the packed 3×5-bit ISO-639-2
language code, and ``hdlr`` handler types (``vide``/``soun``)
dispatching the track class.

Fixture: each document becomes one faithful MP4 skeleton — ``ftyp``,
``moov`` (``mvhd`` + a video ``trak`` + an audio ``trak``, each
``trak`` > ``tkhd`` + ``mdia`` > ``mdhd``/``hdlr``), a ``free`` box
(skipped by type), and an ``mdat`` payload written with the 64-bit
largesize form on odd doc_ids and the runs-to-EOF form on even ones —
so BOTH special size paths ship in every batch. All recovered fields
derive from the established md5 arithmetic and the document's language,
so the SQL oracle replays them.

Scale posture: encode/decode are map-only Arrow ``mapInPandas``
stages — the video-lake census shape, no shuffle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

_LANG_639_2 = {"en": "eng", "de": "deu", "zh": "zho", "fr": "fra", "es": "spa"}

_CONTAINERS = {b"moov", b"trak", b"mdia"}


def _box(btype: bytes, payload: bytes, size_form: str = "normal") -> bytes:
    """One box. ``size_form``: 'normal' (32-bit), 'large' (size=1 +
    64-bit largesize), 'eof' (size=0 — runs to end of file)."""
    if len(btype) != 4:
        raise ValueError("box type must be 4 bytes")
    if size_form == "normal":
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload
    if size_form == "large":
        return (
            (1).to_bytes(4, "big")
            + btype
            + (16 + len(payload)).to_bytes(8, "big")
            + payload
        )
    if size_form == "eof":
        return (0).to_bytes(4, "big") + btype + payload
    raise ValueError(f"unknown size form {size_form!r}")


def _fixed_16_16(v: int) -> bytes:
    return (v << 16).to_bytes(4, "big")


def _pack_lang(code3: str) -> int:
    """ISO-639-2 three-letter code packed as 3×5-bit (chr - 0x60)."""
    a, b, c = (ord(ch) - 0x60 for ch in code3)
    if not all(1 <= x <= 26 for x in (a, b, c)):
        raise ValueError(f"bad language code {code3!r}")
    return (a << 10) | (b << 5) | c


def _unpack_lang(packed: int) -> str:
    return "".join(
        chr(((packed >> s) & 0x1F) + 0x60) for s in (10, 5, 0)
    )


def _mvhd(timescale: int, duration: int) -> bytes:
    body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + (0).to_bytes(4, "big") * 2  # creation/modification time
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + b"\x00" * 10  # reserved
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )  # unity matrix
        + b"\x00" * 24  # pre_defined
        + (3).to_bytes(4, "big")  # next_track_ID
    )
    return _box(b"mvhd", body)


def _tkhd(track_id: int, duration: int, width: int, height: int) -> bytes:
    body = (
        b"\x00\x00\x00\x03"  # version 0, flags: enabled | in movie
        + (0).to_bytes(4, "big") * 2
        + track_id.to_bytes(4, "big")
        + b"\x00" * 4  # reserved
        + duration.to_bytes(4, "big")
        + b"\x00" * 8  # reserved
        + (0).to_bytes(2, "big")  # layer
        + (0).to_bytes(2, "big")  # alternate_group
        + (0x0100 if width == 0 else 0).to_bytes(2, "big")  # volume (audio)
        + b"\x00" * 2
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )
        + _fixed_16_16(width)
        + _fixed_16_16(height)
    )
    return _box(b"tkhd", body)


def _mdhd(timescale: int, duration: int, lang3: str, version: int = 0) -> bytes:
    if version == 0:
        times = (0).to_bytes(4, "big") * 2 + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
    elif version == 1:  # 64-bit creation/modification/duration
        times = (0).to_bytes(8, "big") * 2 + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big")
    else:
        raise ValueError(f"mdhd version {version}")
    body = (
        bytes([version]) + b"\x00\x00\x00"
        + times
        + _pack_lang(lang3).to_bytes(2, "big")
        + b"\x00\x00"  # pre_defined
    )
    return _box(b"mdhd", body)


def _hdlr(handler: bytes, name: str) -> bytes:
    body = (
        b"\x00\x00\x00\x00"
        + b"\x00" * 4  # pre_defined
        + handler
        + b"\x00" * 12  # reserved
        + name.encode("utf-8") + b"\x00"
    )
    return _box(b"hdlr", body)


def build_mp4_meta(
    doc_id: int,
    duration_ms: int,
    width: int,
    height: int,
    audio_rate: int,
    lang3: str,
    mdat_payload: bytes,
    mdat_form: str,
) -> bytes:
    """One MP4 skeleton; movie timescale 1000 so mvhd duration IS
    milliseconds; video mdhd at 90000 (the conventional video clock),
    audio mdhd at the sample rate."""
    ftyp = _box(b"ftyp", b"isom" + (512).to_bytes(4, "big") + b"isommp42")
    video_trak = _box(
        b"trak",
        _tkhd(1, duration_ms, width, height)
        + _box(
            b"mdia",
            _mdhd(90000, duration_ms * 90, lang3)
            + _hdlr(b"vide", f"vide:doc-{doc_id}"),
        ),
    )
    audio_trak = _box(
        b"trak",
        _tkhd(2, duration_ms, 0, 0)
        + _box(
            b"mdia",
            _mdhd(audio_rate, duration_ms * audio_rate // 1000, lang3)
            + _hdlr(b"soun", f"soun:doc-{doc_id}"),
        ),
    )
    moov = _box(b"moov", _mvhd(1000, duration_ms) + video_trak + audio_trak)
    free = _box(b"free", b"\x00" * (doc_id % 32 + 4))
    mdat = _box(b"mdat", mdat_payload, size_form=mdat_form)
    return ftyp + moov + free + mdat


def walk_boxes(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in
    [start, end); enforces the size grammar — overruns, sizes < header,
    and a to-EOF box that is not last all raise."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated box header at {pos}")
        size = int.from_bytes(buf[pos : pos + 4], "big")
        btype = buf[pos + 4 : pos + 8]
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize")
            size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
            if size < 16:
                raise ValueError(f"largesize {size} smaller than header")
            body_start = pos + 16
        elif size == 0:
            size = end - pos  # runs to end of the enclosing scope
            body_start = pos + 8
        else:
            if size < 8:
                raise ValueError(f"box size {size} smaller than header")
            body_start = pos + 8
        if pos + size > end:
            raise ValueError(
                f"box {btype!r} overruns its scope ({pos + size} > {end})"
            )
        yield btype, body_start, pos + size
        pos += size


def parse_mp4_meta(payload: bytes) -> dict:
    """Full metadata walk: ftyp brands, mvhd (v0/v1), every trak's
    tkhd + mdhd + hdlr, unknown boxes skipped by size, box-boundary
    arithmetic enforced everywhere. Returns the movie header fields
    and per-handler track info."""
    out: dict = {"tracks": []}
    saw_ftyp = False
    for btype, s, e in walk_boxes(payload, 0, len(payload)):
        if btype == b"ftyp":
            out["major_brand"] = payload[s : s + 4].decode("ascii")
            saw_ftyp = True
        elif btype == b"moov":
            _parse_moov(payload, s, e, out)
        elif btype == b"mdat":
            out["mdat_bytes"] = e - s
    if not saw_ftyp:
        raise ValueError("no ftyp box")
    if "timescale" not in out:
        raise ValueError("no moov/mvhd box")
    return out


def _parse_full_version(payload: bytes, s: int) -> int:
    return payload[s]


def _parse_moov(payload: bytes, start: int, end: int, out: dict) -> None:
    for btype, s, e in walk_boxes(payload, start, end):
        if btype == b"mvhd":
            v = _parse_full_version(payload, s)
            if v == 0:
                out["timescale"] = int.from_bytes(payload[s + 12 : s + 16], "big")
                out["duration"] = int.from_bytes(payload[s + 16 : s + 20], "big")
            elif v == 1:
                out["timescale"] = int.from_bytes(payload[s + 20 : s + 24], "big")
                out["duration"] = int.from_bytes(payload[s + 24 : s + 32], "big")
            else:
                raise ValueError(f"mvhd version {v}")
        elif btype == b"trak":
            out["tracks"].append(_parse_trak(payload, s, e))


def _parse_trak(payload: bytes, start: int, end: int) -> dict:
    track: dict = {}
    for btype, s, e in walk_boxes(payload, start, end):
        if btype == b"tkhd":
            v = payload[s]
            if v != 0:
                raise ValueError(f"tkhd version {v} unsupported")
            track["track_id"] = int.from_bytes(payload[s + 12 : s + 16], "big")
            # width/height are the version-0 body's last two 16.16 fields
            track["width"] = int.from_bytes(payload[e - 8 : e - 4], "big") >> 16
            track["height"] = int.from_bytes(payload[e - 4 : e], "big") >> 16
        elif btype == b"mdia":
            for mtype, ms, me in walk_boxes(payload, s, e):
                if mtype == b"mdhd":
                    v = payload[ms]
                    if v == 0:
                        track["media_timescale"] = int.from_bytes(
                            payload[ms + 12 : ms + 16], "big"
                        )
                        lang_at = ms + 20
                    elif v == 1:
                        track["media_timescale"] = int.from_bytes(
                            payload[ms + 20 : ms + 24], "big"
                        )
                        lang_at = ms + 32
                    else:
                        raise ValueError(f"mdhd version {v}")
                    track["lang"] = _unpack_lang(
                        int.from_bytes(payload[lang_at : lang_at + 2], "big")
                    )
                elif mtype == b"hdlr":
                    track["handler"] = payload[ms + 8 : ms + 12].decode("ascii")
                    track["name"] = (
                        payload[ms + 24 : me].rstrip(b"\x00").decode("utf-8")
                    )
    return track


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_MP4_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_mp4_meta(docs: DataFrame) -> DataFrame:
    """documents → one MP4 skeleton per row: duration/geometry/audio
    rate from the established md5 arithmetic, language from the
    document's ISO-639-1 code mapped to 639-2, mdat payload = the
    digest cycled to ``strlen(text) % 256 + 32`` bytes — written with
    the 64-bit largesize form on odd ids and the runs-to-EOF form on
    even ids. Map-only. The input rides ``fan_out`` (r16) so a single-
    split local lake spreads the kernel across the session's cores; a
    many-split production table takes the no-op branch and no exchange
    is inserted."""

    def encode(did, text, lang):
        did = int(did)
        text = str(text)
        hx = hashlib.md5(text.encode()).hexdigest()
        d = bytes.fromhex(hx)
        duration_ms = int.from_bytes(d[0:3], "big") % 600_000 + 1000
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        audio_rate = (8000, 16000, 22050, 44100, 48000)[d[3] % 5]
        n = len(text) % 256 + 32
        mdat = (d * ((n + 15) // 16))[:n]
        yield did, build_mp4_meta(
            did,
            duration_ms,
            w * 16,
            h * 16,
            audio_rate,
            _LANG_639_2[str(lang)],
            mdat,
            mdat_form="large" if did % 2 == 1 else "eof",
        )

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text", "lang")), encode, _MP4_OUT)


_MP4_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("major_brand", T.StringType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("n_tracks", T.IntegerType(), False),
        T.StructField("video_width", T.IntegerType(), False),
        T.StructField("video_height", T.IntegerType(), False),
        T.StructField("video_timescale", T.LongType(), False),
        T.StructField("audio_rate", T.LongType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("mdat_bytes", T.LongType(), False),
    ]
)


def decode_mp4_meta(videos: DataFrame) -> DataFrame:
    """Map-only MP4 metadata ingest: the full box walk (both special
    size forms live in every batch), track dispatch by hdlr handler,
    doc id recovered from the video handler NAME, language unpacked
    from the 3×5-bit mdhd code — every column oracle-replayable."""

    def decode(payload):
        m = parse_mp4_meta(bytes(payload))
        vid = next(t for t in m["tracks"] if t["handler"] == "vide")
        aud = next(t for t in m["tracks"] if t["handler"] == "soun")
        if not vid["name"].startswith("vide:doc-"):
            raise ValueError(f"bad video handler name {vid['name']!r}")
        if m["timescale"] != 1000:
            raise ValueError(f"unexpected movie timescale {m['timescale']}")
        yield {
            "doc_id": int(vid["name"][9:]),
            "major_brand": m["major_brand"],
            "duration_ms": m["duration"],
            "n_tracks": len(m["tracks"]),
            "video_width": vid["width"],
            "video_height": vid["height"],
            "video_timescale": vid["media_timescale"],
            "audio_rate": aud["media_timescale"],
            "lang": vid["lang"],
            "mdat_bytes": m["mdat_bytes"],
        }

    return row_kernel(videos.select("payload"), decode, _MP4_META)
