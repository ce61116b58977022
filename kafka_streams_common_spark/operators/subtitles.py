"""SRT / WebVTT subtitle-cue codec (r14) — the text-with-timing
sidecar every video-caption training pair ships with (the alignment
layer multimodal pipelines join on). Original implementations of the
PUBLIC formats: SubRip's de-facto layout (1-based cue counters,
``HH:MM:SS,mmm --> HH:MM:SS,mmm`` with a COMMA millisecond separator,
blank-line cue separation, CRLF convention) and W3C WebVTT (the
``WEBVTT`` header line, DOT millisecond separator, LF convention, no
cue counters required).

The parser is strict where the formats are strict — SRT counters must
increment from 1, timestamps must match their dialect's separator
exactly, cue end must be after cue start, cues must be in
non-decreasing time order — and the decoder recovers the full caption
text EXACTLY (cue texts concatenated), so ``md5(text)`` gates the cue
walk end to end.

Scale posture: encode/decode are map-only Arrow ``mapInPandas``
stages, the sidecar-census shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

CUE_CHARS = 120


def _fmt_ts(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, milli = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{milli:03d}"


def _parse_ts(raw: str, sep: str) -> int:
    hms, _, milli = raw.partition(sep)
    if not _:
        raise ValueError(f"timestamp {raw!r} missing {sep!r} separator")
    h, m, s = hms.split(":")
    if len(milli) != 3:
        raise ValueError(f"timestamp {raw!r} must carry 3 millisecond digits")
    if not (len(m) == 2 and len(s) == 2):
        raise ValueError(f"timestamp {raw!r} fields must be zero-padded")
    ms = int(h) * 3_600_000 + int(m) * 60_000 + int(s) * 1000 + int(milli)
    if int(m) >= 60 or int(s) >= 60:
        raise ValueError(f"timestamp {raw!r} out of range")
    return ms


def build_srt(cues: list[tuple[int, int, str]]) -> str:
    """SubRip: 1-based counter, comma separator, CRLF, blank-line cue
    separation."""
    out = []
    for i, (start, end, text) in enumerate(cues, 1):
        out.append(
            f"{i}\r\n{_fmt_ts(start, ',')} --> {_fmt_ts(end, ',')}\r\n{text}\r\n"
        )
    return "\r\n".join(out)


def build_vtt(cues: list[tuple[int, int, str]]) -> str:
    """WebVTT: header line, dot separator, LF."""
    out = ["WEBVTT\n"]
    for start, end, text in cues:
        out.append(f"{_fmt_ts(start, '.')} --> {_fmt_ts(end, '.')}\n{text}\n")
    return "\n".join(out)


def parse_cues(raw: str) -> tuple[str, list[tuple[int, int, str]]]:
    """Dialect-dispatch on the WEBVTT header, then a strict cue walk.
    Returns (format, [(start_ms, end_ms, text)]). Cue text may span
    multiple lines (joined with '\\n' per both specs)."""
    if raw.startswith("WEBVTT"):
        fmt, sep = "vtt", "."
        body = raw.split("\n", 1)[1] if "\n" in raw else ""
    else:
        fmt, sep = "srt", ","
        body = raw
    blocks = [
        b for b in body.replace("\r\n", "\n").split("\n\n") if b.strip()
    ]
    cues: list[tuple[int, int, str]] = []
    prev_start = -1
    for bi, block in enumerate(blocks):
        lines = [ln for ln in block.split("\n") if ln != ""]
        if fmt == "srt":
            if not lines[0].isdigit():
                raise ValueError(f"SRT cue {bi}: counter line missing")
            if int(lines[0]) != bi + 1:
                raise ValueError(
                    f"SRT counter {lines[0]} at cue {bi} (want {bi + 1})"
                )
            lines = lines[1:]
        if "-->" not in lines[0]:
            raise ValueError(f"cue {bi}: no timing line")
        left, _, right = lines[0].partition("-->")
        start = _parse_ts(left.strip(), sep)
        end = _parse_ts(right.strip(), sep)
        if end <= start:
            raise ValueError(f"cue {bi}: end {end} not after start {start}")
        if start < prev_start:
            raise ValueError(f"cue {bi}: cues out of time order")
        prev_start = start
        cues.append((start, end, "\n".join(lines[1:])))
    return fmt, cues


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_SUB_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_subtitles(docs: DataFrame) -> DataFrame:
    """documents → one subtitle sidecar per row: the text chunked into
    120-char cues, cue duration ``2000 + doc_id % 1000`` ms with a
    100 ms gap; EVEN doc_ids ship SubRip (CRLF, comma), ODD WebVTT
    (LF, dot) — both dialects in every batch. Map-only."""

    def encode(did, text):
        did = int(did)
        text = str(text)
        dur = 2000 + did % 1000
        cues = [
            (i * (dur + 100), i * (dur + 100) + dur, text[j : j + CUE_CHARS])
            for i, j in enumerate(range(0, len(text), CUE_CHARS))
        ]
        raw = build_srt(cues) if did % 2 == 0 else build_vtt(cues)
        yield did, raw.encode("utf-8")

    return row_kernel(docs.select("doc_id", "text"), encode, _SUB_OUT)


_SUB_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("n_cues", T.IntegerType(), False),
        T.StructField("span_ms", T.LongType(), False),
        T.StructField("caption_md5", T.StringType(), False),
        T.StructField("caption_chars", T.LongType(), False),
    ]
)


def decode_subtitles(sidecars: DataFrame) -> DataFrame:
    """Map-only sidecar ingest: dialect dispatch, strict cue walk
    (counters, separators, zero-padding, time order), caption text
    reassembled EXACTLY (md5-gated), span from first start to last
    end. Every column oracle-replayable."""

    def decode(did, payload):
        fmt, cues = parse_cues(bytes(payload).decode("utf-8"))
        caption = "".join(c[2] for c in cues)
        yield {
            "doc_id": int(did),
            "format": fmt,
            "n_cues": len(cues),
            "span_ms": cues[-1][1] - cues[0][0] if cues else 0,
            "caption_md5": hashlib.md5(caption.encode()).hexdigest(),
            "caption_chars": len(caption),
        }

    return row_kernel(sidecars.select("doc_id", "payload"), decode, _SUB_META)
