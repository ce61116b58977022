"""Character-encoding census + repair over raw document bytes — the
ingest pass a web-scraped corpus needs before any text operator can
trust its input: classify each payload's encoding (clean UTF-8,
double-encoded UTF-8 mojibake, Windows-1252, ISO-8859-1) and repair it
back to the text it was meant to carry.

Detection is from-scratch heuristics over the byte stream (the module's
real logic); the byte<->str conversions themselves go through Python's
built-in codecs — the zlib precedent from the archive tier (container
walk from scratch, the universally-available primitive from the
stdlib). The classifier is the standard practical ladder:

1. bytes that decode as UTF-8 and contain a ``lead-byte char
   (U+00C2-U+00F4) + continuation char (U+0080-U+00BF)`` bigram are
   DOUBLE-ENCODED (utf-8 bytes were read as latin-1 and re-encoded —
   the classic mojibake signature, 'Ã©' and friends); repair inverts
   the round trip (encode latin-1, decode utf-8), and is only claimed
   when that inverse actually holds.
2. bytes that decode as UTF-8 without the signature are clean.
3. invalid UTF-8 with any byte in 0x80-0x9F is WINDOWS-1252 (the C1
   range is where cp1252 parks its printable punctuation — the
   browsers' latin-1-means-cp1252 convention); otherwise ISO-8859-1.

Reference parity note: the reference engine (kafka-streams-common) has
no encoding surface — this module is part of the mandated
training-data-pipeline extension, not a port.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

# a char in the UTF-8 LEAD-BYTE range (0xC2-0xF4 read as latin-1)
# followed by one in the continuation range (0x80-0xBF) — what every
# UTF-8 multibyte sequence turns into when its bytes are mis-read as
# latin-1 and re-encoded ('Ã©' for é, 'â€œ' for a smart quote, ...)
_MOJIBAKE_RE = re.compile("[\u00c2-\u00f4][\u0080-\u00bf]")

ENCODING_CLASSES = ("utf8", "double_utf8", "cp1252", "latin1")


def _classify_and_repair(payload: bytes) -> tuple[str, str]:
    """Classify one payload's encoding and return
    ``(encoding, repaired_text)`` per the module-docstring ladder.
    Payloads whose C1 bytes fall on cp1252's five undefined codes
    (0x81/0x8D/0x8F/0x90/0x9D) are explicitly rejected — they are
    neither text encoding, the tier's posture."""
    try:
        s = payload.decode("utf-8")
    except UnicodeDecodeError:
        if any(0x80 <= b <= 0x9F for b in payload):
            try:
                return "cp1252", payload.decode("cp1252")
            except UnicodeDecodeError as exc:
                raise ValueError(f"undefined cp1252 byte in payload: {exc}")
        return "latin1", payload.decode("latin-1")
    if _MOJIBAKE_RE.search(s):
        # repair only if the inverse round trip actually holds — a
        # coincidental bigram in genuine text (all-latin-1 chars but
        # not valid utf-8 underneath) stays classified as clean
        try:
            return "double_utf8", s.encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return "utf8", s
    return "utf8", s


# the planted suffixes: non-ASCII anchors so every class is actually
# distinguishable (a pure-ASCII payload is identical in all four)
_SUFFIX_PLAIN = " café"  # ' café'
_SUFFIX_QUOTED = " “café”"  # ' “café”'


def plant_encoding_lake(docs: DataFrame) -> DataFrame:
    """Derive a raw-bytes lake with a planted encoding per ``doc_id %
    4``: 0 = clean UTF-8, 1 = double-encoded UTF-8, 2 = Windows-1252
    (with cp1252-only smart quotes), 3 = ISO-8859-1 — each document's
    text plus a non-ASCII suffix so the class is detectable (the corpus
    itself is ASCII; non-latin-1 corpora would need escaping and are
    rejected loudly). The oracle replays the class from ``doc_id`` and
    the repaired text from ``text || suffix``. Arrow-batched
    ``mapInPandas``, map-only. The input rides ``fan_out`` (r16) so a
    single-split local lake spreads the kernel across the session's
    cores; a many-split production table takes the no-op branch and no
    exchange is inserted. Reads ``doc_id`` and ``text``."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        k = int(did) % 4
        if k == 0:
            p = (text + _SUFFIX_PLAIN).encode("utf-8")
        elif k == 1:
            p = (text + _SUFFIX_PLAIN).encode("utf-8").decode("latin-1").encode("utf-8")
        elif k == 2:
            p = (text + _SUFFIX_QUOTED).encode("cp1252")
        else:
            p = (text + _SUFFIX_PLAIN).encode("latin-1")
        yield did, p

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


ENCODING_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("encoding", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("repaired_md5", T.StringType(), True),
    ]
)


def encoding_census(raw: DataFrame) -> DataFrame:
    """Arrow-batched encoding census + repair over ``(doc_id,
    payload)``: classify each payload (``_classify_and_repair``) and
    emit the RECOVERED class, the raw byte count, and the md5 of the
    repaired text's utf-8 bytes — so the oracle's ``md5(text ||
    suffix)`` gates the repair end to end (a wrong inverse transform
    changes the hash; a wrong class claims the wrong repair). Map-only,
    no shuffle — the ingest-scrub shape at 100 TB."""
    import hashlib

    def census(did, p):
        p = bytes(p)
        enc, repaired = _classify_and_repair(p)
        yield did, enc, len(p), hashlib.md5(repaired.encode("utf-8")).hexdigest()

    return row_kernel(raw.select("doc_id", "payload"), census, ENCODING_CENSUS_SCHEMA)
