"""Archive-container codecs: gzip members (RFC 1952), ustar tar
shards (POSIX.1-1988), and PKZIP archives (the public PKWARE
APPNOTE.TXT layout) — the container formats a large-scale
training-data lake actually arrives in (gzip-compressed text files;
WebDataset-style tar shards of paired image+caption members; zip
archives of scraped document bundles).

Original implementations of the PUBLIC specs, the multimodal tier's
posture (PIL/tarfile/zipfile-free on the hot path; stdlib
``tarfile``/``gzip``/``zipfile`` pin interchange in pytest):
byte-level header builds and walks with every integrity field real and
VERIFIED on decode — gzip FLG bits, CRC-32 and ISIZE trailers; tar
octal size fields, the space-substituted header CHECKSUM, ustar magic,
and the two-zero-block terminator; zip end-of-central-directory
bookkeeping, central-vs-local header cross-checks, and per-member
CRC-32 over the inflated bytes.

Reference parity note: the reference engine (kafka-streams-common) has
no binary-container surface — this module is part of the mandated
training-data-pipeline extension, not a port.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

GZIP_MAGIC = b"\x1f\x8b"

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def _gzip_compress_bytes(
    data: bytes, fname: str | None = None, level: int = 6
) -> bytes:
    """Build an RFC 1952 gzip member by hand: fixed 10-byte header
    (magic, CM=8 deflate, FLG, little-endian MTIME, XFL=0, OS=255
    unknown), optional zero-terminated FNAME (Latin-1 per spec), RAW
    deflate body (``wbits=-15`` — the zlib wrapper is NOT part of
    gzip), and the CRC-32 + ISIZE little-endian trailer. MTIME is
    always 0 so the container is deterministic."""
    import zlib

    flg = _FNAME if fname is not None else 0
    head = (
        GZIP_MAGIC
        + b"\x08"
        + bytes([flg])
        + b"\x00\x00\x00\x00"
        + b"\x00\xff"
    )
    name = fname.encode("latin-1") + b"\x00" if fname is not None else b""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = co.compress(data) + co.flush()
    trailer = (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "little") + (
        len(data) & 0xFFFFFFFF
    ).to_bytes(4, "little")
    return head + name + body + trailer


def _gzip_decompress_bytes(payload: bytes) -> tuple[str | None, bytes]:
    """Parse one gzip member per RFC 1952: magic + CM check, FLG walk
    (FEXTRA/FNAME/FCOMMENT/FHCRC consumed in spec order; reserved bits
    rejected), raw-deflate inflate, then the trailer VERIFIED — CRC-32
    and ISIZE must both match the decompressed bytes, and trailing
    garbage is rejected. Returns ``(fname, data)`` with ``fname`` None
    when the FNAME flag is absent."""
    import zlib

    if payload[:2] != GZIP_MAGIC:
        raise ValueError(f"not a gzip member: {payload[:2]!r}")
    if len(payload) < 18:
        raise ValueError("truncated gzip member")
    if payload[2] != 8:
        raise ValueError(f"unsupported gzip compression method {payload[2]}")
    flg = payload[3]
    if flg & 0xE0:
        raise ValueError(f"reserved gzip FLG bits set: 0x{flg:02x}")
    pos = 10
    if flg & _FEXTRA:
        xlen = int.from_bytes(payload[pos : pos + 2], "little")
        pos += 2 + xlen
    fname = None
    if flg & _FNAME:
        end = payload.index(b"\x00", pos)
        fname = payload[pos:end].decode("latin-1")
        pos = end + 1
    if flg & _FCOMMENT:
        pos = payload.index(b"\x00", pos) + 1
    if flg & _FHCRC:
        want = int.from_bytes(payload[pos : pos + 2], "little")
        got = zlib.crc32(payload[:pos]) & 0xFFFF
        if want != got:
            raise ValueError("gzip header CRC16 mismatch")
        pos += 2
    do = zlib.decompressobj(-15)
    data = do.decompress(payload[pos:]) + do.flush()
    tail = do.unused_data
    if len(tail) != 8:
        raise ValueError(f"gzip trailer must be exactly 8 bytes, {len(tail)} left")
    crc = int.from_bytes(tail[0:4], "little")
    isize = int.from_bytes(tail[4:8], "little")
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise ValueError("gzip CRC-32 mismatch")
    if isize != (len(data) & 0xFFFFFFFF):
        raise ValueError("gzip ISIZE mismatch")
    return fname, data


def _tar_header(name: str, size: int) -> bytes:
    """One 512-byte ustar header: NUL-padded name, octal mode/uid/gid/
    size/mtime, the SPACE-substituted checksum field re-written as
    ``%06o\\0 `` after summing, typeflag '0', ``ustar\\0`` magic +
    version ``00``."""
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError("tar member name exceeds 100 bytes")
    hdr = bytearray(512)
    hdr[0 : len(nb)] = nb
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = f"{size:011o}".encode() + b"\x00"
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b" " * 8  # checksum field counts as spaces
    hdr[156] = ord("0")  # regular file
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chksum = sum(hdr)
    hdr[148:156] = f"{chksum:06o}".encode() + b"\x00 "
    return bytes(hdr)


def _tar_bytes(members: list[tuple[str, bytes]]) -> bytes:
    """A complete ustar archive: header + 512-padded data per member,
    then the two zero end-blocks — the WebDataset shard layout."""
    out = bytearray()
    for name, data in members:
        out += _tar_header(name, len(data))
        out += data
        pad = (-len(data)) % 512
        out += b"\x00" * pad
    out += b"\x00" * 1024
    return bytes(out)


def _parse_tar(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk a ustar archive per the public spec: per header VERIFY the
    space-substituted checksum and the ustar magic, parse the octal
    size, slice the 512-padded data, stop at the zero block. Returns
    the members in archive order."""
    members: list[tuple[str, bytes]] = []
    pos = 0
    while pos + 512 <= len(payload):
        hdr = payload[pos : pos + 512]
        if hdr == b"\x00" * 512:  # end-of-archive marker
            return members
        if hdr[257:262] != b"ustar":
            raise ValueError(f"missing ustar magic at offset {pos}")
        want = int(hdr[148:156].rstrip(b"\x00 ") or b"0", 8)
        got = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if want != got:
            raise ValueError(f"tar header checksum mismatch at offset {pos}")
        name = hdr[0:100].rstrip(b"\x00").decode()
        size = int(hdr[124:136].rstrip(b"\x00 ") or b"0", 8)
        data = payload[pos + 512 : pos + 512 + size]
        if len(data) != size:
            raise ValueError(f"truncated tar member {name!r}")
        members.append((name, data))
        pos += 512 + size + ((-size) % 512)
    raise ValueError("tar archive ended without the zero end-block")


ZIP_LOCAL_SIG = b"PK\x03\x04"
ZIP_CENTRAL_SIG = b"PK\x01\x02"
ZIP_EOCD_SIG = b"PK\x05\x06"

# DOS date for 1980-01-01 (epoch of the format); time 00:00:00 — fixed
# so archives are deterministic, the gzip ``mtime=0`` convention.
_DOS_DATE_EPOCH = (0 << 9) | (1 << 5) | 1

_ZIP_STORED, _ZIP_DEFLATE = 0, 8


def _zip_bytes(members: list[tuple[str, bytes, bool]]) -> bytes:
    """Build a complete PKZIP archive per the public APPNOTE layout:
    per member a local file header (``PK\\x03\\x04``) + compressed
    data, then the central directory (one ``PK\\x01\\x02`` record per
    member, carrying the LOCAL HEADER OFFSET), then the end-of-central-
    directory record (``PK\\x05\\x06``) with entry counts and the
    central directory's size + offset. ``members`` is
    ``(name, data, deflate?)`` — method 8 (raw DEFLATE, ``wbits=-15``)
    when deflate, method 0 (stored) otherwise. CRC-32 is always over
    the UNCOMPRESSED bytes."""
    import zlib

    out = bytearray()
    central = bytearray()
    for name, data, deflate in members:
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if deflate:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            comp = co.compress(data) + co.flush()
            method = _ZIP_DEFLATE
        else:
            comp = data
            method = _ZIP_STORED
        offset = len(out)
        fixed = (
            (20).to_bytes(2, "little")  # version needed to extract
            + (0).to_bytes(2, "little")  # general purpose flags
            + method.to_bytes(2, "little")
            + (0).to_bytes(2, "little")  # DOS mtime
            + _DOS_DATE_EPOCH.to_bytes(2, "little")
            + crc.to_bytes(4, "little")
            + len(comp).to_bytes(4, "little")
            + len(data).to_bytes(4, "little")
            + len(nb).to_bytes(2, "little")
            + (0).to_bytes(2, "little")  # extra length
        )
        out += ZIP_LOCAL_SIG + fixed + nb + comp
        central += (
            ZIP_CENTRAL_SIG
            + (20).to_bytes(2, "little")  # version made by
            + fixed
            + (0).to_bytes(2, "little")  # comment length
            + (0).to_bytes(2, "little")  # disk number start
            + (0).to_bytes(2, "little")  # internal attributes
            + (0).to_bytes(4, "little")  # external attributes
            + offset.to_bytes(4, "little")
            + nb
        )
    cd_offset = len(out)
    out += central
    out += (
        ZIP_EOCD_SIG
        + (0).to_bytes(2, "little")  # this disk
        + (0).to_bytes(2, "little")  # central-directory disk
        + len(members).to_bytes(2, "little")
        + len(members).to_bytes(2, "little")
        + len(central).to_bytes(4, "little")
        + cd_offset.to_bytes(4, "little")
        + (0).to_bytes(2, "little")  # comment length
    )
    return bytes(out)


def _parse_zip(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk a PKZIP archive the way a conforming reader must: locate
    the end-of-central-directory record FROM THE END (its comment-
    length field must account for every trailing byte), then drive
    extraction off the CENTRAL directory — per entry verify the
    central/local header cross-fields (signature, name, method, CRC,
    sizes), inflate method-8 bodies (raw DEFLATE) or slice method-0
    bodies, and VERIFY the CRC-32 and uncompressed size against the
    recovered bytes. Encrypted members (flag bit 0), data-descriptor
    members (flag bit 3), and any other compression method are
    explicitly rejected, the tier's posture."""
    import zlib

    eocd = payload.rfind(ZIP_EOCD_SIG)
    if eocd < 0:
        raise ValueError("no zip end-of-central-directory record")
    if len(payload) < eocd + 22:
        raise ValueError("truncated zip EOCD record")
    comment_len = int.from_bytes(payload[eocd + 20 : eocd + 22], "little")
    if eocd + 22 + comment_len != len(payload):
        raise ValueError("zip EOCD comment length does not reach end of file")
    n_entries = int.from_bytes(payload[eocd + 10 : eocd + 12], "little")
    if payload[eocd + 8 : eocd + 10] != payload[eocd + 10 : eocd + 12]:
        raise ValueError("multi-disk zip archives are not supported")
    cd_size = int.from_bytes(payload[eocd + 12 : eocd + 16], "little")
    cd_offset = int.from_bytes(payload[eocd + 16 : eocd + 20], "little")
    if cd_offset + cd_size != eocd:
        raise ValueError("zip central directory does not abut the EOCD record")

    members: list[tuple[str, bytes]] = []
    pos = cd_offset
    for _ in range(n_entries):
        if payload[pos : pos + 4] != ZIP_CENTRAL_SIG:
            raise ValueError(f"bad central-directory signature at offset {pos}")
        flags = int.from_bytes(payload[pos + 8 : pos + 10], "little")
        if flags & 0x0001:
            raise ValueError("encrypted zip members are not supported")
        if flags & 0x0008:
            raise ValueError("data-descriptor (streamed) zip members not supported")
        method = int.from_bytes(payload[pos + 10 : pos + 12], "little")
        if method not in (_ZIP_STORED, _ZIP_DEFLATE):
            raise ValueError(f"unsupported zip compression method {method}")
        crc = int.from_bytes(payload[pos + 16 : pos + 20], "little")
        csize = int.from_bytes(payload[pos + 20 : pos + 24], "little")
        usize = int.from_bytes(payload[pos + 24 : pos + 28], "little")
        fnlen = int.from_bytes(payload[pos + 28 : pos + 30], "little")
        extralen = int.from_bytes(payload[pos + 30 : pos + 32], "little")
        commentlen = int.from_bytes(payload[pos + 32 : pos + 34], "little")
        lho = int.from_bytes(payload[pos + 42 : pos + 46], "little")
        name = payload[pos + 46 : pos + 46 + fnlen].decode()
        pos += 46 + fnlen + extralen + commentlen

        # cross-check the local header the central entry points at
        if payload[lho : lho + 4] != ZIP_LOCAL_SIG:
            raise ValueError(f"bad local-header signature for member {name!r}")
        l_fnlen = int.from_bytes(payload[lho + 26 : lho + 28], "little")
        l_extralen = int.from_bytes(payload[lho + 28 : lho + 30], "little")
        l_name = payload[lho + 30 : lho + 30 + l_fnlen].decode()
        if l_name != name:
            raise ValueError(
                f"central/local name mismatch: {name!r} vs {l_name!r}"
            )
        if int.from_bytes(payload[lho + 8 : lho + 10], "little") != method:
            raise ValueError(f"central/local method mismatch for {name!r}")
        data_start = lho + 30 + l_fnlen + l_extralen
        comp = payload[data_start : data_start + csize]
        if len(comp) != csize:
            raise ValueError(f"truncated zip member {name!r}")
        if method == _ZIP_DEFLATE:
            do = zlib.decompressobj(-15)
            data = do.decompress(comp) + do.flush()
            if do.unused_data:
                raise ValueError(f"trailing bytes after deflate body of {name!r}")
        else:
            data = comp
        if len(data) != usize:
            raise ValueError(f"zip uncompressed-size mismatch for {name!r}")
        if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"zip CRC-32 mismatch for {name!r}")
        members.append((name, data))
    return members


# ---------------------------------------------------------------------------
# Spark surface


def encode_gzip_docs(docs: DataFrame) -> DataFrame:
    """Encode each document's utf-8 text as a genuine RFC 1952 gzip
    member — EVEN doc_ids carry the FNAME header field
    (``doc-<id>.txt``), odd ones are anonymous (FLG=0), so the decode
    stage's flag walk is exercised both ways and the recovered name is
    oracle-checkable. Arrow-batched ``mapInPandas``, map-only — the
    compressed-text-lake ingest shape. The input rides ``fan_out`` (r16)
    so a single-split local lake spreads the kernel across the session's
    cores; a many-split production table takes the no-op branch and no
    exchange is inserted. Reads ``doc_id`` and ``text``."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        fname = f"doc-{int(did)}.txt" if int(did) % 2 == 0 else None
        yield did, _gzip_compress_bytes(text.encode(), fname=fname)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


GZIP_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("member_name", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("text_md5", T.StringType(), True),
    ]
)


def decode_gzip_text_stats(gz: DataFrame) -> DataFrame:
    """Arrow-batched gzip decode over ``(doc_id, payload)``: full RFC
    1952 walk (flag fields, raw-deflate inflate, CRC-32 + ISIZE
    trailer VERIFIED per row), emitting the recovered member name, the
    decompressed byte count, and the md5 of the decompressed bytes —
    so the SQL oracle (``md5(text)``, ``strlen(text)``) gates the
    inflate END TO END: one flipped bit, a skipped flag field, or a
    wrong trailer offset breaks the hash. Map-only."""
    import hashlib

    def decode(did, p):
        fname, data = _gzip_decompress_bytes(bytes(p))
        yield did, fname, len(data), hashlib.md5(data).hexdigest()

    return row_kernel(gz.select("doc_id", "payload"), decode, GZIP_TEXT_SCHEMA)


def encode_webdataset_shard(docs: DataFrame) -> DataFrame:
    """Encode each document as a WebDataset-style ustar shard: two
    members under one key — ``doc-<id>.pgm`` (the document's byte-exact
    Netpbm P5 image, the established md5 geometry/raster arithmetic)
    and ``doc-<id>.txt`` (the utf-8 caption). This is the pairing
    layout multimodal training pipelines actually read (image+caption
    grouped by key inside tar shards). Arrow-batched ``mapInPandas``,
    map-only. The shard ships WITHOUT the doc_id column — the decode
    stage must recover the key from member names. The input rides
    ``fan_out`` (r16) so a single-split local lake spreads the kernel
    across the session's cores; a many-split production table takes the
    no-op branch and no exchange is inserted.
    Reads ``doc_id`` and ``text``."""
    import hashlib

    out_schema = T.StructType([T.StructField("payload", T.BinaryType(), True)])

    def encode(did, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        w = int(hx[:15], 16) % 16 + 1
        h = int(hashlib.md5(text[::-1].encode()).hexdigest()[:15], 16) % 16 + 1
        raster = (bytes.fromhex(hx) * ((w * h + 15) // 16))[: w * h]
        pgm = b"P5\n%d %d\n255\n" % (w, h) + raster
        key = f"doc-{int(did)}"
        yield (_tar_bytes([(f"{key}.pgm", pgm), (f"{key}.txt", text.encode())]),)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


WEBDATASET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_members", T.IntegerType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("caption_bytes", T.LongType(), True),
        T.StructField("caption_md5", T.StringType(), True),
    ]
)


def decode_webdataset_pairs(shards: DataFrame) -> DataFrame:
    """Arrow-batched WebDataset ingest over ``(payload)`` tar shards:
    walk the ustar container (checksums + magic VERIFIED per header),
    group members by key (basename before the first dot), dispatch by
    extension — ``.pgm`` through the real Netpbm parse for pixel
    stats, ``.txt`` as the caption — and emit one PAIRED row per key
    with the doc_id RECOVERED from the member names, never passed
    through (the shard carries no id column). A missing pair member,
    a checksum break, a padding slip, or a key-grouping bug all break
    the oracle hash. Map-only — the exact shape of tar-shard ingest at
    100 TB (one shard per row here; one shard per FILE in production,
    same kernel)."""
    import hashlib

    from kafka_streams_common_spark.operators.multimodal import _parse_netpbm

    def decode(p):
        groups: dict[str, dict[str, bytes]] = {}
        for name, data in _parse_tar(bytes(p)):
            key, _, ext = name.partition(".")
            groups.setdefault(key, {})[ext] = data
        for key, parts in groups.items():
            if "pgm" not in parts or "txt" not in parts:
                raise ValueError(f"incomplete WebDataset pair {key!r}")
            if not key.startswith("doc-"):
                raise ValueError(f"unrecognized member key {key!r}")
            channels, w, h, px = _parse_netpbm(parts["pgm"])
            flat = px.astype(np.int64).ravel()
            yield {
                "doc_id": int(key[4:]),
                "n_members": len(parts),
                "width": w,
                "height": h,
                "mean_px": float(flat.mean()),
                "caption_bytes": len(parts["txt"]),
                "caption_md5": hashlib.md5(parts["txt"]).hexdigest(),
            }

    return row_kernel(shards.select("payload"), decode, WEBDATASET_SCHEMA)


def encode_zip_bundles(docs: DataFrame) -> DataFrame:
    """Encode each document as a two-member PKZIP bundle — the scraped-
    document-bundle shape of real lakes: ``doc-<id>.txt`` (the utf-8
    text, method 8 DEFLATE) and ``doc-<id>.rev`` (the CHARACTER-reversed
    text, method 0 stored), so ONE bundle exercises both compression
    methods and the decode stage must keep per-member method dispatch
    straight. The bundle ships without the doc_id column — the decode
    stage recovers the key from member names. Arrow-batched
    ``mapInPandas``, map-only. The input rides ``fan_out`` (r16) so a
    single-split local lake spreads the kernel across the session's
    cores; a many-split production table takes the no-op branch and no
    exchange is inserted. Reads ``doc_id`` and ``text``."""
    out_schema = T.StructType([T.StructField("payload", T.BinaryType(), True)])

    def encode(did, text):
        key = f"doc-{int(did)}"
        yield (
            _zip_bytes(
                [
                    (f"{key}.txt", text.encode(), True),
                    (f"{key}.rev", text[::-1].encode(), False),
                ]
            ),
        )

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


ZIP_BUNDLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_members", T.IntegerType(), True),
        T.StructField("text_bytes", T.LongType(), True),
        T.StructField("text_md5", T.StringType(), True),
        T.StructField("rev_md5", T.StringType(), True),
    ]
)


def decode_zip_bundles(bundles: DataFrame) -> DataFrame:
    """Arrow-batched PKZIP ingest over ``(payload)`` bundles: locate
    the EOCD record, drive extraction off the central directory
    (central/local cross-fields, CRC-32 and uncompressed size VERIFIED
    per member — see ``_parse_zip``), group members by key, and emit
    one row per key with the doc_id RECOVERED from the member names.
    The ``.txt`` member is DEFLATE and the ``.rev`` member stored, so
    ``text_md5``/``rev_md5`` gate both method paths independently — a
    method mix-up, a wrong local-header offset, or a missed inflate
    breaks one hash and not the other. Map-only."""
    import hashlib

    def decode(p):
        groups: dict[str, dict[str, bytes]] = {}
        for name, data in _parse_zip(bytes(p)):
            key, _, ext = name.partition(".")
            groups.setdefault(key, {})[ext] = data
        for key, parts in groups.items():
            if "txt" not in parts or "rev" not in parts:
                raise ValueError(f"incomplete zip bundle {key!r}")
            if not key.startswith("doc-"):
                raise ValueError(f"unrecognized member key {key!r}")
            yield {
                "doc_id": int(key[4:]),
                "n_members": len(parts),
                "text_bytes": len(parts["txt"]),
                "text_md5": hashlib.md5(parts["txt"]).hexdigest(),
                "rev_md5": hashlib.md5(parts["rev"]).hexdigest(),
            }

    return row_kernel(bundles.select("payload"), decode, ZIP_BUNDLE_SCHEMA)


# ---------------------------------------------------------------------------
# bz2 / xz single-member text codecs (r14 wave 4)
#
# The other two containers bulk text corpora arrive in (Wikipedia dumps
# ship as .bz2; many curated corpora as .xz). Same posture as the gzip
# leg above: the CONTAINER framing is walked and verified from scratch
# per the public specs; the entropy core is the stdlib codec (bz2/lzma
# here, exactly as zlib supplies DEFLATE for the gzip/zip legs) —
# writing a BWT or an LZMA range coder from scratch would add risk, not
# coverage, since the framing fields are where ingest bugs live.
# ---------------------------------------------------------------------------

BZ2_MAGIC = b"BZh"
_BZ2_BLOCK_MAGIC = b"\x31\x41\x59\x26\x53\x59"  # BCD pi — start of block
_BZ2_STREAM_END_MAGIC = b"\x17\x72\x45\x38\x50\x90"  # BCD sqrt(pi) — blockless stream
XZ_MAGIC = b"\xfd7zXZ\x00"
_XZ_FOOTER_MAGIC = b"YZ"
_XZ_CHECK_NAMES = {0x01: "crc32", 0x04: "crc64"}

# hard per-member output cap: neither container states the decompressed
# size up front (xz's index does, but it trails the data), so a
# decompression bomb is bounded by refusing members that inflate past
# this — the same guard class as the PNG capped inflate
_TEXT_MEMBER_CAP = 64 << 20


def _bz2_crc32(data: bytes) -> int:
    """bzip2's block CRC: CRC-32 with the standard 0x04c11db7 polynomial
    but MSB-first (non-reflected) bit order, init and final-xor
    0xFFFFFFFF — a borrowed zlib.crc32 (reflected) fails instantly, the
    same trap the Ogg page CRC springs. Table-driven, built once."""
    global _BZ2_CRC_TABLE
    try:
        table = _BZ2_CRC_TABLE
    except NameError:
        table = []
        for i in range(256):
            c = i << 24
            for _ in range(8):
                c = ((c << 1) ^ 0x04C11DB7 if c & 0x80000000 else c << 1) & 0xFFFFFFFF
            table.append(c)
        _BZ2_CRC_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ table[(crc >> 24) ^ b]
    return crc ^ 0xFFFFFFFF


def _bz2_compress_member(data: bytes, level: int) -> bytes:
    """One bzip2 stream at the given block-size level (the '1'-'9'
    header digit = block size in units of 100 kB)."""
    import bz2

    if not 1 <= level <= 9:
        raise ValueError(f"bz2 level {level} outside 1-9")
    return bz2.compress(data, compresslevel=level)


def _bz2_verify_and_decompress(payload: bytes) -> tuple[int, bytes]:
    """Walk one bzip2 stream: 'BZh' magic, block-size digit '1'-'9',
    the 48-bit BCD-pi block magic, then decompress (output-capped) and
    VERIFY the 32-bit block CRC — bzip2's own non-reflected CRC-32 over
    the plain bytes, stored big-endian right after the block magic.
    Single-block streams only (every member here is far below the
    100 kB minimum block size; a second block magic means the CRC check
    would cover only the first block, so reject). Returns
    ``(level, data)``."""
    import bz2

    if payload[:3] != BZ2_MAGIC:
        raise ValueError(f"not a bzip2 stream: {payload[:3]!r}")
    if not 0x31 <= payload[3] <= 0x39:
        raise ValueError(f"bad bzip2 block-size digit {payload[3:4]!r}")
    level = payload[3] - 0x30
    if payload[4:10] == _BZ2_STREAM_END_MAGIC:
        # blockless stream: zero blocks, combined CRC must be 0
        if int.from_bytes(payload[10:14], "big") != 0 or len(payload) != 14:
            raise ValueError("malformed empty bzip2 stream")
        return level, b""
    if payload[4:10] != _BZ2_BLOCK_MAGIC:
        raise ValueError("bzip2 block magic missing")
    want_crc = int.from_bytes(payload[10:14], "big")
    do = bz2.BZ2Decompressor()
    try:
        data = do.decompress(payload, _TEXT_MEMBER_CAP + 1)
    except OSError as e:  # stdlib raises OSError on corrupt entropy data
        raise ValueError(f"corrupt bzip2 stream: {e}") from e
    if len(data) > _TEXT_MEMBER_CAP:
        raise ValueError("bzip2 member exceeds the decompressed-size cap")
    if not do.eof:
        raise ValueError("truncated bzip2 stream")
    if do.unused_data:
        raise ValueError("trailing garbage after bzip2 stream")
    if len(data) >= level * 100_000:
        raise ValueError("multi-block bzip2 stream (block CRC would not cover it)")
    got = _bz2_crc32(data)
    if got != want_crc:
        raise ValueError(f"bzip2 block CRC mismatch: {got:08x} != {want_crc:08x}")
    return level, data


def _xz_compress_member(data: bytes, check: str) -> bytes:
    """One .xz stream with the named integrity check ('crc32'/'crc64')."""
    import lzma

    checks = {"crc32": lzma.CHECK_CRC32, "crc64": lzma.CHECK_CRC64}
    return lzma.compress(data, format=lzma.FORMAT_XZ, check=checks[check], preset=6)


def _xz_verify_and_decompress(payload: bytes) -> tuple[str, bytes]:
    """Walk one .xz stream per the public xz file-format spec: header
    magic + stream flags + CRC32(flags) all verified; the 12-byte
    stream footer verified end-first (CRC32 over backward-size+flags,
    the 'YZ' magic, and flags REQUIRED to equal the header's — a
    spliced stream fails); the footer's backward-size walked back to
    the index, whose first byte must be the 0x00 index indicator; then
    the capped decompress (stdlib lzma verifies the declared CRC32 or
    CRC64 block check itself). Returns ``(check_name, data)``."""
    import lzma
    import zlib

    if payload[:6] != XZ_MAGIC:
        raise ValueError(f"not an xz stream: {payload[:6]!r}")
    flags = payload[6:8]
    if flags[0] != 0 or flags[1] not in _XZ_CHECK_NAMES:
        raise ValueError(f"unsupported xz stream flags {flags!r}")
    if int.from_bytes(payload[8:12], "little") != (zlib.crc32(flags) & 0xFFFFFFFF):
        raise ValueError("xz header CRC32 mismatch")
    footer = payload[-12:]
    if footer[10:12] != _XZ_FOOTER_MAGIC:
        raise ValueError("xz footer magic missing")
    if footer[8:10] != flags:
        raise ValueError("xz footer stream flags differ from header")
    if int.from_bytes(footer[0:4], "little") != (zlib.crc32(footer[4:10]) & 0xFFFFFFFF):
        raise ValueError("xz footer CRC32 mismatch")
    backward = (int.from_bytes(footer[4:8], "little") + 1) * 4
    index_pos = len(payload) - 12 - backward
    if index_pos < 12 or payload[index_pos] != 0x00:
        raise ValueError("xz index indicator not found where the footer points")
    do = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
    data = do.decompress(payload, _TEXT_MEMBER_CAP + 1)
    if len(data) > _TEXT_MEMBER_CAP:
        raise ValueError("xz member exceeds the decompressed-size cap")
    if not do.eof:
        raise ValueError("truncated xz stream")
    if do.unused_data:
        raise ValueError("trailing garbage after xz stream")
    return _XZ_CHECK_NAMES[flags[1]], data


def encode_bz2_xz_docs(docs: DataFrame) -> DataFrame:
    """Encode each document's utf-8 text as a real single-member
    compressed stream — EVEN doc_ids as bzip2 at block-size level
    ``1 + doc_id % 9`` (all nine header digits live in one lake), ODD
    doc_ids as .xz with the CRC32 check when ``doc_id % 4 == 1`` and
    CRC64 when ``doc_id % 4 == 3`` (both stream-flag values live).
    Arrow-batched ``mapInPandas``, map-only. The input rides ``fan_out``
    (r16) so a single-split local lake spreads the kernel across the
    session's cores; a many-split production table takes the no-op
    branch and no exchange is inserted. Reads ``doc_id`` and ``text``."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def encode(did, text):
        did = int(did)
        data = text.encode()
        if did % 2 == 0:
            yield did, _bz2_compress_member(data, 1 + did % 9)
        else:
            yield did, _xz_compress_member(data, "crc32" if did % 4 == 1 else "crc64")

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text")), encode, out_schema)


BZ2_XZ_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("check_name", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("text_md5", T.StringType(), False),
    ]
)


def decode_bz2_xz_text_stats(members: DataFrame) -> DataFrame:
    """Arrow-batched ingest over ``(doc_id, payload)`` members,
    DISPATCHED BY MAGIC BYTES per row (no routing shuffle): bzip2
    members get the full header walk + the from-scratch non-reflected
    block-CRC verification; xz members the header/footer/index framing
    walk with both CRC32 fields checked and the declared block check
    verified by the codec. Emits the recovered level (bz2) or check
    name (xz) + byte count + md5 of the decompressed bytes, so the SQL
    oracle (``md5(text)``/``strlen(text)``) gates each codec end to
    end. Map-only."""
    import hashlib

    def decode(did, p):
        p = bytes(p)
        if p[:3] == BZ2_MAGIC:
            level, data = _bz2_verify_and_decompress(p)
            codec, check_name = "bz2", None
        elif p[:6] == XZ_MAGIC:
            check_name, data = _xz_verify_and_decompress(p)
            codec, level = "xz", None
        else:
            raise ValueError(f"unrecognized compressed member: {p[:6]!r}")
        yield {
            "doc_id": did,
            "codec": codec,
            "level": level,
            "check_name": check_name,
            "n_bytes": len(data),
            "text_md5": hashlib.md5(data).hexdigest(),
        }

    return row_kernel(members.select("doc_id", "payload"), decode, BZ2_XZ_TEXT_SCHEMA)
