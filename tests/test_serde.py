"""Kafka-serde tier (r14): Avro binary codec + OCF + Confluent wire
format + protobuf wire format — byte-golden vectors from the PUBLIC
specs (no avro/fastavro/protobuf package exists in this container to
interchange with, so the specs' own worked examples are the pin),
hypothesis roundtrips, every documented error path, and the Spark
operators end to end."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_streams_common_spark.operators import avro as av
from kafka_streams_common_spark.operators import protowire as pw

# ---------------------------------------------------------------------------
# Avro primitives — spec golden vectors
# ---------------------------------------------------------------------------

# avro.apache.org/docs/1.11.1/specification — the binary-encoding
# examples table for int/long.
AVRO_LONG_GOLDEN = [
    (0, b"\x00"),
    (-1, b"\x01"),
    (1, b"\x02"),
    (-2, b"\x03"),
    (2, b"\x04"),
    (-64, b"\x7f"),
    (64, b"\x80\x01"),
]


def test_avro_long_golden():
    for n, want in AVRO_LONG_GOLDEN:
        assert av.write_long(n) == want
        got, pos = av.read_long(want, 0)
        assert (got, pos) == (n, len(want))


def test_avro_string_golden():
    # spec: string "foo" = 06 66 6f 6f (length 3 zigzagged, utf-8)
    assert av._write_value("string", "foo") == b"\x06foo"
    assert av._read_value("string", b"\x06foo", 0) == ("foo", 4)


@settings(deadline=None, max_examples=200)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_avro_long_roundtrip(n):
    got, pos = av.read_long(av.write_long(n), 0)
    assert got == n


_REC_SCHEMA = {
    "type": "record",
    "name": "R",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double"},
        {"name": "d", "type": ["null", "string"]},
        {"name": "e", "type": "boolean"},
        {"name": "f", "type": "bytes"},
    ],
}

_rec_strategy = st.fixed_dictionaries(
    {
        "a": st.integers(min_value=-(2**62), max_value=2**62),
        "b": st.text(max_size=40),
        "c": st.floats(allow_nan=False, allow_infinity=False),
        "d": st.one_of(st.none(), st.text(max_size=20)),
        "e": st.booleans(),
        "f": st.binary(max_size=30),
    }
)


@settings(deadline=None, max_examples=100)
@given(_rec_strategy)
def test_avro_record_roundtrip(rec):
    buf = av.encode_record(_REC_SCHEMA, rec)
    got, pos = av.decode_record(_REC_SCHEMA, buf)
    assert pos == len(buf)
    assert got == rec


def test_avro_truncated_varint_rejected():
    with pytest.raises(ValueError, match="truncated"):
        av.read_long(b"\x80", 0)


def test_avro_bad_boolean_rejected():
    with pytest.raises(ValueError, match="boolean"):
        av._read_value("boolean", b"\x02", 0)


# ---------------------------------------------------------------------------
# OCF
# ---------------------------------------------------------------------------

_OCF_SCHEMA_JSON = json.dumps(_REC_SCHEMA)


def _mk_records(n):
    return [
        {
            "a": i,
            "b": f"row-{i}",
            "c": i * 0.5,
            "d": None if i % 3 == 0 else f"opt-{i}",
            "e": i % 2 == 0,
            "f": bytes([i % 256, 255 - i % 256]),
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_roundtrip_multiblock(codec):
    recs = _mk_records(257)  # 3 blocks at block_records=100
    buf = av.write_ocf(_OCF_SCHEMA_JSON, recs, codec=codec)
    schema, got_codec, got = av.read_ocf(buf)
    assert got_codec == codec
    assert schema == _REC_SCHEMA
    assert got == recs


def test_ocf_bad_magic_rejected():
    with pytest.raises(ValueError, match="not an avro OCF"):
        av.read_ocf(b"Nope" + b"\x00" * 40)


def test_ocf_sync_corruption_rejected():
    buf = bytearray(av.write_ocf(_OCF_SCHEMA_JSON, _mk_records(5)))
    buf[-1] ^= 0xFF  # the final block's trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        av.read_ocf(bytes(buf))


def test_ocf_unknown_codec_rejected():
    with pytest.raises(ValueError, match="codec"):
        av.write_ocf(_OCF_SCHEMA_JSON, [], codec="snappy")
    # and on read: hand-build a header declaring snappy
    meta = av._write_meta_map(
        {"avro.schema": _OCF_SCHEMA_JSON.encode(), "avro.codec": b"snappy"}
    )
    with pytest.raises(ValueError, match="codec"):
        av.read_ocf(av.OCF_MAGIC + meta + b"\x00" * 16)


def test_ocf_negative_map_count_handled():
    # spec: a negative map block count is followed by the block's byte
    # size; standard writers rarely emit it, readers must accept it.
    body = b"\x14avro.codec\x08null"  # zigzag lengths: 10 -> 0x14, 4 -> 0x08
    meta = (
        av.write_long(-1)
        + av.write_long(len(body))
        + body
        + av.write_long(0)
    )
    got, pos = av._read_meta_map(meta, 0)
    assert got == {"avro.codec": b"null"}
    assert pos == len(meta)


def test_ocf_block_count_mismatch_rejected():
    recs = _mk_records(4)
    buf = bytearray(av.write_ocf(_OCF_SCHEMA_JSON, recs, codec="null"))
    # header = magic + meta map + sync; the first varint after that is
    # the block's record count (4 -> 0x08). Lower it to 3: bytes remain.
    meta = av._write_meta_map(
        {"avro.schema": _OCF_SCHEMA_JSON.encode(), "avro.codec": b"null"}
    )
    count_at = 4 + len(meta) + 16
    assert buf[count_at] == av.write_long(4)[0]
    buf[count_at] = av.write_long(3)[0]
    with pytest.raises(ValueError, match="bytes remain"):
        av.read_ocf(bytes(buf))


# ---------------------------------------------------------------------------
# schema resolution + Confluent framing
# ---------------------------------------------------------------------------


def test_resolution_default_fill_and_skip():
    body_v1 = av.encode_record(
        av.EVENT_SCHEMA_V1, {"event_id": 7, "event_type": "click", "value": 1.5}
    )
    rec, pos = av.resolve_read(av.EVENT_SCHEMA_V1, av.EVENT_SCHEMA_READER, body_v1)
    assert pos == len(body_v1)
    assert rec["source"] == "unknown"  # reader default filled

    body_v2 = av.encode_record(
        av.EVENT_SCHEMA_V2,
        {
            "event_id": 8,
            "event_type": "view",
            "value": 2.5,
            "source": "u9",
            "debug": "host-3",
        },
    )
    rec, pos = av.resolve_read(av.EVENT_SCHEMA_V2, av.EVENT_SCHEMA_READER, body_v2)
    assert pos == len(body_v2)
    assert rec["source"] == "u9"
    assert "debug" not in rec  # writer-only field decoded and discarded


def test_resolution_missing_default_rejected():
    reader = {
        "type": "record",
        "name": "Event",
        "fields": av.EVENT_SCHEMA_V1["fields"] + [{"name": "extra", "type": "string"}],
    }
    body = av.encode_record(
        av.EVENT_SCHEMA_V1, {"event_id": 1, "event_type": "x", "value": 0.0}
    )
    with pytest.raises(ValueError, match="no default"):
        av.resolve_read(av.EVENT_SCHEMA_V1, reader, body)


def test_resolution_type_mismatch_rejected():
    reader = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "event_id", "type": "string"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
        ],
    }
    body = av.encode_record(
        av.EVENT_SCHEMA_V1, {"event_id": 1, "event_type": "x", "value": 0.0}
    )
    with pytest.raises(ValueError, match="promotions unsupported"):
        av.resolve_read(av.EVENT_SCHEMA_V1, reader, body)


def test_confluent_frame_layout_and_errors():
    body = av.encode_record(
        av.EVENT_SCHEMA_V1, {"event_id": 3, "event_type": "t", "value": 9.0}
    )
    msg = av.confluent_frame(2, body)
    assert msg[0] == 0x00 and msg[1:5] == (2).to_bytes(4, "big")

    with pytest.raises(ValueError, match="magic"):
        av.confluent_parse(b"\x01" + msg[1:], {2: av.EVENT_SCHEMA_V1}, av.EVENT_SCHEMA_V1)
    with pytest.raises(ValueError, match="unknown schema id"):
        av.confluent_parse(msg, {1: av.EVENT_SCHEMA_V1}, av.EVENT_SCHEMA_V1)
    with pytest.raises(ValueError, match="trailing"):
        av.confluent_parse(msg + b"\x00", {2: av.EVENT_SCHEMA_V1}, av.EVENT_SCHEMA_V1)

    sid, rec = av.confluent_parse(msg, {2: av.EVENT_SCHEMA_V1}, av.EVENT_SCHEMA_V1)
    assert sid == 2 and rec["event_id"] == 3


# ---------------------------------------------------------------------------
# protobuf wire format
# ---------------------------------------------------------------------------


def test_proto_spec_golden_vector():
    # protobuf.dev/programming-guides/encoding: field 1 varint 150
    # encodes as 08 96 01; field 2 string "testing" as 12 07 + utf-8.
    assert pw.encode_field(1, "uint", 150) == b"\x08\x96\x01"
    assert pw.encode_field(2, "string", "testing") == b"\x12\x07testing"
    assert pw.decode_message({1: ("a", "uint")}, b"\x08\x96\x01") == {"a": 150}


@settings(deadline=None, max_examples=200)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_proto_zigzag_roundtrip(n):
    assert pw.unzigzag(pw.zigzag64(n)) == n


@settings(deadline=None, max_examples=100)
@given(
    st.fixed_dictionaries(
        {
            "u": st.integers(min_value=0, max_value=2**63 - 1),
            "s": st.integers(min_value=-(2**62), max_value=2**62),
            "d": st.floats(allow_nan=False, allow_infinity=False),
            "t": st.text(max_size=40),
            "b": st.binary(max_size=30),
            "p": st.lists(st.integers(min_value=0, max_value=2**31), max_size=8),
            "m": st.fixed_dictionaries({"x": st.text(max_size=10)}),
        }
    )
)
def test_proto_message_roundtrip(values):
    spec = {
        1: ("u", "uint"),
        2: ("s", "sint"),
        3: ("d", "double"),
        4: ("t", "string"),
        5: ("b", "bytes"),
        6: ("p", "packed_varint"),
        7: ("m", "message", {1: ("x", "string")}),
    }
    buf = pw.encode_message(spec, values)
    got = pw.decode_message(spec, buf)
    assert got == values


def test_proto_unknown_fields_skipped_both_wire_shapes():
    spec_writer = {
        1: ("a", "uint"),
        2: ("fx", "fixed64"),
        3: ("blob", "bytes"),
        4: ("z", "fixed32"),
    }
    buf = pw.encode_message(
        spec_writer, {"a": 5, "fx": 12345678901234, "blob": b"xyz", "z": 77}
    )
    reader = {1: ("a", "uint")}
    assert pw.decode_message(reader, buf) == {"a": 5}


def test_proto_wire_type_mismatch_rejected():
    buf = pw.encode_message({1: ("a", "uint")}, {"a": 5})
    with pytest.raises(ValueError, match="wire type"):
        pw.decode_message({1: ("a", "string")}, buf)


def test_proto_truncated_rejected():
    buf = pw.encode_message({1: ("t", "string")}, {"t": "hello"})
    with pytest.raises(ValueError, match="overruns|truncated"):
        pw.decode_message({1: ("t", "string")}, buf[:-2])


def test_proto_packed_overrun_rejected():
    # declared packed length cuts a varint in half
    bad = pw._tag(6, 2) + pw.write_uvarint(1) + b"\x80"
    with pytest.raises(ValueError, match="truncated|overran"):
        pw.decode_message({6: ("p", "packed_varint")}, bad)


# ---------------------------------------------------------------------------
# Spark operators end to end
# ---------------------------------------------------------------------------


def test_spark_ocf_roundtrip(spark):
    from kafka_streams_common_spark.operators.avro import (
        decode_orders_ocf,
        encode_orders_ocf,
    )

    orders = spark.createDataFrame(
        [
            (k, 10 + k, float(k) * 1.25, "O", f"{k}-PRIORITY")
            for k in range(1, 41)
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderstatus string, o_orderpriority string",
    )
    containers = encode_orders_ocf(orders, n_containers=4)
    crows = {r["container_id"]: r for r in containers.collect()}
    assert set(crows) == {0, 1, 2, 3}
    assert crows[0]["codec"] == "deflate" and crows[1]["codec"] == "null"
    assert sum(r["n_records"] for r in crows.values()) == 40

    out = {r["o_orderkey"]: r for r in decode_orders_ocf(containers).collect()}
    assert len(out) == 40
    assert out[7]["priority"] is None and out[8]["priority"] == "8-PRIORITY"
    assert out[13]["container_id"] == 1 and out[13]["codec"] == "null"
    assert out[13]["o_totalprice"] == 13 * 1.25


def test_spark_confluent_and_proto_decode(spark):
    from kafka_streams_common_spark.operators.avro import (
        decode_events_confluent,
        encode_events_confluent,
    )
    from kafka_streams_common_spark.operators.protowire import (
        decode_events_proto,
        encode_events_proto,
    )

    events = spark.createDataFrame(
        [(i, f"type-{i % 3}", float(i) / 4, 490 + i) for i in range(1, 25)],
        "event_id long, event_type string, value double, user_id long",
    )
    conf = {r["event_id"]: r for r in
            decode_events_confluent(encode_events_confluent(events)).collect()}
    assert conf[3]["schema_id"] == 1 and conf[3]["source"] == "unknown"
    assert conf[4]["schema_id"] == 2 and conf[4]["source"] == "u494"

    import hashlib

    prot = {r["event_id"]: r for r in
            decode_events_proto(encode_events_proto(events)).collect()}
    assert prot[1]["delta"] == -9 and prot[20]["delta"] == 10  # zigzag both signs
    hx = hashlib.md5(b"type-1-1").hexdigest()
    assert prot[1]["packed_sum"] == sum(int(hx[2 * i : 2 * i + 2], 16) for i in range(4))
    assert prot[1]["packed_n"] == 4
    assert prot[1]["source"] == "u491" and prot[1]["tag32"] == 1


# ---------------------------------------------------------------------------
# arrays / maps (r14 wave 3b)
# ---------------------------------------------------------------------------

_COLL_SCHEMA = {
    "type": "record",
    "name": "C",
    "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ],
}


@settings(deadline=None, max_examples=80)
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=10),
    st.dictionaries(st.text(max_size=8), st.text(max_size=12), max_size=6),
)
def test_avro_collections_roundtrip(xs, m):
    rec = {"xs": xs, "m": m}
    buf = av.encode_record(_COLL_SCHEMA, rec)
    got, pos = av.decode_record(_COLL_SCHEMA, buf)
    assert pos == len(buf)
    assert got == rec


def test_avro_chained_and_negative_blocks():
    arr_t = {"type": "array", "items": "long"}
    # negative-count block: -3 entries + byte size, then terminator
    neg = av.encode_array_blocks("long", [7, 8, 9], negative=True)
    assert av._read_value(arr_t, neg, 0) == ([7, 8, 9], len(neg))
    # the negative form really is on the wire: first varint zigzags -3
    assert av.read_long(neg, 0)[0] == -3

    map_t = {"type": "map", "values": "long"}
    chained = av.encode_map_blocks("long", [("a", 1), ("b", 2), ("c", 3)], split=2)
    got, pos = av._read_value(map_t, chained, 0)
    assert got == {"a": 1, "b": 2, "c": 3} and pos == len(chained)
    # two blocks really are on the wire: the first count varint is 2
    assert av.read_long(chained, 0)[0] == 2


def test_spark_avro_map_decode(spark):
    events = spark.createDataFrame(
        [(i, f'{{"k": {i * 3}}}', f"type-{i % 2}", 400 + i) for i in range(1, 13)],
        "event_id long, props string, event_type string, user_id long",
    )
    out = {r["event_id"]: r for r in
           av.decode_events_avro_props(av.encode_events_avro_props(events)).collect()}
    assert len(out) == 12
    assert out[6]["t"] is None and out[6]["n_props"] == 2  # 6 % 3 == 0
    assert out[5]["t"] == 5 and out[5]["n_props"] == 3
    assert out[5]["k"] == 15 and out[5]["u"] == 405
    import hashlib
    hx = hashlib.md5(b"type-0-4").hexdigest()
    assert out[4]["tags_sum"] == sum(int(hx[2 * i : 2 * i + 2], 16) for i in range(3))


def test_proto_truncated_fixed_width_skips_rejected():
    # an unknown fixed64/fixed32 whose value is cut off must raise, not
    # silently end the message
    buf = pw._tag(9, 1) + b"\x01\x02\x03"  # fixed64 with 3 bytes left
    with pytest.raises(ValueError, match="fixed64"):
        pw.decode_message({1: ("a", "uint")}, buf)
    buf = pw._tag(9, 5) + b"\x01"
    with pytest.raises(ValueError, match="fixed32"):
        pw.decode_message({1: ("a", "uint")}, buf)


def test_generic_confluent_value_decoder(spark):
    """sources/kafka.decode_confluent_values: the one-call registry
    consumer — output schema DERIVED from the reader schema, defaults
    filled, unknown writer fields discarded, schema_id emitted."""
    from kafka_streams_common_spark.sources.kafka import decode_confluent_values

    msgs = []
    for i in range(1, 7):
        if i % 3 == 0:
            body = av.encode_record(
                av.EVENT_SCHEMA_V1,
                {"event_id": i, "event_type": f"t{i}", "value": i / 2},
            )
            msgs.append((av.confluent_frame(1, body),))
        else:
            body = av.encode_record(
                av.EVENT_SCHEMA_V2,
                {
                    "event_id": i,
                    "event_type": f"t{i}",
                    "value": i / 2,
                    "source": f"u{i}",
                    "debug": "x",
                },
            )
            msgs.append((av.confluent_frame(2, body),))
    df = spark.createDataFrame(msgs, "value binary")
    out = decode_confluent_values(df, av.EVENT_SCHEMAS_BY_ID, av.EVENT_SCHEMA_READER)
    assert [f.name for f in out.schema.fields] == [
        "event_id", "event_type", "value", "source", "schema_id",
    ]
    rows = {r["event_id"]: r for r in out.collect()}
    assert rows[3]["source"] == "unknown" and rows[3]["schema_id"] == 1
    assert rows[4]["source"] == "u4" and rows[4]["schema_id"] == 2
    # stateless -> streaming-safe: no Exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # nullable reader fields map to nullable spark types
    from kafka_streams_common_spark.sources.kafka import _reader_spark_schema

    sch = _reader_spark_schema(
        {"fields": [{"name": "a", "type": "long"},
                    {"name": "b", "type": ["null", "string"]}]}
    )
    assert sch.simpleString() == "struct<a:bigint,b:string>"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unions"):
        _reader_spark_schema({"fields": [{"name": "a", "type": ["null", "string", "long"]}]})


def test_ocf_fieldless_schema_runaway_count_rejected():
    """A fieldless record decodes to zero bytes; an OCF block pairing
    that with a huge declared count must fail fast, not spin."""
    schema_json = json.dumps({"type": "record", "name": "E", "fields": []})
    meta = av._write_meta_map(
        {"avro.schema": schema_json.encode(), "avro.codec": b"null"}
    )
    sync = b"\x00" * 16
    block = av.write_long(10**15) + av.write_long(0) + sync
    with pytest.raises(ValueError, match="consumed no bytes"):
        av.read_ocf(av.OCF_MAGIC + meta + sync + block)


# ---------------------------------------------------------------------------
# Thrift compact protocol (r14 wave 4)
# ---------------------------------------------------------------------------

from kafka_streams_common_spark.operators import thriftcompact as tc  # noqa: E402


def test_thrift_golden_vectors():
    """Byte-golden forms from the compact-protocol spec: short-form
    header packs (delta << 4) | type; zigzag(1) == 2; bools live in
    the header nibble; long-form header = type byte + zigzag field id."""
    assert tc.encode_struct({"a": (1, "i64")}, {"a": 1}) == bytes([0x16, 0x02, 0x00])
    assert tc.encode_struct({"f": (1, "bool")}, {"f": True}) == bytes([0x11, 0x00])
    assert tc.encode_struct({"f": (1, "bool")}, {"f": False}) == bytes([0x12, 0x00])
    # field 1000 needs the long form: zigzag(1000) = 2000 = varint d0 0f
    lb = tc.encode_struct({"d": (1000, "double")}, {"d": 1.0})
    assert lb[0] == tc.CT_DOUBLE and lb[1:3] == bytes([0xD0, 0x0F])
    # doubles are LITTLE-endian (THRIFT-2799 pin)
    import struct as _s

    assert lb[3:11] == _s.pack("<d", 1.0)
    # empty map is the single zero byte
    assert tc.encode_struct({"m": (1, "map_string_i64")}, {"m": {}}) == bytes(
        [0x1B, 0x00, 0x00]
    )


@given(
    eid=st.integers(min_value=0, max_value=2**40),
    delta=st.integers(min_value=-(2**31), max_value=2**31 - 1),
    tag16=st.integers(min_value=-(2**15), max_value=2**15 - 1),
    s=st.text(max_size=40),
    val=st.floats(allow_nan=False),
    flag=st.booleans(),
    toks=st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=20),
    props=st.dictionaries(st.text(max_size=8), st.integers(min_value=-(2**62), max_value=2**62), max_size=5),
)
@settings(max_examples=60, deadline=None)
def test_thrift_struct_roundtrip(eid, delta, tag16, s, val, flag, toks, props):
    values = {
        "event_id": eid,
        "event_type": s,
        "value": val,
        "delta": delta,
        "meta": {"source": s[::-1], "tag16": tag16},
        "flag": flag,
        "tokens": toks,
        "token_set": sorted(set(toks)),
        "props": props,
    }
    blob = tc.encode_struct(tc.EVENT_THRIFT_READER_SPEC, values)
    rec, end = tc.decode_struct(tc.EVENT_THRIFT_READER_SPEC, blob)
    assert end == len(blob)
    assert rec == values


def test_thrift_unknown_fields_skipped_both_shapes():
    """Old consumer vs new producer: the writer spec's trace fields
    (long-form double, long-form nested struct) are absent from the
    reader spec and must be skipped by type."""
    values = {
        "event_id": 7,
        "event_type": "x",
        "value": 1.5,
        "delta": -3,
        "meta": {"source": "u1", "tag16": 9},
        "flag": False,
        "tokens": [1, 2],
        "token_set": [1, 2],
        "props": {"u": 1},
        "trace_double": 3.25,
        "trace_note": {"note": "abc", "n": 4},
    }
    blob = tc.encode_struct(tc.EVENT_THRIFT_SPEC, values)
    rec, end = tc.decode_struct(tc.EVENT_THRIFT_READER_SPEC, blob)
    assert end == len(blob)
    assert rec["event_id"] == 7 and "trace_double" not in rec and "trace_note" not in rec


def test_thrift_error_paths():
    blob = tc.encode_struct({"a": (1, "i64")}, {"a": 300})
    with pytest.raises(ValueError, match="stop byte|truncated"):
        tc.decode_struct({"a": (1, "i64")}, blob[:-1])
    # wire/spec type mismatch
    with pytest.raises(ValueError, match="type mismatch"):
        tc.decode_struct({"a": (1, "string")}, blob)
    # truncated varint inside the value
    with pytest.raises(ValueError, match="truncated varint"):
        tc.decode_struct({"a": (1, "i64")}, bytes([0x16, 0x80]))
    # binary length past the end
    with pytest.raises(ValueError, match="truncated binary"):
        tc.decode_struct({"a": (1, "string")}, bytes([0x18, 0x7F, 0x41, 0x00]))
    # i16 out of range on encode
    with pytest.raises(ValueError, match="out of i16 range"):
        tc.encode_struct({"a": (1, "i16")}, {"a": 1 << 20})


# One 64-bit field per codec; the Thrift i64 and the Avro long are zigzag
# views of the same unsigned varint, folded back for the comparison.
_LONG_RECORD = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "long"}]}
_VARINT_FIELD = {
    "protobuf": lambda v: pw.decode_message({1: ("a", "uint")}, b"\x08" + v)["a"],
    "thrift": lambda v: pw.zigzag64(
        tc.decode_struct({"a": (1, "i64")}, b"\x16" + v + b"\x00")[0]["a"]
    ),
    "avro": lambda v: pw.zigzag64(av.decode_record(_LONG_RECORD, v)[0]["a"]),
}


@pytest.mark.parametrize("codec", sorted(_VARINT_FIELD))
def test_varint_is_bounded_to_64_bits(codec):
    decode = _VARINT_FIELD[codec]
    assert decode(b"\xff" * 9 + b"\x01") == 2**64 - 1
    # an 11-byte varint (2**70) and a 10th byte carrying bits past 63
    for bad in (b"\x80" * 10 + b"\x01", b"\xff" * 9 + b"\x7f"):
        with pytest.raises(ValueError, match="64 bits"):
            decode(bad)


def test_spark_thrift_decode_matches_replay(spark):
    import hashlib

    from kafka_streams_common_spark.operators.thriftcompact import (
        decode_events_thrift,
        encode_events_thrift,
    )

    events = spark.createDataFrame(
        [(i, f"type{i % 3}", float(i) * 1.25, 490 + i) for i in range(12)],
        ["event_id", "event_type", "value", "user_id"],
    )
    rows = {
        r["event_id"]: r.asDict()
        for r in decode_events_thrift(encode_events_thrift(events)).collect()
    }
    assert len(rows) == 12
    for i in range(12):
        r = rows[i]
        digest = hashlib.md5(f"type{i % 3}-{i}".encode()).hexdigest()
        n = 16 if i % 2 == 0 else 4
        toks = [int(digest[2 * j : 2 * j + 2], 16) for j in range(n)]
        assert r["token_sum"] == sum(toks) and r["token_n"] == n
        assert r["set_n"] == len(set(toks[:4]))
        assert r["delta"] == 490 + i - 500
        assert r["flag"] == (i % 2 == 0)
        assert r["map_n"] == (0 if i % 5 == 0 else 2)
        assert r["map_u"] == (None if i % 5 == 0 else 490 + i)


def test_thrift_list_string_and_list_struct_roundtrip():
    spec = {
        "names": (1, "list_string"),
        "items": (2, "list_struct", {"a": (1, "i32"), "b": (2, "string")}),
    }
    values = {
        "names": ["x", "", "longer name", "γ"],
        "items": [{"a": -5, "b": "p"}, {"a": 1 << 20, "b": ""}],
    }
    blob = tc.encode_struct(spec, values)
    rec, end = tc.decode_struct(spec, blob)
    assert end == len(blob) and rec == values
    # 15+ elements forces the long-form size
    many = {"names": [f"n{i}" for i in range(20)], "items": []}
    blob = tc.encode_struct(spec, many)
    rec, end = tc.decode_struct(spec, blob)
    assert rec["names"] == many["names"] and rec["items"] == []


def test_parquet_footer_walk_against_spark_writer(spark, tmp_path):
    """The thrift reader against parquet-mr's own bytes: Spark writes,
    we decode the footer and cross-check every recovered field against
    the DataFrame itself."""
    from kafka_streams_common_spark.operators.parquetmeta import (
        parse_parquet_footer,
        parquet_footer_stats,
        read_parquet_files,
    )

    df = spark.createDataFrame(
        [(i, f"name_{i:03d}", float(i) * 1.5) for i in range(50)],
        ["k", "name", "v"],
    )
    d = str(tmp_path / "pq")
    df.coalesce(1).write.parquet(d)
    import glob

    meta = parse_parquet_footer(open(glob.glob(d + "/*.parquet")[0], "rb").read())
    assert meta["num_rows"] == 50
    assert [e["name"] for e in meta["schema"][1:]] == ["k", "name", "v"]
    row = parquet_footer_stats(read_parquet_files(spark, d), "k", "name").collect()[0]
    assert row["num_rows"] == 50 and row["n_columns"] == 3
    assert row["min_key"] == 0 and row["max_key"] == 49
    assert row["min_name"] == "name_000" and row["max_name"] == "name_049"
    assert row["rowgroup_rows_match"] is True


def test_parquet_footer_rejection_paths(spark, tmp_path):
    from kafka_streams_common_spark.operators.parquetmeta import (
        parse_parquet_footer,
    )
    import glob

    df = spark.createDataFrame([(1, "a")], ["k", "name"])
    d = str(tmp_path / "pq2")
    df.coalesce(1).write.parquet(d)
    blob = bytearray(open(glob.glob(d + "/*.parquet")[0], "rb").read())
    bad = bytearray(blob)
    bad[0] ^= 0xFF
    with pytest.raises(ValueError, match="head magic"):
        parse_parquet_footer(bytes(bad))
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="tail magic"):
        parse_parquet_footer(bytes(bad))
    bad = bytearray(blob)
    bad[-8:-4] = (len(blob)).to_bytes(4, "little")  # footer len > body
    with pytest.raises(ValueError, match="outside the file body"):
        parse_parquet_footer(bytes(bad))


def test_proto_repeated_fields_roundtrip():
    """proto2-style repeated fields: unpacked on the wire from our
    encoder; the decoder must also accept PACKED runs for repeated
    scalars (the spec requires parsers to take both forms)."""
    spec = {
        1: ("ids", "repeated_uint"),
        2: ("names", "repeated_string"),
        3: ("items", "repeated_message", {1: ("a", "uint")}),
    }
    values = {"ids": [1, 300, 0], "names": ["x", "", "γ"], "items": [{"a": 7}, {"a": 9}]}
    blob = pw.encode_message(spec, values)
    assert pw.decode_message(spec, blob) == values
    # packed form of field 1: tag wt=2, len, varints
    packed = bytes([0x0A, 0x03, 0x01, 0xAC, 0x02])
    assert pw.decode_message(spec, packed) == {"ids": [1, 300]}


def test_orc_tail_walk_against_spark_writer(spark, tmp_path):
    """The protobuf reader against Spark's native ORC writer, both
    compression forms, statistics cross-checked against the frame."""
    import glob

    from kafka_streams_common_spark.operators.orcmeta import (
        orc_footer_stats,
        parse_orc_tail,
        read_orc_files,
    )

    df = spark.createDataFrame(
        [(i, f"name_{i:03d}") for i in range(40)], ["k", "name"]
    )
    for comp in ("zlib", "none"):
        d = str(tmp_path / f"orc_{comp}")
        df.coalesce(1).write.option("compression", comp).orc(d)
        rec = parse_orc_tail(open(glob.glob(d + "/*.orc")[0], "rb").read())
        assert rec["compression"] == comp
        fo = rec["footer"]
        assert fo["number_of_rows"] == 40
        assert fo["types"][0]["field_names"] == ["k", "name"]
        row = orc_footer_stats(read_orc_files(spark, d), "k", "name").collect()[0]
        assert row["num_rows"] == 40 and row["key_sum"] == sum(range(40))
        assert row["min_name"] == "name_000" and row["max_name"] == "name_039"
        assert row["stripe_rows"] == 40 and row["n_stripes"] == 1


def test_orc_tail_rejection_paths(spark, tmp_path):
    import glob

    from kafka_streams_common_spark.operators.orcmeta import parse_orc_tail

    df = spark.createDataFrame([(1, "a")], ["k", "name"])
    d = str(tmp_path / "orc_rej")
    df.coalesce(1).write.option("compression", "zlib").orc(d)
    blob = bytearray(open(glob.glob(d + "/*.orc")[0], "rb").read())
    bad = bytearray(blob)
    bad[0] ^= 0xFF
    with pytest.raises(ValueError, match="head magic"):
        parse_orc_tail(bytes(bad))
    bad = bytearray(blob)
    bad[-1] = 0  # zero postscript length
    with pytest.raises(ValueError, match="postscript length"):
        parse_orc_tail(bytes(bad))
    bad = bytearray(blob)
    bad[-1] = 255  # postscript claims more than the file holds...
    with pytest.raises(ValueError):
        parse_orc_tail(bytes(bad))
