"""Kafka source/sink wiring for Structured Streaming (S1/S4 streaming forms).

This container has no Kafka broker or spark-sql-kafka package, so these
builders produce the exact reader/writer configuration and the value
(de)serialization expressions — the testable surface — while the physical
``format("kafka")`` connection is exercised only when a broker and the
connector jar are present (guarded by :func:`kafka_available`).

Reference semantics preserved:
- per-topic key/value serdes (SerdeFactory.java:48-82) → ``CAST(key)`` +
  ``from_json(value, schema)`` column expressions;
- FAILFAST parse to match throw-on-malformed
  (JsonStringToObjectMapper.java:49-55, SerdeFactory.java:199-209), with
  PERMISSIVE as the documented DLQ-style alternative;
- sink serialization ``to_json(struct(*))`` (SerdeFactory.java:110-137).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath."""
    try:
        spark._jvm.org.apache.spark.sql.kafka010.KafkaSourceProvider  # noqa: B018
        return True
    except Exception:
        return False


def parse_json_value(
    value_col: Column | str,
    schema: T.StructType,
    mode: str = "FAILFAST",
) -> Column:
    """P4: JSON bytes/string → typed struct. FAILFAST mirrors the
    reference's stream-dies-on-malformed default."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.from_json(c.cast("string"), schema, {"mode": mode})


def infer_json_schema(
    df: DataFrame, json_col: str, sample_rows: int = 1000
) -> T.StructType:
    """Schema inference for sources with NO declared schema — the engine's
    counterpart of the reference's generic-Map deserialization path
    (``SerdeFactory.java:49-56``: a topic with no configured value class
    deserializes to ``LinkedHashMap<String,Object>``).

    Spark's static-schema model can't defer typing to read time, so the
    equivalent is: run Spark's own JSON schema inference (the multi-record
    merging ``spark.read.json`` reader) over a bounded driver-side sample,
    then parse the full column with the inferred StructType. The sample is
    ``limit(sample_rows)`` — one tiny job, independent of corpus size, so
    the path is 100 TB-safe (inference cost is O(sample), parse is the
    usual JVM ``from_json``).
    """
    sample = df.select(json_col).where(F.col(json_col).isNotNull()).limit(sample_rows)
    strings = sample.rdd.map(lambda r: r[0])
    return df.sparkSession.read.json(strings).schema


def parse_json_inferred(
    df: DataFrame, json_col: str, parsed_col: str = "parsed", sample_rows: int = 1000
) -> DataFrame:
    """P4 without a catalog schema: infer from a sample, then ``from_json``.

    Parsing is PERMISSIVE (unknown/missing fields → null), matching the
    reference's lenient unknown-property behavior for the generic path
    (``SerdeFactory.java:30``, ``DynamicPojoKeyExtractor.java:35``) —
    unlike the declared-schema path, which stays FAILFAST.
    """
    schema = infer_json_schema(df, json_col, sample_rows)
    return df.withColumn(
        parsed_col, F.from_json(F.col(json_col), schema, {"mode": "PERMISSIVE"})
    )


def serialize_to_kafka(df: DataFrame, key_col: str) -> DataFrame:
    """P5/S4: shape a DataFrame into Kafka sink columns (key, value)."""
    payload_cols = [c for c in df.columns if c != key_col]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*payload_cols)).alias("value"),
    )


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: T.StructType,
    key_type: str = "string",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1 streaming: subscribe to a topic, decode key + JSON value.

    Raises a clear error when the Kafka connector is absent (import-gated
    per environment constraints).
    """
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10 to spark.jars.packages"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast(key_type).alias("key"),
        parse_json_value("value", value_schema).alias("value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),  # the S2 seq_field for changelog materialization
        F.col("timestamp"),
    )


def kafka_sink_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str,
    checkpoint_dir: str,
):
    """S4 streaming: serialized writeStream into a topic. Returns the
    DataStreamWriter (caller starts it) so tests can inspect options."""
    shaped = serialize_to_kafka(df, key_col)
    return (
        shaped.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


# ---------------------------------------------------------------------------
# Confluent schema-registry values (r14) — the binary value format the
# reference's JSON-only SerdeFactory stops short of. Works on any
# DataFrame with a binary value column (a `format("kafka")` stream's
# `value`, or a batch of captured messages); stateless mapInPandas, so
# it runs identically under Structured Streaming.
# ---------------------------------------------------------------------------

_AVRO_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}


def _reader_spark_schema(reader_schema: dict) -> T.StructType:
    """Spark schema for a resolved reader record (primitive and
    ``["null", prim]`` fields — the registry-consumer subset)."""
    fields = []
    for f in reader_schema["fields"]:
        typ = f["type"]
        nullable = isinstance(typ, list)
        if nullable:
            non_null = [t for t in typ if t != "null"]
            if len(non_null) != 1 or not isinstance(non_null[0], str):
                raise ValueError(f"field {f['name']!r}: only ['null', prim] unions")
            typ = non_null[0]
        if typ not in _AVRO_TO_SPARK:
            raise ValueError(f"field {f['name']!r}: unsupported avro type {typ!r}")
        fields.append(f"{f['name']} {_AVRO_TO_SPARK[typ]}")
    return T._parse_datatype_string(", ".join(fields))


def decode_confluent_values(
    df: DataFrame,
    schemas_by_id: dict[int, dict],
    reader_schema: dict,
    value_col: str = "value",
    with_schema_id: bool = True,
) -> DataFrame:
    """Generic registry-consumer decode: unframe each message (magic
    byte + big-endian schema id, unknown ids rejected — the DLQ
    trigger), schema-RESOLVE the Avro body against ``reader_schema``
    (writer-only fields discarded, reader defaults filled), and emit
    one typed column per reader field (+ ``schema_id``). Output schema
    is DERIVED from the reader schema, so a topic's consumer is one
    call. Stateless Arrow stage — batch and streaming identical."""
    from kafka_streams_common_spark.operators.avro import confluent_parse
    from kafka_streams_common_spark.rowkernel import row_kernel

    out_schema = _reader_spark_schema(reader_schema)
    if with_schema_id:
        out_schema = T.StructType(
            list(out_schema.fields) + [T.StructField("schema_id", T.IntegerType(), False)]
        )
    names = [f["name"] for f in reader_schema["fields"]]

    def decode(payload):
        sid, rec = confluent_parse(bytes(payload), schemas_by_id, reader_schema)
        row = {n: rec[n] for n in names}
        if with_schema_id:
            row["schema_id"] = sid
        yield row

    return row_kernel(df.select(value_col), decode, out_schema)
