"""Kafka source/sink with sample-JSON schema inference.

Reference behavior being reproduced (SURVEY §2.1):

- ``from_topic(topic, sample_event, bootstrap)`` infers a fixed Arrow
  schema from ONE sample JSON event (reference
  crates/core/src/datasource/kafka/kafka_config.rs:148-160; inference
  rules utils/arrow_helpers.rs:232-296) and decodes every message
  against it.
- The event-time column defaults to Kafka's message timestamp when
  the user names none (kafka_stream_read.rs:151, :233-238).
- The sink JSON-encodes each row and produces fire-and-forget
  (topic_writer.rs:93-128, row_encoder.rs:16-44).

Spark-side design: ``spark.readStream.format("kafka")`` already maps
one task per topic-partition (the reference spawns one consumer per
partition, kafka_stream_read.rs:82-299 — same parallelism model, but
Spark's scales past one node). JSON decode is ``from_json`` against
the inferred schema — JVM-side, codegen'd, no Python in the hot path.

The Kafka connector jar is not bundled in every environment; the
readers raise a clear error at .load() time if absent, and schema
inference (pure) is always testable offline.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def infer_schema_from_json(sample_event: str) -> T.StructType:
    """Infer a StructType from one sample JSON event.

    Mirrors the reference's inference rules
    (utils/arrow_helpers.rs:232-296): number → long if integral else
    double; string → string; bool → boolean; null → string (the
    reference uses Arrow Null — Spark's NullType can't be read back,
    string is the lossless-upgrade choice); array → element type from
    the FIRST item (arrow_helpers.rs:247-259); object → struct,
    recursive. All fields nullable.
    """
    value = json.loads(sample_event)
    if not isinstance(value, dict):
        raise ValueError("sample event must be a JSON object")
    return _infer_struct(value)


def _infer_struct(obj: dict) -> T.StructType:
    return T.StructType([T.StructField(k, _infer_type(v), True) for k, v in obj.items()])


def _infer_type(v) -> T.DataType:
    if isinstance(v, bool):  # before int: bool is an int subclass
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType() if v != int(v) else T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if v is None:
        return T.StringType()
    if isinstance(v, list):
        elem = _infer_type(v[0]) if v else T.StringType()
        return T.ArrayType(elem, True)
    if isinstance(v, dict):
        return _infer_struct(v)
    raise ValueError(f"cannot infer type for {v!r}")


def read_kafka_json(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    schema: T.StructType | str,
    *,
    starting_offsets: str = "latest",
    group_id: str | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Streaming read of a JSON-encoded topic, decoded to columns.

    Output columns: the payload fields + ``_kafka_timestamp``
    (the broker message timestamp — the reference's default event
    time, kafka_stream_read.rs:233-238).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    if min_partitions:
        reader = reader.option("minPartitions", str(min_partitions))
    raw = reader.load()
    return decode_json_payload(raw, schema)


def decode_json_payload(raw: DataFrame, schema: T.StructType | str) -> DataFrame:
    """Kafka wire format → typed columns (the JsonDecoder step,
    reference formats/decoders/json.rs:25-49, as one from_json)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("_payload"),
        F.col("timestamp").alias("_kafka_timestamp"),
    ).select("_payload.*", "_kafka_timestamp")


def spark_avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro jar is on the session classpath (the
    Python ``pyspark.sql.avro.functions`` wrapper imports without it
    and only fails at execution, so probe the JVM class directly)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:
        return False


def decode_avro_payload(
    raw: DataFrame, avro_schema: str, spark: SparkSession | None = None
) -> DataFrame:
    """Avro wire bytes → typed columns. Prefers the JVM ``from_avro``
    (codegen'd, the path any real cluster takes); when the spark-avro
    jar is absent — this container has no jar and no network to
    vendor one — falls back to the pure-Python spec codec in
    sources/avro_codec.py (Arrow-batched mapInPandas, parity-tested
    against the wire examples in the Avro specification). Reference:
    formats/decoders/avro.rs:17-54 (logical types ``todo!()`` there
    too — both engines decode the flat-primitive subset)."""
    spark = spark or raw.sparkSession
    if spark_avro_available(spark):
        from pyspark.sql.avro.functions import from_avro

        return raw.select(
            from_avro(F.col("value"), avro_schema).alias("_payload")
        ).select("_payload.*")
    from denormalized_spark.sources.avro_codec import decode_avro_python

    return decode_avro_python(raw, avro_schema)


# -- encoding registry (reference formats/mod.rs: the decoder is
# -- selected by the topic's declared encoding; json + avro today,
# -- new encodings register a decode function here) -------------------

DECODERS: dict[str, object] = {
    "json": decode_json_payload,
    "avro": decode_avro_payload,
}


def decode_payload(raw: DataFrame, encoding: str, schema) -> DataFrame:
    """Dispatch the wire decoder by declared encoding — the
    reference's ``MessageEncoding`` registry as a plain dict."""
    enc = encoding.lower()
    if enc not in DECODERS:
        raise ValueError(
            f"unknown encoding {encoding!r}; registered: {sorted(DECODERS)}"
        )
    return DECODERS[enc](raw, schema)


def register_decoder(encoding: str, fn) -> None:
    """Register a custom wire decoder: fn(raw_kafka_df, schema) →
    decoded DataFrame."""
    DECODERS[encoding.lower()] = fn


def to_kafka_json_rows(df: DataFrame) -> DataFrame:
    """Row → single JSON value column (the reference's row encoder,
    utils/row_encoder.rs:16-44, as one JVM-side to_json)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def write_kafka_json(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint: str,
    trigger: dict | None = None,
):
    """JSON sink to Kafka (reference topic_writer.rs:93-128). For
    batch DataFrames performs a one-shot batch write."""
    encoded = to_kafka_json_rows(df)
    if not df.isStreaming:
        (
            encoded.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .save()
        )
        return None
    return (
        encoded.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"processingTime": "0 seconds"}))
        .start()
    )
