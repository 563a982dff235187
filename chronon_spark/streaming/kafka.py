"""Kafka streaming source for streaming GroupBys.

Reference: spark/.../streaming/KafkaStreamBuilder.scala (readStream
format("kafka") -> value bytes), online/DataStreamBuilder.scala:33-70
(TopicInfo + "kafka://topic/host=X/port=Y" parsing), and
flink/.../source/KafkaFlinkSource.scala:1-76 (the same topic contract on
the Flink side).

Spark-first: the topic becomes a Structured Streaming source whose rows
carry the STANDARD Kafka record schema (key/value binary, topic,
partition, offset, timestamp, timestampType); decoding is a pure-Catalyst
``from_json`` over ``value`` — no Python in the stream. Where no broker
exists (tests, this sandbox), ``file_kafka_source`` provides a
file-backed stream with the IDENTICAL record schema, so everything
downstream of the source — decode, tiling, watermarks, lambda merge — is
exercised against the real contract.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the Spark Kafka source's fixed output schema (the contract every
# downstream decode step codes against)
KAFKA_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


@dataclass(frozen=True)
class TopicInfo:
    """reference online/DataStreamBuilder.scala:33."""

    name: str
    message_bus: str = "kafka"
    params: dict = field(default_factory=dict)


def parse_topic(topic: str) -> TopicInfo:
    """Parse "kafka://topic_name/schema=my_schema/host=X/port=Y" (bus
    defaults to kafka) — reference DataStreamBuilder.parse."""
    assert topic, f"invalid topic: {topic}"
    if "://" in topic:
        bus, rest = topic.split("://", 1)
    else:
        bus, rest = "kafka", topic
    assert rest, f"invalid topic: {topic}"
    parts = rest.split("/")
    name = parts[0]
    params = {}
    for p in parts[1:]:
        if not p:
            continue
        assert "=" in p, f"invalid topic param (want k=v): {p} in {topic}"
        k, v = p.split("=", 1)
        params[k] = v
    return TopicInfo(name=name, message_bus=bus, params=params)


def bootstrap_of(info: TopicInfo) -> str:
    """bootstrap = explicit param, else host[:port] — KafkaStreamBuilder.scala:36."""
    conf = info.params
    if "bootstrap" in conf:
        return conf["bootstrap"]
    host = conf.get("host")
    assert host, f"topic {info.name}: need bootstrap or host param"
    port = conf.get("port")
    return f"{host}:{port}" if port else host


def kafka_stream(
    spark: SparkSession,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """readStream from a Kafka topic with the standard record schema
    (KafkaStreamBuilder.from). Requires the spark-sql-kafka connector on
    the classpath — raises a clear error if absent so callers can fall
    back to ``file_kafka_source`` in broker-less environments."""
    info = parse_topic(topic)
    assert info.message_bus == "kafka", f"unsupported message bus: {info.message_bus}"
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_of(info))
            .option("subscribe", info.name)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # connector missing / broker unreachable
        raise RuntimeError(
            "kafka connector unavailable (need spark-sql-kafka on the "
            "classpath and a reachable broker); use file_kafka_source for "
            f"broker-less tests. Cause: {e}"
        ) from e


def file_kafka_source(spark: SparkSession, records_dir: str) -> DataFrame:
    """A file-backed stream with the exact Kafka record schema — the
    broker-less stand-in (same contract, so decode/tile/watermark code is
    identical to the real topic path)."""
    return spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(records_dir)


def encode_kafka_records(
    df: DataFrame,
    key_cols: list,
    topic: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Encode event rows into Kafka-shaped records: value = JSON bytes of
    the full row, key = JSON bytes of the key columns, timestamp = event
    time. Used to materialize a file-backed topic for tests (and mirrors
    what producers put on the wire)."""
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in key_cols])).cast("binary").alias("key"),
        F.to_json(F.struct(*df.columns)).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.timestamp_millis(F.col(ts_col).cast("long")).alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def decode_json_stream(records: DataFrame, event_schema: T.StructType) -> DataFrame:
    """value bytes -> typed event columns, pure Catalyst (from_json).

    The reference's streaming GroupBy decodes the bus payload with the
    source's declared schema then applies the Query's selectExpr verbatim
    (spark/.../streaming/GroupBy.scala buildStreamingQuery); do the same
    downstream of this."""
    return records.select(
        F.from_json(F.col("value").cast("string"), event_schema).alias("e")
    ).select("e.*")
