"""Kafka source wiring (SURVEY §2.1 bundled connectors).

The reference's launched distribution symlinks the full Presto plugin
directory, which includes the Kafka connector (reference:
launcher.py:176-179) even though only MySQL has a catalog file. The
Spark counterpart is the spark-sql-kafka-0-10 structured-streaming
source; this module wires it so a deployment that ships the connector
jar gets Kafka streams with the engine's events schema, and a
deployment without it gets a clear, early error instead of a mid-query
ClassNotFoundException.

This container does not bundle the Kafka jar (checked in
tests/test_kafka_source.py), so the pipeline plumbing is proven by
running the SAME downstream transformations over the parquet-backed
stream the engine uses everywhere else — the source is swappable by
construction: every streaming operator takes a DataFrame, never a
topic name.

At scale: one Kafka partition maps to one Spark input partition;
`minPartitions` widens fan-out beyond the topic's partition count, and
watermarks bound state for the windowed aggregations downstream
(streaming/windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_KAFKA_PROVIDER = "org.apache.spark.sql.kafka010.KafkaSourceProvider"

# the events fixture schema, as carried over a Kafka value payload
EVENT_VALUE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
        StructField("props", StringType()),
    ]
)


def kafka_available(spark: SparkSession) -> bool:
    """True if the spark-sql-kafka connector is on the session's
    classpath (it is an external package, not part of pyspark)."""
    try:
        spark._jvm.java.lang.Class.forName(_KAFKA_PROVIDER)
        return True
    except Exception:
        return False


def _require_kafka(spark: SparkSession) -> None:
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka source requested but the spark-sql-kafka-0-10 "
            "connector is not on the classpath. Launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
            "(or ship the jar in spark.jars). The engine's streaming "
            "operators accept any DataFrame source; see "
            "presto_on_ray_spark/streaming/windows.py for the "
            "parquet-backed equivalent used in tests."
        )


def read_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    min_partitions: int | None = None,
) -> DataFrame:
    """readStream over a Kafka topic of JSON-encoded events rows,
    parsed once into the typed events schema (parse-once-then-prune —
    the same schema-on-read discipline as json_schema_parse)."""
    _require_kafka(spark)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if min_partitions is not None:
        reader = reader.option("minPartitions", str(min_partitions))
    raw = reader.load()
    return decode_event_records(raw)


def decode_event_records(raw: DataFrame) -> DataFrame:
    """Kafka wire format → typed events rows. Pure column expressions,
    source-agnostic: testable on any DataFrame with binary `value` +
    `timestamp` columns (tests feed it a parquet-derived frame)."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENT_VALUE_SCHEMA).alias("e"),
        F.col("timestamp").alias("kafka_ts"),
    )
    return parsed.select(
        "e.event_id",
        "e.user_id",
        "e.event_type",
        "e.value",
        # event time from the payload; fall back to broker append time
        F.coalesce("e.ts", "kafka_ts").alias("ts"),
        "e.props",
    )
