"""Sinks (K1/K2): Kafka producer shape + dry-run variants.

The reference publishes one Avro message per row change with the topic
derived from the registered schema (data_event_handler.py:54-67) and has
publish/register dry-run switches (config.py:109-115). Here the envelope
maps to Kafka's (key, value, topic) contract as JSON — key = the
idempotency key so a replayed micro-batch lands on the same partition and
log-compacts away, value = the full envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Spark's default JSON timestampFormat is millisecond-precision; binlog
#: event times carry microseconds — the wire format must not lose them.
WIRE_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    # the envelope timestamp is TIMESTAMP_NTZ when the source parquet stores
    # TIMESTAMP(MICROS); without an explicit NTZ format to_json truncates to
    # millis and the wire roundtrip loses microsecond precision
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def envelope_to_kafka_records(env: DataFrame) -> DataFrame:
    """envelope -> (key, value, topic, headers): key is (cluster,
    txn_order) — the exactly-once idempotency key — topic is db.table
    Debezium-style (the reference derives it from the registered schema,
    data_event_handler.py:54-67), and headers carry schema_id +
    message_type as UTF-8 bytes in Spark's Kafka-sink header shape
    (array<struct<key string, value binary>>) so a consumer can route
    without parsing the value."""
    return env.select(
        F.concat_ws(":", "cluster_name", F.col("txn_order").cast("string")).alias(
            "key"
        ),
        F.to_json(F.struct(*env.columns), WIRE_JSON_OPTIONS).alias("value"),
        F.concat_ws(".", "database_name", "table_name").alias("topic"),
        F.array(
            F.struct(
                F.lit("schema_id").alias("key"),
                F.encode(F.col("schema_id").cast("string"), "UTF-8").alias(
                    "value"
                ),
            ),
            F.struct(
                F.lit("message_type").alias("key"),
                F.encode(F.col("message_type"), "UTF-8").alias("value"),
            ),
        ).alias("headers"),
    )


def write_kafka(env: DataFrame, bootstrap_servers: str, checkpoint_dir: str):
    """Streaming Kafka sink over the record shape above (at-least-once from
    Spark + idempotent key = effectively-once for compacted consumers).
    Off runner.drain: it returns a live, continuous query."""
    return (
        envelope_to_kafka_records(env)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_dry_run(df: DataFrame) -> None:
    """K2: execute the full plan, publish nothing (noop DataSourceV2)."""
    df.write.mode("overwrite").format("noop").save()
