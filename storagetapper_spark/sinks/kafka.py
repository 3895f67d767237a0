"""Kafka sink (K1/K2/K3, pipe/kafka.go).

Spark-first collapse of the reference's Kafka machinery:
  - sync producer + RequiredAcks=WaitForAll  → kafka.acks=all option
  - row-key hash partitioning (kafka.go:627-629) → the ``key`` column
  - manual offset store (kafka_offsets table)  → streaming checkpoints
  - manual consumer-group redistribution       → Kafka source handles it

Requires the spark-sql-kafka connector jar (not bundled in this
container); ``kafka_writer``/``kafka_stream_writer`` build the full
configuration and raise a clear error only at start if the connector is
absent.  ``prepare_kafka_frame`` — the part that owns the ordering
contract — is pure DataFrame code and unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storagetapper_spark.functions.keys import row_key_expr

#: reference defaults (config/config.go:218-226)
DEFAULT_MAX_MESSAGE_BYTES = 30 * 1024 * 1024
DEFAULT_BATCH_SIZE = 4096


def prepare_kafka_frame(df: DataFrame, pk_cols: list[str],
                        value_col: str = "value") -> DataFrame:
    """Shape an encoded event frame for the Kafka sink: (key, value)
    where key = length-prefixed row key → Kafka's default hash
    partitioner keeps each PK in one partition, which is the whole
    per-key ordering contract (§4.3)."""
    return df.select(
        row_key_expr(pk_cols).cast("binary").alias("key"),
        F.col(value_col).cast("binary").alias("value"),
    )


def kafka_writer(df: DataFrame, bootstrap_servers: str, topic: str,
                 acks: str = "all",
                 max_request_size: int = DEFAULT_MAX_MESSAGE_BYTES):
    """Batch writer (snapshot publish path).  acks=all mirrors
    RequiredAcks=WaitForAll (pipe/kafka.go:173-185)."""
    return (df.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("kafka.acks", acks)
            .option("kafka.max.request.size", str(max_request_size)))


def kafka_stream_writer(df: DataFrame, bootstrap_servers: str, topic: str,
                        checkpoint_dir: str, acks: str = "all"):
    """Streaming writer (changelog publish path); the checkpoint replaces
    the reference's kafka_offsets table + 10k-message persistence cadence
    (pipe/kafka.go:43-53) with exactly-once bookkeeping."""
    return (df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("kafka.acks", acks)
            .option("checkpointLocation", checkpoint_dir))

