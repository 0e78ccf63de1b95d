"""Kafka source/sink twins (SURVEY.md §2.1 S1/S2, §2.2 K1).

The reference hardcodes broker (`localhost:9092`,
`sparkpykafkajoin.py:39`) and topic names; here every endpoint is a
parameter. The kafka-sql jar is not installed, so these builders only
CONSTRUCT readers/writers — they fail at `.load()`/`.start()` time,
not import time, and all engine logic is testable through the
file/memory twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Streaming Kafka source. `startingOffsets=earliest` matches the
    reference's replay-all behavior (sparkpykafkajoin.py:38-39)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def write_kafka(
    df: DataFrame,
    topic: str,
    checkpoint_dir: str,
    bootstrap_servers: str = "localhost:9092",
):
    """Kafka sink with checkpoint-based exactly-once
    (sparkpykafkajoin.py:145-152). `df` must already have a string
    `value` column (use operators.decode.to_json_value)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
