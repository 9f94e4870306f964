"""Kafka-fronted event source (O1 plan (a), SURVEY §4): when a Debezium/
reference-style producer already publishes envelope JSON to Kafka, the
engine consumes it with the built-in Kafka source — zero custom source
code — and re-enters the same typed pipeline.

The reference's own Kafka sink publishes key = db.table, value =
envelope JSON (src/services/kafka/producer.go:45-75); these parsers are
the consumer-side inverse, usable on both the streaming Kafka DataFrame
and any batch DataFrame with the same (key, value) binary layout — which
is exactly how tests exercise them without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wing_binlog_go_spark.functions.envelope import EVENT_SCHEMA


def parse_kafka_records(records: DataFrame) -> DataFrame:
    """(key, value) binary → envelope columns + full_table routing column.

    Key is db.table (producer.go:55: per-table ordering); value is the
    envelope JSON. Rows whose JSON fails to parse keep NULL envelope
    fields rather than killing the stream — filter on
    ``event_type IS NULL`` for a dead-letter route.
    """
    parsed = records.select(
        F.col("key").cast("string").alias("full_table"),
        F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("e"),
    )
    return parsed.select(
        "full_table",
        "e.database",
        "e.table",
        "e.event_type",
        "e.time",
        "e.event_index",
        "e.event",
    )
