"""Streaming sources for the record frame (SURVEY §2 S1/X1).

``kafka_record_stream`` is the production source — the exact streaming
analog of the reference's ``StreamsBuilder.stream("numbers")``
(StreamsConfig.java:31), headers included.  The Kafka connector jar isn't
bundled in this environment, so it is exercised only when a broker/package
is available; file and rate sources cover tests (same schema, same
downstream operators — the point of the DataFrame abstraction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logflow.model import RECORD_SCHEMA


def kafka_record_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka → record frame (key/value as string/int via the fixed serdes,
    headers preserved as array<struct<key,value>> — reference application.yml:17-21)."""
    from logflow.functions.codec import int_be_decode

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("includeHeaders", "true")
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast("string").alias("key"),
        int_be_decode("value").cast("long").alias("value"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("ts"),
        "headers",
    )


def file_record_stream(spark: SparkSession, path: str) -> DataFrame:
    """Parquet-directory stream with the record schema (test/replay source)."""
    return spark.readStream.schema(RECORD_SCHEMA).parquet(path)


def rate_record_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic record stream from the rate source (load/perf testing)."""
    from logflow.functions.headers import put_header_sql
    from logflow.functions.trace import b3_single_header_sql, span_id_sql, trace_id_sql

    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.concat(F.lit("user-"), (F.col("value") % 100).cast("string")).alias("key"),
        F.col("value").alias("value"),
        F.lit("numbers").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("value").alias("offset"),
        F.col("timestamp").alias("ts"),
        F.expr(
            put_header_sql(
                "cast(NULL as array<struct<key:string,value:binary>>)",
                "b3",
                b3_single_header_sql(trace_id_sql("value"), span_id_sql("value")),
            )
        ).alias("headers"),
    )
