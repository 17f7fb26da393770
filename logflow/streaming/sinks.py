"""Kafka produce-side sink (SURVEY §2 K1/K2: ``KStream.to(topic)``).

The reference's sink serializes key/value with the configured serdes and
forwards headers — including the re-encoded ``b3`` trace header and
baggage — to the output topic (StreamsConfig.java:46,50; propagation
asserted by StreamsConfigTest.java:64-66,111).

Spark's Kafka sink takes a frame with ``key: binary, value: binary,
headers: array<struct<key:string, value:binary>>`` and a topic.  The
encoding projection is pure column work (testable without a broker);
the writers are thin wrappers over ``format("kafka")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logflow.functions.codec import int_be_encode
from logflow.functions.headers import put_header_sql
from logflow.functions.trace import b3_single_header_sql


def kafka_wire_frame(
    records: DataFrame,
    topic: str | None = None,
    sampled: str | bool = True,
) -> DataFrame:
    """Record frame → Kafka producer frame (the serde layer, S2 inverted).

    key: string → UTF-8 bytes; value: int → 4-byte big-endian
    (IntegerSerde, reference application.yml:20-21); headers: existing
    array with ``b3`` overwritten from the CURRENT trace context (the
    stage's span id, not the consumed parent's — reference behavior per
    StreamsConfigTest.java:64-66) and baggage kept as its own header.
    ``sampled`` is a boolean SQL expression or a constant.
    """
    b3 = b3_single_header_sql("trace_id", "span_id", sampled)
    out = records.select(
        F.encode("key", "UTF-8").alias("key"),
        int_be_encode("value").alias("value"),
        F.expr(put_header_sql("headers", "b3", b3)).alias("headers"),
    )
    if topic is not None:
        out = out.withColumn("topic", F.lit(topic))
    return out


def to_topic(
    records: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint: str | None = None,
) -> object:
    """Produce a record frame to a Kafka topic (batch or streaming).

    Batch frames write immediately; streaming frames return the started
    ``StreamingQuery``.  At-least-once in both modes (matching the
    reference's delivery guarantee, SURVEY §4.1); downstream dedup via
    ``deduped_stream`` upgrades to effectively-once.
    """
    wire = kafka_wire_frame(records, topic)
    if records.isStreaming:
        writer = (
            wire.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("includeHeaders", "true")
        )
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()
    return (
        wire.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("includeHeaders", "true")
        .save()
    )
