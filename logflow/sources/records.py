"""Record-frame builders: the `numbers` topic model over batch inputs.

``records_from_events`` adapts the driver's ``events`` table into the
Kafka-record shape (FIXTURES.md §1.1) with a forged ``b3`` header — the
batch stand-in for ``spark.readStream.format("kafka")`` on topic `numbers`
(reference StreamsConfig.java:31).  ``numbers_fixture`` builds the exact
golden scenarios of the reference tests (values 1,2,3 / 4,5,6 / 8;
reference StreamsConfigTest.java:56-58, 74-76, 101-102).

Every derived value is a deterministic built-in expression so the DuckDB
oracle can reproduce it bit-for-bit (see logflow/queries/trace.py).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from logflow.functions.headers import put_header_sql
from logflow.functions.trace import b3_single_header_sql, span_id_sql, sql_str, trace_id_sql
from logflow.model import RECORD_SCHEMA, TOPIC_INPUT


def records_from_events(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) → record frame.

    value is a double in the testdata; the record value is
    ``floor(value)`` as a long — FLOOR (not a bare int cast) because the
    engine's oracle, DuckDB, rounds on double→int casts while Spark
    truncates; FLOOR is identical in both.
    """
    b3 = b3_single_header_sql(trace_id_sql("event_id"), span_id_sql("event_id"))
    no_headers = "cast(NULL as array<struct<key:string,value:binary>>)"
    return events.selectExpr(
        "concat('user-', cast(user_id as string)) AS key",
        "cast(floor(value) as bigint) AS value",
        f"{sql_str(TOPIC_INPUT)} AS topic",
        "0 AS `partition`",
        "event_id AS `offset`",
        "ts",
        f"{put_header_sql(no_headers, 'b3', b3)} AS headers",
    )


def numbers_fixture(
    spark: SparkSession,
    values: list[int],
    key: str = "test-key",
    trace_id: str | None = None,
) -> DataFrame:
    """Golden fixture mirroring the reference's forged test records.

    One record per value, all under one key and one trace (the reference
    forges ``"%s-%d%s-1" % (traceId, number, spanId)`` per record —
    reference StreamsConfigTest.java:90-94).
    """
    trace_id = trace_id or ("f" * 32)
    base_ts = datetime.datetime(2024, 1, 1)
    rows = [
        (
            key,
            v,
            TOPIC_INPUT,
            0,
            i,
            base_ts + datetime.timedelta(seconds=i),
            [("b3", f"{trace_id}-{v:016x}-1".encode())],
        )
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, RECORD_SCHEMA)
