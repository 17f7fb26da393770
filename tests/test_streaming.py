"""Structured Streaming tests: single-pass branch, windows, dedup, batch-equivalence.

Strategy (SURVEY §5): streaming ops aren't DuckDB-checkable, so each
streaming query is verified against its batch twin over the same input.
File sources + availableNow triggers keep runs bounded and deterministic.
"""

from __future__ import annotations

import ast
import datetime
import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from logflow.operators.topology import enrich_trace, route_even_odd
from logflow.sources.records import numbers_fixture
from logflow.streaming.branch_sink import parquet_sink, start_branch_query
from logflow.streaming.sources import file_record_stream
from logflow.streaming.windows import deduped_stream, hourly_type_counts, session_spans
from tests.conftest import REPO

TRACE = "77" * 16


@pytest.fixture()
def record_dir(spark, tmp_path):
    path = str(tmp_path / "records")
    numbers_fixture(spark, list(range(10)), trace_id=TRACE).write.parquet(path)
    return path


def test_streaming_branch_matches_batch(spark, record_dir, tmp_path):
    stream = file_record_stream(spark, record_dir)
    out = str(tmp_path / "out")
    q = start_branch_query(
        stream,
        parquet_sink(f"{out}/even"),
        parquet_sink(f"{out}/odd"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    even_s = spark.read.parquet(f"{out}/even").select("value", "trace_id", "span_id")
    odd_s = spark.read.parquet(f"{out}/odd").select("value", "trace_id", "span_id")
    batch = spark.read.parquet(record_dir)
    even_b, odd_b = route_even_odd(enrich_trace(batch))
    assert even_s.exceptAll(even_b.select("value", "trace_id", "span_id")).count() == 0
    assert even_b.select("value", "trace_id", "span_id").exceptAll(even_s).count() == 0
    assert sorted(r.value for r in odd_s.collect()) == [1, 3, 5, 7, 9]


def test_streaming_branch_is_single_pass(spark, record_dir, tmp_path):
    """Both sinks must be written from ONE pass per micro-batch: the
    foreachBatch writer persists the batch, so the even/odd scans hit the
    cached data, and every input row lands in exactly one sink."""
    stream = file_record_stream(spark, record_dir)
    seen: dict[str, list[int]] = {"even": [], "odd": []}

    def sink(name):
        def write(df, batch_id):
            seen[name].extend(r.value for r in df.select("value").collect())

        return write

    q = start_branch_query(stream, sink("even"), sink("odd"), checkpoint=str(tmp_path / "c2"))
    q.awaitTermination(120)
    assert sorted(seen["even"] + seen["odd"]) == list(range(10))
    assert set(seen["even"]).isdisjoint(seen["odd"])


def test_micro_batch_over_40_files_launches_no_listing_job(spark, tmp_path, listing_jobs):
    """The file source re-lists a micro-batch's files in getBatch; over
    Spark's default threshold of 32 paths that was a job of one task per
    file.  On a local master the session lists them on the driver."""
    import pyarrow.parquet as pq

    path = tmp_path / "forty"
    path.mkdir()
    table = numbers_fixture(spark, list(range(40)), trace_id=TRACE).toArrow()
    for i in range(40):
        pq.write_table(table.slice(i, 1), str(path / f"part-{i:02d}.parquet"))
    seen: list[int] = []

    def drain(ckpt):
        def run():
            q = (
                file_record_stream(spark, str(path))
                .writeStream.foreachBatch(lambda df, _: seen.extend(r.value for r in df.collect()))
                .option("checkpointLocation", str(tmp_path / ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            assert q.exception() is None

        return run

    assert listing_jobs(drain("c1")) == []
    # control: under Spark's default the micro-batch lists in a job
    assert len(listing_jobs(drain("c2"), threshold="32")) >= 1
    assert sorted(seen) == sorted(list(range(40)) * 2)


def test_streaming_branch_sf001_matches_trace_routes(spark, tmp_path):
    """The reference topology (enrich -> branch -> dual sink) streamed over
    the full sf0.01 events fixture (~10k records) must produce exactly the
    oracle-checked batch trace_route_even/odd result sets — the streaming
    twin of the driver's reference-core correctness rows, at the same SF
    the driver gates on."""
    from logflow.queries import load_all
    from logflow.sources.records import records_from_events
    from logflow.sources.tables import load_table

    sf01 = "/root/testdata/sf0.01"
    staged = str(tmp_path / "records_sf001")
    records_from_events(load_table(spark, "events", sf01, parallelize=False)).write.parquet(staged)

    out = str(tmp_path / "out_sf001")
    q = start_branch_query(
        file_record_stream(spark, staged),
        parquet_sink(f"{out}/even"),
        parquet_sink(f"{out}/odd"),
        checkpoint=str(tmp_path / "ckpt_sf001"),
    )
    q.awaitTermination(300)

    cols = ["key", "value", "topic", "trace_id", "parent_span_id", "span_id", "messageid"]
    for side in ("even", "odd"):
        got = (
            spark.read.parquet(f"{out}/{side}")
            .select(
                "key", "value", "topic", "trace_id", "parent_span_id", "span_id",
                F.col("baggage")["messageid"].alias("messageid"),
            )
        )
        want = load_all()[f"trace_route_{side}"].fn(spark, sf01).select(*cols)
        assert got.count() == want.count() and got.count() > 1000
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp").write.mode(
        "append"
    ).parquet(path)


def test_streaming_hourly_counts_match_batch(spark, tmp_path):
    path = str(tmp_path / "ev")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, t, base + datetime.timedelta(minutes=m))
        for u, t, m in [
            (1, "click", 5), (1, "click", 20), (2, "view", 61), (2, "click", 70), (1, "view", 130)
        ]
    ]
    _write_events(spark, path, rows)
    stream = spark.readStream.schema("user_id long, event_type string, ts timestamp").parquet(path)
    q = (
        hourly_type_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.hour_start, r.event_type): r.n
        for r in spark.sql("select * from hourly_t").collect()
    }
    batch = spark.read.parquet(path)
    want = {
        (r.hour_start, r.event_type): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_streaming_session_window(spark, tmp_path):
    path = str(tmp_path / "ev2")
    base = datetime.datetime(2024, 1, 1)
    gap = datetime.timedelta(minutes=30)
    rows = [
        (1, "click", base),
        (1, "click", base + datetime.timedelta(minutes=10)),  # same session
        (1, "click", base + datetime.timedelta(minutes=90)),  # new session (gap > 30m)
        # the gap boundary: exactly gap after an event joins its session,
        # gap + 1 µs after it opens a new one
        (2, "click", base),
        (2, "click", base + gap),
        (2, "click", base + 2 * gap + datetime.timedelta(microseconds=1)),
    ]
    _write_events(spark, path, rows)
    stream = spark.readStream.schema("user_id long, event_type string, ts timestamp").parquet(path)
    q = (
        session_spans(stream)
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows_out = spark.sql("select * from sessions_t").collect()
    assert sorted(r.n_events for r in rows_out if r.user_id == 1) == [1, 2]
    user2 = sorted((r for r in rows_out if r.user_id == 2), key=lambda r: r.session_start)
    assert [(r.n_events, r.session_end - r.session_start) for r in user2] == [
        (2, 2 * gap),
        (1, gap),
    ]
    assert user2[1].session_start - user2[0].session_start == (
        2 * gap + datetime.timedelta(microseconds=1)
    )


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    from logflow.streaming.windows import sliding_value_avg

    path = str(tmp_path / "ev3")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, float(v), base + datetime.timedelta(minutes=m))
        for v, m in [(10, 0), (20, 20), (30, 50), (40, 70), (50, 130)]
    ]
    spark.createDataFrame(rows, "user_id long, value double, ts timestamp").write.parquet(path)
    stream = spark.readStream.schema("user_id long, value double, ts timestamp").parquet(path)
    q = (
        sliding_value_avg(stream)
        .writeStream.format("memory")
        .queryName("sliding_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.win_start, r.n, r.avg_value) for r in spark.sql("select * from sliding_t").collect()}
    batch = spark.read.parquet(path)
    want = {
        (r.win_start, r.n, r.avg_value)
        for r in batch.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("win_start"), "n", "avg_value")
        .collect()
    }
    assert got == want


def test_streaming_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-key state carried ACROSS micro-batches —
    the final emitted totals per key must equal the batch groupBy."""
    from logflow.streaming.stateful import running_totals

    path = str(tmp_path / "ev4")
    # two files -> maxFilesPerTrigger=1 forces two micro-batches, so key
    # "1" must accumulate across batch boundaries via the state store
    spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(1, 30.0), (3, 7.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        running_totals(stream, "user_id", "value")
        .writeStream.format("memory")
        .queryName("totals_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # latest update per key = the row with the largest n (totals are monotone)
    rows = spark.sql("select * from totals_t").collect()
    latest: dict[str, tuple] = {}
    for r in rows:
        if r.key not in latest or r.n > latest[r.key][0]:
            latest[r.key] = (r.n, r.total)
    want = {
        str(r.user_id): (r.n, r.total)
        for r in spark.read.parquet(path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert latest == want
    assert len(rows) > len(want)  # key "1" emitted in more than one batch


def test_streaming_stateful_totals_sf001_match_batch(spark, tmp_path):
    """applyInPandasWithState running totals over the sf0.01 events fixture
    (~10k rows, ~1900 distinct users), delivered across multiple
    micro-batches: the latest emission per key must equal the batch
    groupBy count/sum. Exercises real Arrow state traffic, not toy rows."""
    from logflow.sources.tables import load_table
    from logflow.streaming.stateful import running_totals

    ev = load_table(spark, "events", "/root/testdata/sf0.01", parallelize=False)
    path = str(tmp_path / "ev_state")
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    ev.select("user_id", "value").repartition(4).write.parquet(path)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        running_totals(stream, "user_id", "value")
        .writeStream.format("memory")
        .queryName("totals_sf001")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    latest: dict[str, tuple] = {}
    for r in spark.sql("select * from totals_sf001").collect():
        if r.key not in latest or r.n > latest[r.key][0]:
            latest[r.key] = (r.n, round(r.total, 6))
    want = {
        str(r.user_id): (r.n, round(r.total, 6))
        for r in spark.read.parquet(path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert len(want) > 100
    assert latest == want
    # bounded state: one state row per distinct key, however many batches
    last = [p for p in q.recentProgress if p.numInputRows > 0][-1]
    assert last.stateOperators[0].numRowsTotal == len(want)


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than watermark - delay must be dropped from the window
    agg once the watermark has advanced past their window's end."""
    path = str(tmp_path / "ev5")
    ckpt = str(tmp_path / "ckpt5")
    base = datetime.datetime(2024, 1, 1)

    out = str(tmp_path / "out5")

    def run(name):
        stream = spark.readStream.schema(
            "user_id long, event_type string, ts timestamp"
        ).parquet(path)
        q = (
            hourly_type_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: events up to 06:00 -> watermark persisted as 06:00 - 2h = 04:00
    spark.createDataFrame(
        [(1, "click", base + datetime.timedelta(hours=h)) for h in (0, 1, 6)],
        "user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)
    run("late_t1")
    # run 2 (same checkpoint): a late row at 00:30 — its window
    # [00:00, 01:00) closed at watermark 04:00, so it must be dropped
    spark.createDataFrame(
        [(9, "click", base + datetime.timedelta(minutes=30))],
        "user_id long, event_type string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(path)
    run("late_t2")

    counts = {
        (r.hour_start, r.event_type): r.n for r in spark.read.parquet(out).collect()
    }
    # append mode only emits finalized windows (end <= watermark 04:00):
    # the 00:00 and 01:00 windows, each with exactly ONE row — the late
    # 00:30 row was dropped, the 06:00 row's window is not yet final
    assert counts == {
        (base, "click"): 1,
        (base + datetime.timedelta(hours=1), "click"): 1,
    }


def test_streaming_dedup_within_watermark(spark, tmp_path):
    path = str(tmp_path / "recs3")
    fixture = numbers_fixture(spark, [1, 2, 3], trace_id=TRACE)
    fixture.unionByName(fixture).write.parquet(path)  # every record duplicated
    stream = file_record_stream(spark, path)
    q = (
        deduped_stream(stream, ["key", "value", "offset"])
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    vals = sorted(r.value for r in spark.sql("select value from dedup_t").collect())
    assert vals == [1, 2, 3]


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    from logflow.streaming.joins import stream_interval_join

    base = datetime.datetime(2024, 1, 1)
    clicks = [
        (1, base + datetime.timedelta(minutes=0)),
        (1, base + datetime.timedelta(minutes=90)),
        (2, base + datetime.timedelta(minutes=10)),
        (3, base + datetime.timedelta(minutes=30)),
    ]
    buys = [
        (1, base + datetime.timedelta(minutes=40)),   # joins click@0 only
        (1, base + datetime.timedelta(minutes=100)),  # joins click@90 (and click@0? 100>60 -> no)
        (2, base + datetime.timedelta(minutes=80)),   # 70 min after click@10 -> outside band
        (4, base + datetime.timedelta(minutes=5)),    # no matching click key
    ]
    cpath, bpath = str(tmp_path / "clicks"), str(tmp_path / "buys")
    spark.createDataFrame(clicks, "user_id long, click_ts timestamp").write.parquet(cpath)
    spark.createDataFrame(buys, "user_id long, buy_ts timestamp").write.parquet(bpath)

    cs = spark.readStream.schema("user_id long, click_ts timestamp").parquet(cpath)
    bs = spark.readStream.schema("user_id long, buy_ts timestamp").parquet(bpath)
    joined = stream_interval_join(
        cs, bs, on="user_id", left_ts="click_ts", right_ts="buy_ts", band="1 hour"
    ).select(F.col("l.user_id").alias("user_id"), "click_ts", "buy_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("sj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.click_ts, r.buy_ts)
        for r in spark.sql("select * from sj").collect()
    }
    want = {
        (1, clicks[0][1], buys[0][1]),
        (1, clicks[1][1], buys[1][1]),
    }
    assert got == want


def test_streaming_interval_join_sf001_matches_batch(spark, tmp_path):
    """Scale the interval-join batch-equivalence beyond toy frames: run the
    watermarked stream-stream band join over the sf0.01 events fixture
    (~2k clicks x ~2k purchases, real out-of-order timestamps) through a
    memory sink and assert exact set equality with the batch band join on
    the same inputs. (FileStreamSource needs a directory, so the fixture
    is staged into tmp_path first — same rows, µs timestamps.)"""
    from logflow.sources.tables import load_table
    from logflow.streaming.joins import stream_interval_join

    sf01 = "/root/testdata/sf0.01"
    ev = load_table(spark, "events", sf01, parallelize=False)
    staged = str(tmp_path / "events_sf001")
    ev.write.parquet(staged)
    ev = spark.read.parquet(staged)
    clicks_b = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    buys_b = ev.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("buy_ts"))

    def stream_side(etype: str, ts_alias: str):
        return (
            spark.readStream.format("parquet")
            .schema(ev.schema)
            .load(staged)
            .filter(F.col("event_type") == etype)
            .select("user_id", F.col("ts").alias(ts_alias))
        )

    cs = stream_side("click", "click_ts")
    bs = stream_side("purchase", "buy_ts")
    joined = stream_interval_join(
        cs, bs, on="user_id", left_ts="click_ts", right_ts="buy_ts", band="1 hour"
    ).select(F.col("l.user_id").alias("user_id"), "click_ts", "buy_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("sj_sf001")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, r.click_ts, r.buy_ts)
        for r in spark.sql("select * from sj_sf001").collect()
    }
    want = {
        (r.user_id, r.click_ts, r.buy_ts)
        for r in clicks_b.join(
            buys_b,
            (clicks_b.user_id == buys_b.user_id)
            & (buys_b.buy_ts >= clicks_b.click_ts)
            & (buys_b.buy_ts <= clicks_b.click_ts + F.expr("INTERVAL 1 hour")),
        )
        .select(clicks_b.user_id, "click_ts", "buy_ts")
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_windows_sf001_match_batch(spark, tmp_path):
    """Tumbling + session windows over the sf0.01 events fixture (~10k rows,
    real out-of-order timestamps): run the streaming operators in complete
    mode through memory sinks and assert exact equality with the batch
    aggregations they mirror (complete mode emits every window, so no
    watermark-finalization asymmetry)."""
    from logflow.sources.tables import load_table
    from logflow.streaming.windows import hourly_type_counts, session_spans

    ev = load_table(spark, "events", "/root/testdata/sf0.01", parallelize=False)
    staged = str(tmp_path / "events_sf001w")
    ev.select("ts", "user_id", "event_type").write.parquet(staged)
    batch = spark.read.parquet(staged)
    stream = spark.readStream.schema(batch.schema).parquet(staged)

    q1 = (
        hourly_type_counts(stream)
        .writeStream.format("memory").queryName("hw_sf001")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q2 = (
        session_spans(stream)
        .writeStream.format("memory").queryName("sw_sf001")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q1.awaitTermination(300)
    q2.awaitTermination(300)

    got_h = {
        (r.hour_start, r.event_type, r.n)
        for r in spark.sql("select * from hw_sf001").collect()
    }
    want_h = {
        (r.hour_start, r.event_type, r.n)
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
        .collect()
    }
    assert len(want_h) > 10
    assert got_h == want_h

    got_s = {
        (r.session_start, r.session_end, r.user_id, r.n_events)
        for r in spark.sql("select * from sw_sf001").collect()
    }
    want_s = {
        (r.session_start, r.session_end, r.user_id, r.n_events)
        for r in batch.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
        .collect()
    }
    assert len(want_s) > 10
    assert got_s == want_s


def test_int_serde_signed_roundtrip(spark):
    """IntegerSerde is SIGNED 32-bit two's complement: encode/decode must
    round-trip negatives and both int boundaries without ANSI cast
    overflow (4-byte FFFFFFFF is -1, not 4294967295)."""
    from logflow.functions.codec import int_be_decode, int_be_encode

    vals = [0, 1, 8, 255, -1, -8, 2147483647, -2147483648]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    rows = df.select(
        "v",
        int_be_decode(int_be_encode("v")).alias("roundtrip"),
        F.length(int_be_encode("v")).alias("nbytes"),
    ).collect()
    for r in rows:
        assert r.roundtrip == r.v, r
        assert r.nbytes == 4, r


def test_kafka_wire_frame_roundtrip(spark, record_dir):
    """The produce-side serde (K1/K2): encode to the Kafka wire schema and
    decode back — key utf8, value 4-byte BE int, b3 header re-encoded from
    the current (child) span context."""
    from logflow.functions.codec import int_be_decode
    from logflow.functions.headers import header_value_str_sql
    from logflow.streaming.sinks import kafka_wire_frame

    enriched = enrich_trace(spark.read.parquet(record_dir))
    wire = kafka_wire_frame(enriched, topic="even-numbers")
    assert [f.name for f in wire.schema.fields] == ["key", "value", "headers", "topic"]
    assert wire.schema["key"].dataType.simpleString() == "binary"
    assert wire.schema["value"].dataType.simpleString() == "binary"

    decoded = wire.select(
        F.col("key").cast("string").alias("key"),
        int_be_decode("value").alias("value"),
        F.expr(header_value_str_sql("headers", "b3")).alias("b3"),
        "topic",
    ).collect()
    src = {r.value: r for r in enriched.collect()}
    assert decoded and len(decoded) == len(src)
    for r in decoded:
        orig = src[r.value]
        assert r.key == orig.key
        assert r.topic == "even-numbers"
        # b3 carries the CURRENT child span, same trace id (reference
        # StreamsConfigTest.java:64-66)
        assert r.b3 == f"{orig.trace_id}-{orig.span_id}-1"


def test_streaming_transform_with_state_distinct_labels(spark, tmp_path):
    """Streaming count + collect_set aggregate across micro-batches — the
    latest per-key row must equal the batch groupBy(count, countDistinct)."""
    from logflow.streaming.stateful import distinct_label_counts

    path = str(tmp_path / "ev5")
    spark.createDataFrame(
        [(1, "click"), (1, "view"), (2, "click")], "user_id long, event_type string"
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(1, "click"), (1, "purchase"), (3, "view")], "user_id long, event_type string"
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        distinct_label_counts(stream, "user_id", "event_type")
        .writeStream.format("memory")
        .queryName("dlc_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dlc_t").collect()
    latest: dict[str, tuple] = {}
    for r in rows:
        if r.key not in latest or r.n_events > latest[r.key][0]:
            latest[r.key] = (r.n_events, r.n_types)
    want = {
        str(r.user_id): (r.n, r.k)
        for r in spark.read.parquet(path)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("k"),
        )
        .collect()
    }
    assert latest == want
    assert len(rows) > len(want)  # user 1 emitted in both micro-batches


def test_streaming_transform_with_state_sf001_match_batch(spark, tmp_path):
    """distinct_label_counts over the sf0.001 events fixture in two
    micro-batches: final per-user (n, distinct types) equals the batch
    aggregate over the whole table."""
    from logflow.sources.tables import load_table
    from logflow.streaming.stateful import distinct_label_counts

    ev = load_table(spark, "events", "/root/testdata/sf0.001", parallelize=False).select(
        "user_id", "event_type"
    )
    path = str(tmp_path / "ev6")
    half = ev.filter(F.col("user_id") % 2 == 0)
    other = ev.filter(F.col("user_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(path)
    other.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema("user_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        distinct_label_counts(stream, "user_id", "event_type")
        .writeStream.format("memory")
        .queryName("dlc_sf")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt6"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql("select * from dlc_sf").collect()
    latest: dict[str, tuple] = {}
    for r in rows:
        if r.key not in latest or r.n_events > latest[r.key][0]:
            latest[r.key] = (r.n_events, r.n_types)
    want = {
        str(r.user_id): (r.n, r.k)
        for r in spark.read.parquet(path)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("k"),
        )
        .collect()
    }
    assert latest == want


def test_streaming_incremental_dependency_graph(spark, tmp_path):
    """The reference's Q3 dependency graph as a STREAMING aggregate (the
    'incremental dependency graph' row of SURVEY §2.2): spans derived per
    micro-batch into streaming_dependency_graph — in complete mode after
    two micro-batches the table must equal the batch
    trace_dependency_graph over the same events."""
    from logflow.operators.topology import rewrite_remote_service, spans_from_records
    from logflow.queries import load_all
    from logflow.sources.records import records_from_events
    from logflow.sources.tables import load_table
    from logflow.streaming.stateful import streaming_dependency_graph

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf, parallelize=False)
    path = str(tmp_path / "ev_dep")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(path)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    spans = rewrite_remote_service(spans_from_records(records_from_events(stream)))
    q = (
        streaming_dependency_graph(spans)
        .writeStream.format("memory")
        .queryName("depgraph_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_dep"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r.service, r.remote): r.call_count
        for r in spark.sql("select * from depgraph_t").collect()
    }
    want = {
        (r.service, r.remote): r.call_count
        for r in load_all()["trace_dependency_graph"].fn(spark, sf).collect()
    }
    assert got == want and got


def test_streaming_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Structured Streaming recovery contract: a query stopped after batch
    1 and RESTARTED from the same checkpoint must process only the files
    that arrived while it was down — offsets come from the checkpoint,
    not from scratch — so the sink holds exactly one copy of every input
    row across the restart."""
    path = str(tmp_path / "ev_ckpt")
    out = str(tmp_path / "out_ckpt")
    ckpt = str(tmp_path / "ckpt_recover")
    spark.createDataFrame(
        [(1, 10.0), (2, 5.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(path)

    def run_once():
        stream = spark.readStream.schema("user_id long, value double").parquet(path)
        q = (
            stream.withColumn("doubled", F.col("value") * 2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # processes file 1, commits offsets to the checkpoint
    assert spark.read.parquet(out).count() == 2

    spark.createDataFrame(
        [(1, 30.0), (3, 7.0)], "user_id long, value double"
    ).coalesce(1).write.mode("append").parquet(path)
    run_once()  # restart: must pick up ONLY the new file

    rows = sorted(
        (r.user_id, r.value, r.doubled) for r in spark.read.parquet(out).collect()
    )
    # one copy of each input row — file 1 was NOT reprocessed on restart
    assert rows == [(1, 10.0, 20.0), (1, 30.0, 60.0), (2, 5.0, 10.0), (3, 7.0, 14.0)]


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static dimension join: streamed events enriched with a
    static user→segment dim must equal the batch join, and the static
    side must not require any watermark/state."""
    from logflow.streaming.joins import stream_static_enrich

    path = str(tmp_path / "enrich_ev")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, "click", base),
        (2, "view", base + datetime.timedelta(minutes=1)),
        (3, "click", base + datetime.timedelta(minutes=2)),  # no dim row
    ]
    _write_events(spark, path, rows)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, segment string"
    )
    stream = spark.readStream.schema(
        "user_id long, event_type string, ts timestamp"
    ).parquet(path)
    q = (
        stream_static_enrich(stream, dim, "user_id", how="left_outer")
        .writeStream.format("memory")
        .queryName("enriched_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.event_type, r.segment)
        for r in spark.sql("select * from enriched_t").collect()
    )
    want = sorted(
        (r.user_id, r.event_type, r.segment)
        for r in stream_static_enrich(
            spark.read.parquet(path), dim, "user_id", how="left_outer"
        ).collect()
    )
    assert got == want
    assert (3, "click", None) in got  # left-outer keeps dim-less events


def test_foreach_batch_upsert_latest_wins_and_replay_is_noop(spark, tmp_path):
    """foreachBatch keyed upsert: two micro-batches with overlapping keys
    leave latest-per-key state; replaying an already-committed batch id
    (the crash/redelivery case foreachBatch contracts demand handling)
    changes nothing."""
    from logflow.streaming.upsert import apply_upsert_batch, read_upsert_table

    target = str(tmp_path / "upsert_table")
    import os

    os.makedirs(target, exist_ok=True)
    base = datetime.datetime(2024, 1, 1)
    b0 = spark.createDataFrame(
        [(1, "a", base), (2, "b", base + datetime.timedelta(seconds=1))],
        "k long, v string, ts timestamp",
    )
    b1 = spark.createDataFrame(
        [
            (2, "b2", base + datetime.timedelta(minutes=1)),
            (3, "c", base + datetime.timedelta(minutes=1)),
            # same key twice inside one batch: later ts must win
            (3, "c2", base + datetime.timedelta(minutes=2)),
        ],
        "k long, v string, ts timestamp",
    )
    apply_upsert_batch(b0, 0, target, ["k"], "ts")
    apply_upsert_batch(b1, 1, target, ["k"], "ts")
    state = {
        (r.k, r.v) for r in read_upsert_table(spark, target).select("k", "v").collect()
    }
    assert state == {(1, "a"), (2, "b2"), (3, "c2")}
    # replay batch 1 (redelivery after a simulated sink crash): no-op
    apply_upsert_batch(b1, 1, target, ["k"], "ts")
    state2 = {
        (r.k, r.v) for r in read_upsert_table(spark, target).select("k", "v").collect()
    }
    assert state2 == state


def test_foreach_batch_upsert_streaming_driver(spark, tmp_path):
    """End-to-end: a file stream driven through upsert_sink materializes
    latest-per-key state."""
    from logflow.streaming.upsert import read_upsert_table, upsert_sink

    src = str(tmp_path / "upsert_src")
    target = str(tmp_path / "upsert_tbl2")
    ckpt = str(tmp_path / "upsert_ckpt")
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, "x", base),
            (1, "x2", base + datetime.timedelta(minutes=1)),
            (2, "y", base),
        ],
        "k long, v string, ts timestamp",
    ).write.parquet(src)
    stream = spark.readStream.schema("k long, v string, ts timestamp").parquet(src)
    q = upsert_sink(stream, target, ["k"], "ts", ckpt)
    q.awaitTermination(120)
    state = {
        (r.k, r.v) for r in read_upsert_table(spark, target).select("k", "v").collect()
    }
    assert state == {(1, "x2"), (2, "y")}


def test_streaming_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unmatched left rows must be
    emitted NULL-padded — but only after the (min-of-both-sides) watermark
    passes their ts + band. Two availableNow runs over one checkpoint:
    run 1 processes the data and persists the advanced watermark (the
    10h carrier rows on BOTH sides move it to 8h); run 2's batch then
    evicts-and-emits the unmatched run-1 click. The carriers themselves
    stay in state (watermark 8h has not passed their 10h + band)."""
    import datetime

    from logflow.streaming.joins import stream_interval_join

    base = datetime.datetime(2024, 1, 1)
    cpath = str(tmp_path / "clicks")
    bpath = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write(path, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)

    write(
        cpath,
        [
            (1, base),                                   # matched by buy@+30min
            (2, base + datetime.timedelta(minutes=10)),  # no buy -> NULL-padded
            (9, base + datetime.timedelta(hours=10)),    # watermark carrier
        ],
        "user_id long, click_ts timestamp",
    )
    write(
        bpath,
        [
            (1, base + datetime.timedelta(minutes=30)),
            (8, base + datetime.timedelta(hours=10)),    # watermark carrier
        ],
        "user_id long, buy_ts timestamp",
    )

    def run():
        cs = spark.readStream.schema("user_id long, click_ts timestamp").parquet(cpath)
        bs = spark.readStream.schema("user_id long, buy_ts timestamp").parquet(bpath)
        j = stream_interval_join(
            cs, bs, on="user_id", left_ts="click_ts", right_ts="buy_ts",
            band="1 hour", watermark="2 hours", how="leftOuter",
        ).select(F.col("l.user_id").alias("user_id"), "click_ts", "buy_ts")
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # run 2: one new buy row (any key) triggers the batch that applies the
    # persisted 8h watermark and emits run-1's unmatched left row
    write(bpath, [(7, base + datetime.timedelta(hours=10, minutes=1))],
          "user_id long, buy_ts timestamp")
    run()

    got = {(r.user_id, r.click_ts, r.buy_ts) for r in spark.read.parquet(out).collect()}
    want = {
        (1, base, base + datetime.timedelta(minutes=30)),
        (2, base + datetime.timedelta(minutes=10), None),
    }
    assert got == want


def test_streaming_interval_join_full_outer_emits_both_sides(spark, tmp_path):
    """FULL OUTER stream-stream interval join: unmatched rows on EITHER
    side must be NULL-padded once the watermark closes their match window
    (the reference tie-in: cross-topic correlation where either topic may
    be missing the partner record). Same two-run checkpoint protocol as
    the left-outer eviction proof: run 1 persists the advanced watermark
    (8h, via 10h carriers on both sides), run 2's batch evicts-and-emits
    run-1's unmatched click AND unmatched buy. Carriers stay in state."""
    import datetime

    from logflow.streaming.joins import stream_interval_join

    base = datetime.datetime(2024, 1, 1)
    cpath = str(tmp_path / "clicks")
    bpath = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write(path, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)

    write(
        cpath,
        [
            (1, base),                                   # matched by buy@+30min
            (2, base + datetime.timedelta(minutes=10)),  # no buy -> NULL-padded
            (9, base + datetime.timedelta(hours=10)),    # watermark carrier
        ],
        "user_id long, click_ts timestamp",
    )
    write(
        bpath,
        [
            (1, base + datetime.timedelta(minutes=30)),
            (3, base + datetime.timedelta(minutes=20)),  # no click -> NULL-padded
            (8, base + datetime.timedelta(hours=10)),    # watermark carrier
        ],
        "user_id long, buy_ts timestamp",
    )

    def run():
        cs = spark.readStream.schema("user_id long, click_ts timestamp").parquet(cpath)
        bs = spark.readStream.schema("user_id long, buy_ts timestamp").parquet(bpath)
        j = stream_interval_join(
            cs, bs, on="user_id", left_ts="click_ts", right_ts="buy_ts",
            band="1 hour", watermark="2 hours", how="fullOuter",
        ).select(
            # either side may be the NULL-padded one: coalesce the key
            F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
            "click_ts",
            "buy_ts",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # run 2: one new buy row triggers the batch that applies the persisted
    # 8h watermark and emits run-1's unmatched rows from BOTH sides
    write(bpath, [(7, base + datetime.timedelta(hours=10, minutes=1))],
          "user_id long, buy_ts timestamp")
    run()

    got = {(r.user_id, r.click_ts, r.buy_ts) for r in spark.read.parquet(out).collect()}
    want = {
        (1, base, base + datetime.timedelta(minutes=30)),
        (2, base + datetime.timedelta(minutes=10), None),
        (3, None, base + datetime.timedelta(minutes=20)),
    }
    assert got == want


def test_streaming_daily_ohlc_matches_batch(spark, tmp_path):
    """The streaming OHLC continuous aggregate must equal the batch
    ts_downsample_ohlc rollup on the same data (open/high/low/close/n per
    (event_type, day)) — min_by/max_by on the unique (ts, event_id) key
    resolves ties identically to the batch window form."""
    from logflow.queries import load_all
    from logflow.sources.tables import load_table
    from logflow.streaming.windows import daily_ohlc

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    load_table(spark, "events", sf).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ).parquet(src)
    q = (
        daily_ohlc(stream)
        .writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.day): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.sql("SELECT * FROM ohlc_stream").collect()
    }
    batch = load_all()["ts_downsample_ohlc"].fn(spark, sf).collect()
    # the batch query rounds its outputs to 4dp; round the raw streaming
    # aggregates the same way before comparing
    want = {
        (r.event_type, r.day): (r.open, r.high, r.low, r.close, r.n) for r in batch
    }
    assert set(got) == set(want)
    for k, (o, h, l, c, n) in got.items():
        assert (round(o, 4), round(h, 4), round(l, 4), round(c, 4), n) == want[k], k


def test_streaming_funnel_matches_batch_regex(spark, tmp_path):
    """The stateful S[CV]*P automaton over an event-time-ordered stream
    (two micro-batches split at the median ts) must equal the batch
    regexp_count over each user's full symbol string — the streaming /
    batch twin law for row-pattern matching."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.sources.tables import load_table
    from logflow.streaming.stateful import streaming_funnel_counts

    ev = (
        load_table(spark, "events", "/root/testdata/sf0.001", parallelize=False)
        .selectExpr(
            "user_id",
            # int64 micros: orderable, and round-trips pandas->parquet
            # without timestamp-physical-type surprises
            "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) AS BIGINT) AS ts",
            "event_id",
            "event_type",
        )
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    path = tmp_path / "ev_funnel"
    path.mkdir()
    half = len(ev) // 2
    # lexicographic name order == write (mtime) order == event-time order
    pq.write_table(pa.Table.from_pandas(ev.iloc[:half]), str(path / "a_old.parquet"))
    pq.write_table(pa.Table.from_pandas(ev.iloc[half:]), str(path / "b_new.parquet"))

    stream = (
        spark.readStream.schema("user_id long, ts long, event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(path))
    )
    q = (
        streaming_funnel_counts(stream)
        .writeStream.format("memory")
        .queryName("funnels_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    latest: dict[str, int] = {}
    for r in spark.sql("select * from funnels_stream").collect():
        latest[r.key] = max(r.n_funnels, latest.get(r.key, 0))
        # the feed is event-time ordered: the contract monitor must not fire
        assert r.n_out_of_order == 0, (r.key, r.n_out_of_order)

    import re

    want = {}
    for u, g in ev.groupby("user_id"):
        s = "".join(g.sort_values(["ts", "event_id"])["event_type"].str[0].str.upper())
        want[str(u)] = len(re.findall(r"S[CV]*P", s))
    assert len(want) >= 10
    for u, n in want.items():
        assert latest.get(u, 0) == n, (u, latest.get(u), n)


def test_streaming_funnel_flags_out_of_order_feed(spark, tmp_path):
    """A feed whose micro-batch boundaries interleave event times across
    batches violates the automaton's ordered-feed contract: the violation
    must SURFACE in n_out_of_order instead of silently miscounting."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.streaming.stateful import streaming_funnel_counts

    path = tmp_path / "ev_ooo"
    path.mkdir()
    # batch a: the LATER events (ts 30, 40); batch b: the EARLIER (10, 20)
    a = pd.DataFrame(
        {"user_id": [1, 1], "ts": [30, 40], "event_id": [3, 4],
         "event_type": ["signup", "purchase"]}
    )
    b = pd.DataFrame(
        {"user_id": [1, 1], "ts": [10, 20], "event_id": [1, 2],
         "event_type": ["click", "view"]}
    )
    pq.write_table(pa.Table.from_pandas(a), str(path / "a_first.parquet"))
    pq.write_table(pa.Table.from_pandas(b), str(path / "b_second.parquet"))
    stream = (
        spark.readStream.schema("user_id long, ts long, event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(path))
    )
    q = (
        streaming_funnel_counts(stream)
        .writeStream.format("memory")
        .queryName("funnels_ooo")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ooo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from funnels_ooo").collect()
    assert max(r.n_out_of_order for r in rows) == 2, rows


def test_wirelog_streaming_source_tails_appends_exactly_once(spark, tmp_path):
    """The custom Python streaming source must deliver every appended
    frame exactly once across micro-batch runs sharing a checkpoint:
    run 1 sees the initial frames, run 2 (same checkpoint) sees ONLY the
    frames appended after run 1 — including a file that appeared
    mid-stream — and a replayed range decodes identically."""
    from logflow.sources.wirelog import _write_frame, register_wirelog

    def int_be(v: int) -> bytes:
        return v.to_bytes(4, "big")

    register_wirelog(spark)
    d = tmp_path / "wstream"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt_wirelog")

    def append(fname, items):
        with open(d / fname, "ab") as fh:
            for k, v in items:
                _write_frame(fh, k.encode(), int_be(v), [("b3", b"trace-" + k.encode())])

    received: list = []

    def run():
        batch_rows: list = []

        def sink(df, _bid):
            batch_rows.extend(df.collect())

        q = (
            spark.readStream.format("wirelog")
            .option("path", str(d))
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        received.extend(batch_rows)
        return {
            (bytes(r.key).decode(), int.from_bytes(bytes(r.value), "big")): [
                (h.key, bytes(h.value)) for h in r.headers
            ]
            for r in received
        }

    append("a.wirelog", [("u1", 1), ("u2", 2)])
    got1 = run()
    assert set(got1) == {("u1", 1), ("u2", 2)}
    assert got1[("u1", 1)] == [("b3", b"trace-u1")]

    append("a.wirelog", [("u3", 3)])  # grow an existing file
    append("b.wirelog", [("u4", 4)])  # new file mid-stream
    got2 = run()
    # the second run must ADD exactly the two new frames — no replays of
    # already-committed ranges (len(received) counts every delivered row)
    assert set(got2) == {("u1", 1), ("u2", 2), ("u3", 3), ("u4", 4)}
    assert len(received) == 4


def test_wirelog_stream_pipeline_matches_batch_source(spark, tmp_path):
    """The streaming wirelog source feeding the record-decode pipeline
    (IntegerSerde value decode + header extraction + keyed aggregation)
    produces exactly the batch wirelog source's answer over the same
    files — the consume-side analog of the reference's Kafka loop."""
    from pyspark.sql import functions as F

    from logflow.functions.codec import int_be_decode
    from logflow.sources.wirelog import _write_frame, register_wirelog

    register_wirelog(spark)
    d = tmp_path / "wpipe"
    d.mkdir()
    with open(d / "a.wirelog", "wb") as fh:
        for i in range(50):
            _write_frame(
                fh,
                f"user-{i % 5}".encode(),
                (i * 7).to_bytes(4, "big"),
                [("b3", f"t{i}".encode())],
            )

    def decoded_totals(df):
        return (
            df.select(
                F.col("key").cast("string").alias("user"),
                int_be_decode("value").cast("long").alias("v"),
            )
            .groupBy("user")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        )

    batch = {
        (r.user, r.n, r.total)
        for r in decoded_totals(
            spark.read.format("wirelog").option("path", str(d)).load()
        ).collect()
    }
    got = []

    def sink(df, _bid):
        got.extend(decoded_totals(df).collect())

    q = (
        spark.readStream.format("wirelog")
        .option("path", str(d))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_wpipe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {(r.user, r.n, r.total) for r in got}
    assert stream == batch and len(batch) == 5


def test_streaming_interval_join_left_semi(spark, tmp_path):
    """Stream-stream LEFT SEMI interval join: each left row emits AT MOST
    ONCE (existence, not multiplicity — two in-band buys for click@0 must
    not duplicate it), carries only left columns, and matches the batch
    semi join on the same inputs."""
    from logflow.streaming.joins import stream_interval_join

    base = datetime.datetime(2024, 1, 1)
    clicks = [
        (1, base + datetime.timedelta(minutes=0)),    # two in-band buys -> ONE row
        (1, base + datetime.timedelta(minutes=90)),   # no buy in [90, 150]
        (2, base + datetime.timedelta(minutes=10)),   # buy@80 outside band
        (3, base + datetime.timedelta(minutes=30)),   # buy@45 in band
    ]
    buys = [
        (1, base + datetime.timedelta(minutes=20)),
        (1, base + datetime.timedelta(minutes=40)),
        (2, base + datetime.timedelta(minutes=80)),
        (3, base + datetime.timedelta(minutes=45)),
        (4, base + datetime.timedelta(minutes=5)),
    ]
    cpath, bpath = str(tmp_path / "clicks"), str(tmp_path / "buys")
    spark.createDataFrame(clicks, "user_id long, click_ts timestamp").write.parquet(cpath)
    spark.createDataFrame(buys, "user_id long, buy_ts timestamp").write.parquet(bpath)

    cs = spark.readStream.schema("user_id long, click_ts timestamp").parquet(cpath)
    bs = spark.readStream.schema("user_id long, buy_ts timestamp").parquet(bpath)
    joined = stream_interval_join(
        cs, bs, on="user_id", left_ts="click_ts", right_ts="buy_ts",
        band="1 hour", how="leftSemi",
    )
    assert joined.columns == ["user_id", "click_ts"], "semi join leaked right columns"
    q = (
        joined.writeStream.format("memory")
        .queryName("ssemi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.click_ts) for r in spark.sql("select * from ssemi").collect()
    )
    want = sorted([(1, clicks[0][1]), (3, clicks[3][1])])
    assert got == want, "semi join multiplicity or membership wrong"

    # batch equivalence on the same inputs
    bc = spark.read.parquet(cpath).alias("l")
    bb = spark.read.parquet(bpath).alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.buy_ts") >= F.col("l.click_ts"))
        & (F.col("r.buy_ts") <= F.col("l.click_ts") + F.expr("INTERVAL 1 hour"))
    )
    batch = sorted(
        (r.user_id, r.click_ts)
        for r in bc.join(bb, cond, "leftSemi").collect()
    )
    assert got == batch


def test_streaming_observe_metrics_reach_progress(spark, tmp_path):
    """df.observe in a STREAMING query: the per-batch DQ counters surface
    in StreamingQueryProgress.observedMetrics — the monitoring channel of
    diag_observe_metrics carried over to continuous ingest (no extra
    pass, no second query; the listener/progress API is how a 100 TB
    pipeline alarms on volume drops batch by batch)."""
    src = str(tmp_path / "obs_src")
    rows = [(i, float(i) * 2.0) for i in range(50)]
    spark.createDataFrame(rows, "id long, v double").write.parquet(src)

    stream = spark.readStream.schema("id long, v double").parquet(src)
    observed = stream.observe(
        "ingest_dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("v"), 4).cast("decimal(18,4)")).alias("sum_v"),
        F.max("id").alias("max_id"),
    )
    q = (
        observed.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progresses = [p for p in q.recentProgress if p.observedMetrics.get("ingest_dq")]
    assert progresses, "no progress event carried the observed metrics"
    m = progresses[-1].observedMetrics["ingest_dq"]
    assert m.n_rows == 50
    assert float(m.sum_v) == float(sum(r[1] for r in rows))
    assert m.max_id == 49


def test_wirelog_datasource_writer_roundtrip_and_overwrite(spark, tmp_path):
    """df.write.format('wirelog') — the DSv2 writer half of the custom
    connector: staged-file two-phase commit, byte-exact round-trip
    through the batch reader, and overwrite semantics."""
    from logflow.sources.wirelog import register_wirelog

    register_wirelog(spark)
    d = str(tmp_path / "wsink")
    rows = [
        (f"k{i}".encode(), (i * 3).to_bytes(4, "big"), [{"key": "h", "value": b"v"}])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "key binary, value binary, headers array<struct<key:string,value:binary>>"
    )
    df.write.format("wirelog").option("path", d).mode("append").save()
    back = spark.read.format("wirelog").option("path", d).load()
    got = {(bytes(r.key), bytes(r.value)) for r in back.collect()}
    assert got == {(k, v) for k, v, _ in rows}
    assert all(h == [("h", b"v")] for h in [[(x.key, bytes(x.value)) for x in r.headers] for r in back.collect()])
    # no staging leftovers after commit
    import os
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]

    # overwrite replaces, not appends
    df2 = spark.createDataFrame(rows[:10], df.schema)
    df2.write.format("wirelog").option("path", d).mode("overwrite").save()
    n = spark.read.format("wirelog").option("path", d).load().count()
    assert n == 10


def test_wirelog_datasource_writer_abort_leaves_no_visible_files(spark, tmp_path):
    """A failing task must ABORT the write: the directory's visible
    *.wirelog state stays untouched (two-phase commit contract)."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from logflow.sources.wirelog import register_wirelog

    register_wirelog(spark)
    d = str(tmp_path / "wabort")
    ok = spark.createDataFrame(
        [(b"pre", b"x", [])],
        "key binary, value binary, headers array<struct<key:string,value:binary>>",
    )
    ok.write.format("wirelog").option("path", d).mode("append").save()
    before = sorted(f for f in os.listdir(d) if f.endswith(".wirelog"))

    @F.udf("binary")
    def boom(v):
        raise RuntimeError("injected failure")

    bad = ok.withColumn("value", boom(F.col("value")))
    with _pytest.raises(Exception):
        bad.write.format("wirelog").option("path", d).mode("append").save()
    after = sorted(f for f in os.listdir(d) if f.endswith(".wirelog"))
    assert after == before, "aborted write leaked visible files"
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")], "staging not cleaned"


def test_wirelog_stream_writer_end_to_end(spark, tmp_path):
    """writeStream.format('wirelog'): two micro-batches land as
    epoch-keyed visible files, the batch reader round-trips every frame
    byte-exactly, and no staging tmp survives."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.sources.wirelog import register_wirelog

    register_wirelog(spark)
    src = tmp_path / "wsw_src"
    src.mkdir()
    rows_a = [{"key": f"k{i}".encode(), "value": bytes([i])} for i in range(5)]
    rows_b = [{"key": f"k{i}".encode(), "value": bytes([i])} for i in range(5, 9)]
    for name, rows in (("a.parquet", rows_a), ("b.parquet", rows_b)):
        pq.write_table(
            pa.table(
                {
                    "key": pa.array([r["key"] for r in rows], pa.binary()),
                    "value": pa.array([r["value"] for r in rows], pa.binary()),
                }
            ),
            str(src / name),
        )
    out = str(tmp_path / "wsw_out")
    stream = (
        spark.readStream.schema("key binary, value binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .selectExpr(
            "key",
            "value",
            "CAST(array() AS array<struct<key:string,value:binary>>) AS headers",
        )
    )
    q = (
        stream.writeStream.format("wirelog")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wsw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    files = sorted(os.listdir(out))
    assert all(f.startswith("part-b") and f.endswith(".wirelog") for f in files), files
    assert len({f.split("-")[1] for f in files}) == 2  # two epochs
    assert not [f for f in files if f.endswith(".tmp")]
    got = {
        (bytes(r.key), bytes(r.value))
        for r in spark.read.format("wirelog").option("path", out).load().collect()
    }
    want = {(r["key"], r["value"]) for r in rows_a + rows_b}
    assert got == want


def test_wirelog_stream_writer_epoch_replay_is_idempotent(tmp_path):
    """A replayed micro-batch (same batchId, e.g. after a driver crash
    between sink commit and checkpoint write) must REPLACE its previous
    attempt's files, never duplicate frames."""
    import os

    import pyarrow as pa

    from logflow.sources.wirelog import WirelogStreamWriter, _arrow_schema, _read_frames

    out = str(tmp_path / "replay_out")
    batch = pa.RecordBatch.from_pydict(
        {"key": [b"a", b"b"], "value": [b"1", b"2"], "headers": [[], []]},
        schema=_arrow_schema(),
    )
    for attempt in range(2):  # same epoch committed twice
        w = WirelogStreamWriter({"path": out})
        msg = w.write(iter([batch]))
        w.commit([msg], batchId=7)
    files = [f for f in os.listdir(out) if f.endswith(".wirelog")]
    assert len(files) == 1 and files[0].startswith("part-b0000000007-")
    frames = list(_read_frames(os.path.join(out, files[0])))
    assert len(frames) == 2
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def _wirelog_file(path, n):
    """Write ``n`` frames with the reference framer; return the frames and
    the byte offset at which each one starts, plus the file size."""
    from logflow.sources.wirelog import _write_frame

    frames, bounds = [], []
    with open(path, "wb") as fh:
        for i in range(n):
            bounds.append(fh.tell())
            frame = (
                f"k{i}".encode(),
                i.to_bytes(4, "big"),
                [("b3", f"trace-{i}-{'x' * i}".encode()), ("baggage", b"m=%d" % i)][: i % 3],
            )
            _write_frame(fh, *frame)
            frames.append(frame)
        bounds.append(fh.tell())
    return frames, bounds


def test_wirelog_read_frames_ranges_compose(tmp_path):
    """The replay contract of the stream reader: the whole-file read, the
    [0, size) read and the concatenation of the reads over every pair of
    consecutive frame boundaries all give the written frames; an ``end``
    inside a frame raises."""
    from logflow.sources.wirelog import _read_frames

    p = str(tmp_path / "r.wirelog")
    frames, bounds = _wirelog_file(p, 7)
    assert list(_read_frames(p)) == frames
    assert list(_read_frames(p, 0, bounds[-1])) == frames
    sliced = [f for a, b in zip(bounds, bounds[1:]) for f in _read_frames(p, a, b)]
    assert sliced == frames
    assert list(_read_frames(p, bounds[2], bounds[5])) == frames[2:5]
    assert list(_read_frames(p, bounds[3], bounds[3])) == []
    with pytest.raises(ValueError, match="torn frame at byte"):
        list(_read_frames(p, bounds[1], bounds[3] - 1))


def test_wirelog_torn_last_frame_raises(tmp_path):
    """A file cut anywhere inside its last frame must raise a ValueError
    naming the file and the frame's offset, from both readers, rather than
    yield a short frame."""
    import re

    from pyspark.sql.datasource import InputPartition

    from logflow.sources.wirelog import WirelogReader, WirelogStreamReader, _read_frames

    p = str(tmp_path / "t.wirelog")
    _, bounds = _wirelog_file(p, 6)  # the last frame carries two headers
    with open(p, "rb") as fh:
        data = fh.read()
    last, size = bounds[-2], bounds[-1]
    for cut in sorted({last + 1, last + 4, last + 7, size - 9, size - 5, size - 1}):
        with open(p, "wb") as fh:
            fh.write(data[:cut])
        msg = re.escape(f"{p}: torn frame at byte {last}")
        with pytest.raises(ValueError, match=msg):
            list(_read_frames(p))
        with pytest.raises(ValueError, match=msg):
            list(WirelogReader({"path": str(tmp_path)}).read(InputPartition(p)))
        stream = WirelogStreamReader({"path": str(tmp_path)})
        with pytest.raises(ValueError, match=msg):
            list(stream.read(InputPartition((p, 0, cut))))


def test_streaming_heavy_hitters_recall_guarantee(spark, tmp_path):
    """Misra-Gries recall law across micro-batches: every item whose TRUE
    count >= its bucket's total/capacity must appear in the final summary,
    with est_count <= true count (MG only undercounts); state stays
    bounded at the capacity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.sources.tables import load_table
    from logflow.streaming.stateful import _MG_CAPACITY, streaming_heavy_hitters

    ev = (
        load_table(spark, "events", "/root/testdata/sf0.001", parallelize=False)
        .select("user_id", "event_id")
        .toPandas()
        .sort_values("event_id")
    )
    path = tmp_path / "mg_src"
    path.mkdir()
    half = len(ev) // 2
    pq.write_table(pa.Table.from_pandas(ev.iloc[:half]), str(path / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(ev.iloc[half:]), str(path / "b.parquet"))
    stream = (
        spark.readStream.schema("user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(path))
    )
    q = (
        streaming_heavy_hitters(stream, "user_id")
        .writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from mg_stream").collect()
    # keep only each bucket's LAST emission (update mode appends per batch):
    # later rows for a bucket supersede earlier ones — reconstruct by order
    final: dict[int, dict[int, int]] = {}
    for r in rows:
        final.setdefault(r.bucket, {})
        final[r.bucket][r.item] = r.est_count
    true = ev.groupby("user_id").size()
    bucket_tot = true.groupby(true.index % 8).sum()
    for uid, cnt in true.items():
        b = uid % 8
        if cnt >= bucket_tot[b] / _MG_CAPACITY:
            assert uid in final[b], (uid, b, cnt)
    for b, summ in final.items():
        assert len(summ) <= _MG_CAPACITY * 2  # across-batch emissions union
        for item, est in summ.items():
            assert est <= true.get(item, 0)


def test_streaming_ks_drift_detects_shift(spark, tmp_path):
    """ks_drift_monitor: reference prefix frozen per key, drifted tail
    raises KS; the emitted statistic must equal the exact binned KS
    recomputed in Python from the same split."""
    import numpy as np

    from logflow.streaming.stateful import ks_drift_monitor

    path = str(tmp_path / "drift_src")
    rng = np.random.RandomState(7)
    ref_vals = rng.uniform(10, 50, 200).round(3)
    drift_vals = (rng.uniform(10, 50, 200) + 30).round(3)  # shifted regime
    spark.createDataFrame(
        [("m", float(v)) for v in ref_vals], "key string, value double"
    ).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [("m", float(v)) for v in drift_vals], "key string, value double"
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema("key string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        ks_drift_monitor(stream, "key", "value", n_bins=20, lo=0.0, hi=100.0, ref_n=200)
        .writeStream.format("memory")
        .queryName("ks_drift_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ks"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ks_drift_t").collect()
    assert rows, "no emissions"
    final = max(rows, key=lambda r: (r.n_ref + r.n_cur))
    assert final.n_ref == 200 and final.n_cur == 200
    # recompute the exact binned KS for the same split
    width = 100.0 / 20
    rb = np.bincount(np.clip((ref_vals / width).astype(int), 0, 19), minlength=20)
    cb = np.bincount(np.clip((drift_vals / width).astype(int), 0, 19), minlength=20)
    want_num = int(np.max(np.abs(np.cumsum(rb) * 200 - np.cumsum(cb) * 200)))
    assert final.ks_num == want_num
    assert final.ks == want_num / (200.0 * 200.0)
    assert final.ks > 0.4  # a 30-unit shift on a 40-wide uniform is gross drift


def test_streaming_ks_drift_checkpoint_restart(spark, tmp_path):
    """State (reference histogram + counts) survives a stop/restart from
    the same checkpoint: run 2 processes only the new file and continues
    accumulating into the SAME reference."""
    import numpy as np

    from logflow.streaming.stateful import ks_drift_monitor

    path = str(tmp_path / "drift_src2")
    ckpt = str(tmp_path / "ckpt_ks2")
    rng = np.random.RandomState(11)
    spark.createDataFrame(
        [("m", float(v)) for v in rng.uniform(10, 50, 100).round(3)],
        "key string, value double",
    ).coalesce(1).write.mode("append").parquet(path)

    def run_once():
        # foreachBatch sink: the memory sink refuses checkpoint recovery
        rows: list = []
        stream = (
            spark.readStream.schema("key string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        q = (
            ks_drift_monitor(
                stream, "key", "value", n_bins=20, lo=0.0, hi=100.0, ref_n=100
            )
            .writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    r1 = run_once()
    assert len(r1) == 1 and r1[0].n_ref == 100 and r1[0].n_cur == 0

    spark.createDataFrame(
        [("m", float(v)) for v in (rng.uniform(10, 50, 50) + 25).round(3)],
        "key string, value double",
    ).coalesce(1).write.mode("append").parquet(path)
    r2 = run_once()
    # only the NEW file was processed, against state restored from ckpt
    assert len(r2) == 1 and r2[0].n_ref == 100 and r2[0].n_cur == 50
    assert r2[0].ks > 0.0


def test_streaming_dependency_graph_matches_batch(spark, tmp_path):
    """The incrementally-maintained Q3 dependency graph (per-edge count
    state) converges to the batch trace_dependency_graph result, and a
    RESTART from the checkpoint resumes the counts instead of resetting
    them (exactly-once edge accounting)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.operators.topology import rewrite_remote_service, spans_from_records
    from logflow.queries import load_all
    from logflow.queries.trace import _records
    from logflow.streaming.stateful import streaming_dependency_graph

    sf = "/root/testdata/sf0.001"
    spans = (
        rewrite_remote_service(spans_from_records(_records(spark, sf)))
        .select("service", "remote_service", "kafka_topic")
        .toPandas()
    )
    path = tmp_path / "dep_src"
    path.mkdir()
    third = len(spans) // 3
    pq.write_table(pa.Table.from_pandas(spans.iloc[:third]), str(path / "a.parquet"))
    pq.write_table(
        pa.Table.from_pandas(spans.iloc[third : 2 * third]), str(path / "b.parquet")
    )

    emitted: list[tuple] = []

    def run():
        # foreachBatch, not the memory sink: the memory sink refuses
        # checkpoint recovery ("This query does not support recovering
        # from checkpoint location") and this test restarts on purpose.
        stream = (
            spark.readStream.schema(
                "service string, remote_service string, kafka_topic string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(path))
        )

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                emitted.append((r.service, r.remote, r.call_count))

        q = (
            streaming_dependency_graph(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "dep_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    run()
    # restart with the final slice appended: counts must RESUME
    pq.write_table(
        pa.Table.from_pandas(spans.iloc[2 * third :]), str(path / "c.parquet")
    )
    q = run()
    final: dict[tuple, int] = {}
    for service, remote, n in emitted:  # later emissions supersede
        final[(service, remote)] = n
    batch = load_all()["trace_dependency_graph"].fn(spark, sf).collect()
    want = {(r.service, r.remote): r.call_count for r in batch}
    assert final == want
    # bounded state after the restart: one state row per edge
    last = [p for p in q.recentProgress if p.numInputRows > 0][-1]
    assert last.stateOperators[0].numRowsTotal == len(want)
    assert os.path.isdir(str(tmp_path / "dep_ckpt"))


def test_streaming_session_spans_append_restart_matches_batch(spark, tmp_path):
    """Append-mode session windows: per-user 30-min-gap sessions stay in
    state until the watermark passes last event + gap, then are emitted
    exactly once — some in the first run, the rest after a checkpoint
    restart. The emitted sessions must reproduce the batch
    sessionize_events aggregates exactly."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = (
        load_table(spark, "events", sf, parallelize=False)
        .select("user_id", "ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # write micros, not pandas-default nanos: the session's nanosAsLong
    # conf would read a NANOS column back as LONG (the round-1 trap)
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    path = tmp_path / "sess_src"
    path.mkdir()
    half = len(ev) // 2
    pq.write_table(pa.Table.from_pandas(ev.iloc[:half]), str(path / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(ev.iloc[half:]), str(path / "b.parquet"))

    emitted: list[tuple] = []

    def run():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp_ntz")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(path))
        )

        def sink(batch_df, batch_id):
            for r in batch_df.collect():
                emitted.append(
                    (r.user_id, r.session_start, r.session_end, r.n_events)
                )

        q = (
            session_spans(stream, watermark="0 seconds")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    run()
    # sentinel far in the future advances the watermark past every real
    # session's end on RESTART, so the still-open sessions are emitted
    sentinel = ev.iloc[[len(ev) - 1]].copy()
    sentinel["user_id"] = -1
    sentinel["ts"] = (sentinel["ts"] + pd.Timedelta(days=10)).astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(sentinel), str(path / "z.parquet"))
    q = run()
    # bounded state: only the sentinel's own open session is left
    assert q.recentProgress[-1].stateOperators[0].numRowsTotal == 1

    got = pd.DataFrame(
        [e for e in emitted if e[0] != -1],
        columns=["key", "start", "end", "n"],
    )
    # exactly-once: no duplicate session rows
    assert not got.duplicated().any()
    agg = got.groupby("key").agg(
        n_sessions=("n", "size"), n_events=("n", "sum"), max_ev=("n", "max")
    )
    want = load_all()["sessionize_events"].fn(spark, sf).toPandas().set_index("user_id")
    assert len(agg) == len(want)
    for k, row in agg.iterrows():
        assert row["n_sessions"] == want.loc[k, "n_sessions"], k
        assert row["n_events"] == want.loc[k, "n_events"], k
        assert row["max_ev"] == want.loc[k, "max_session_events"], k


#: the order-dependent state machines, the only callers of pandas state
_PANDAS_STATE_OPS = {"streaming_funnel_counts", "streaming_heavy_hitters", "ks_drift_monitor"}
_TIMER_RX = re.compile(r"GroupStateTimeout\.(?!NoTimeout\b)\w+|\b(?:EventTime|ProcessingTime)Timeout\b")


def _state_path_misuse(text: str) -> list[int]:
    """Line numbers of ``applyInPandasWithState`` calls outside
    ``_PANDAS_STATE_OPS`` and of any group-state timeout but NoTimeout."""
    hits = [text.count("\n", 0, m.start()) + 1 for m in _TIMER_RX.finditer(text)]

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                walk(child, child.name if fn is None else fn)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "applyInPandasWithState"
                and fn not in _PANDAS_STATE_OPS
            ):
                hits.append(child.lineno)
            walk(child, fn)

    walk(ast.parse(text), None)
    return sorted(hits)


def test_pandas_state_only_for_order_dependent_ops():
    """One state path per shape: pandas state serves only the funnel,
    Misra-Gries and the KS monitor, and no operator sets a timer."""
    hits = []
    for path in glob.glob(os.path.join(REPO, "logflow", "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            hits += [f"{os.path.relpath(path, REPO)}:{n}" for n in _state_path_misuse(fh.read())]
    assert not hits, f"pandas state or a state timer outside the order-dependent ops: {hits}"


@pytest.mark.parametrize(
    "snippet, misuse",
    [
        ("def ks_drift_monitor(r):\n    return r.applyInPandasWithState(f)\n", False),
        ("def ks_drift_monitor(r):\n    def g():\n        r.applyInPandasWithState(f)\n", False),
        ("def sessions(r):\n    return r.applyInPandasWithState(f)\n", True),
        ("x = r.applyInPandasWithState(f)\n", True),
        ("t = GroupStateTimeout.NoTimeout\n", False),
        ("t = GroupStateTimeout.EventTimeTimeout\n", True),
        ("t = GroupStateTimeout.ProcessingTimeTimeout\n", True),
        ("t = 'EventTimeTimeout'\n", True),
        ("# a checkpoint of the earlier applyInPandasWithState layout\n", False),
    ],
)
def test_state_path_guard_pattern(snippet, misuse):
    assert bool(_state_path_misuse(snippet)) is misuse


def test_source_statestore_depgraph_matches_batch(spark, duck, sf_dir):
    """Spark 4 State Data Source: the dependency-graph checkpoint's raw
    state, read back with spark.read.format('statestore'), equals the
    batch Q3 aggregate (oracle parity) — and a second read hits the
    fingerprint cache without re-running the stream (identical rows)."""
    from tests.oracle import check_query

    check_query(spark, duck, "source_statestore_depgraph", sf_dir)
    from logflow.queries import load_all

    a = load_all()["source_statestore_depgraph"].fn(spark, sf_dir).collect()
    b = load_all()["trace_dependency_graph"].fn(spark, sf_dir).collect()
    assert sorted((r.service, r.remote, r.call_count) for r in a) == sorted(
        (r.service, r.remote, r.call_count) for r in b
    )
