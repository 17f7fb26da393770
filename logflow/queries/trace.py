"""Trace-plane queries (reference Q1-Q3 + branch/enrich/baggage contracts).

The Spark side derives records/spans/logs from the driver's ``events``
table via deterministic built-in expressions (logflow.sources.records,
logflow.operators.topology); the DuckDB oracle reproduces the identical
derivation in SQL CTEs below.  Every hash/arithmetic step was chosen to be
bit-identical across both engines (md5, integer %, FLOOR, interval math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logflow.functions.headers import header_value_str_sql
from logflow.functions.trace import child_span_id_sql, span_id_sql, trace_id_sql
from logflow.operators.topology import (
    MESSAGEID,
    TRACE_ID,
    enrich_trace,
    logs_from_records,
    rewrite_remote_service,
    route_even_odd,
    spans_from_records,
)
from logflow.queries import register
from logflow.sources.records import records_from_events
from logflow.sources.tables import load_table

# --- shared oracle CTEs (mirror of records_from_events / spans_from_records) ---
# The ids are the Spark side's own SQL fragments (logflow.functions.trace,
# dialect-neutral); the topology around them is restated independently.

_SET, _CONSUME, _SEND = (
    child_span_id_sql("trace_id", stage, "off") for stage in ("set", "consume", "send")
)

RECORDS_CTE = f"""
records AS (
  SELECT
    'user-' || CAST(user_id AS VARCHAR) AS key,
    CAST(FLOOR(value) AS BIGINT) AS value,
    event_id AS off,
    ts,
    {trace_id_sql("event_id")} AS trace_id,
    {span_id_sql("event_id")} AS root_span_id
  FROM events
)
"""

ENRICHED_CTE = f"""
enriched AS (
  SELECT r.*,
    {_SET} AS span_id,
    'messageid_' || CAST(value AS VARCHAR) AS messageid,
    CASE WHEN value % 2 = 0 THEN 'even-numbers' ELSE 'odd-numbers' END AS sink_topic
  FROM records r
)
"""

SPANS_CTE = f"""
spans AS (
  SELECT trace_id,
         {_CONSUME} AS span_id,
         root_span_id AS parent_id,
         'consume' AS name,
         'numbers-app' AS service,
         'kafka' AS remote_service,
         ts,
         CAST((value * 7 + off * 13 + 0) % 5000 + 50 AS BIGINT) AS duration_us,
         'numbers' AS kafka_topic
  FROM records
  UNION ALL
  SELECT trace_id,
         {_SET},
         {_CONSUME},
         'set', 'numbers-app', NULL,
         ts + INTERVAL 1 MILLISECOND,
         CAST((value * 7 + off * 13 + 101) % 5000 + 50 AS BIGINT),
         NULL
  FROM records
  UNION ALL
  SELECT trace_id,
         {_SEND},
         {_SET},
         'send', 'numbers-app', 'kafka',
         ts + INTERVAL 2 MILLISECOND,
         CAST((value * 7 + off * 13 + 202) % 5000 + 50 AS BIGINT),
         CASE WHEN value % 2 = 0 THEN 'even-numbers' ELSE 'odd-numbers' END
  FROM records
)
"""


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return records_from_events(load_table(spark, "events", sf_dir))


def _route(spark: SparkSession, sf_dir: str, even: bool) -> DataFrame:
    even_df, odd_df = route_even_odd(enrich_trace(_records(spark, sf_dir)))
    df = even_df if even else odd_df
    return df.selectExpr(
        "key",
        "value",
        "topic",
        "trace_id",
        "parent_span_id",
        "span_id",
        "baggage['messageid'] AS messageid",
    )


def _route_oracle(parity: str) -> str:
    return f"""
WITH {RECORDS_CTE.strip().rstrip()}
SELECT key, value,
       CASE WHEN value % 2 = 0 THEN 'even-numbers' ELSE 'odd-numbers' END AS topic,
       trace_id,
       root_span_id AS parent_span_id,
       {_SET} AS span_id,
       'messageid_' || CAST(value AS VARCHAR) AS messageid
FROM records
WHERE value % 2 {"=" if parity == "even" else "<>"} 0
"""


@register(
    "trace_route_even",
    _route_oracle("even"),
    doc="T1+T2+K1: enrich(set)→branch→even sink (reference StreamsConfig.java:32-46)",
)
def trace_route_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _route(spark, sf_dir, even=True)


@register(
    "trace_route_odd",
    _route_oracle("odd"),
    doc="T1+T2+K2: enrich(set)→branch→odd sink (reference StreamsConfig.java:47-50)",
)
def trace_route_odd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _route(spark, sf_dir, even=False)


@register(
    "trace_branch_law",
    f"""
WITH {RECORDS_CTE.strip()}
SELECT CASE WHEN value % 2 = 0 THEN 'even-numbers' ELSE 'odd-numbers' END AS topic,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value
FROM records
GROUP BY 1
""",
    doc="T2 invariant: odd ∪ even ≡ input, disjoint (StreamsConfig.java:39-51)",
)
def trace_branch_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    even, odd = route_even_odd(enrich_trace(_records(spark, sf_dir)))
    return (
        even.unionByName(odd)
        .groupBy("topic")
        .agg(F.expr("count(1) AS n"), F.expr("cast(sum(value) as bigint) AS sum_value"))
    )


@register(
    "trace_search",
    f"""
WITH {RECORDS_CTE.strip()}, {SPANS_CTE.strip()}
SELECT trace_id, span_id, ts, duration_us
FROM spans
WHERE name = 'send'
  AND kafka_topic = 'even-numbers'
  AND duration_us BETWEEN 1000 AND 4000
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
""",
    doc="Q1: trace search — filter spans by name/tag/duration-range/time-window (README.adoc:133)",
)
def trace_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = spans_from_records(_records(spark, sf_dir))
    return spans.filter(
        "((name = 'send' AND kafka_topic = 'even-numbers')"
        " AND (duration_us >= 1000 AND duration_us <= 4000))"
        " AND (ts >= '2024-01-05 00:00:00' AND ts <= '2024-01-20 00:00:00')"
    ).select("trace_id", "span_id", "ts", "duration_us")


@register(
    "trace_tree_edges",
    f"""
WITH {RECORDS_CTE.strip()}, {SPANS_CTE.strip()}
SELECT c.trace_id,
       c.span_id,
       c.name,
       p.name AS parent_name,
       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
FROM spans c
LEFT JOIN spans p
  ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
""",
    doc="Q2: trace reassembly — parent/child self-join per trace (README.adoc:134-138)",
)
def trace_tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = spans_from_records(_records(spark, sf_dir))
    child, parent = spans.alias("c"), spans.alias("p")
    # Self-join co-partitioned on trace_id: both sides shuffle on the same
    # key, so at scale this is one exchange each and a local join.
    return child.join(
        parent, F.expr("c.trace_id = p.trace_id AND c.parent_id = p.span_id"), "left"
    ).selectExpr(
        "c.trace_id AS trace_id",
        "c.span_id AS span_id",
        "c.name AS name",
        "p.name AS parent_name",
        "timestampdiff(MICROSECOND, p.ts, c.ts) AS gap_us",
    )


@register(
    "trace_summary",
    f"""
WITH {RECORDS_CTE.strip()}, {SPANS_CTE.strip()}
SELECT trace_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(duration_us) AS BIGINT) AS total_duration_us,
       MIN(ts) AS started_at,
       MAX(duration_us) AS max_span_us
FROM spans
GROUP BY trace_id
""",
    doc="Q2: per-trace rollup (span count, total/max latency, start time)",
)
def trace_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = spans_from_records(_records(spark, sf_dir))
    return spans.groupBy("trace_id").agg(
        F.expr("count(1) AS n_spans"),
        F.expr("cast(sum(duration_us) as bigint) AS total_duration_us"),
        F.expr("min(ts) AS started_at"),
        F.expr("max(duration_us) AS max_span_us"),
    )


@register(
    "trace_dependency_graph",
    f"""
WITH {RECORDS_CTE.strip()}, {SPANS_CTE.strip()}
SELECT service,
       remote_service || '/' || kafka_topic AS remote,
       CAST(COUNT(*) AS BIGINT) AS call_count
FROM spans
WHERE remote_service IS NOT NULL
GROUP BY 1, 2
""",
    doc="Q3: dependency graph w/ P3 remote-service rewrite (README.adoc:140-145; "
    "KafkaStreamsLogCorrelationApplication.java:20-32)",
)
def trace_dependency_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = rewrite_remote_service(spans_from_records(_records(spark, sf_dir)))
    return (
        spans.filter("kafka_topic IS NOT NULL")
        .groupBy(F.expr("service"), F.expr("remote_service AS remote"))
        .agg(F.expr("count(1) AS call_count"))
    )


@register(
    "trace_log_summary",
    f"""
WITH {RECORDS_CTE.strip()}, {ENRICHED_CTE.strip()},
logs AS (
  SELECT 'logflow.topology.set' AS logger, trace_id FROM enriched
  UNION ALL
  SELECT CASE WHEN value % 2 = 0 THEN 'logflow.topology.even' ELSE 'logflow.topology.odd' END,
         CASE WHEN value % 2 = 0 THEN trace_id ELSE NULL END
  FROM enriched
)
SELECT logger,
       trace_id IS NOT NULL AS traced,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT trace_id) AS BIGINT) AS n_traces
FROM logs
GROUP BY 1, 2
""",
    doc="T3/T4: correlated vs uncorrelated log rows (README.adoc:93-119)",
)
def trace_log_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = logs_from_records(_records(spark, sf_dir))
    return logs.groupBy(F.expr("logger"), F.expr("trace_id IS NOT NULL AS traced")).agg(
        F.expr("count(1) AS n"), F.expr("count(DISTINCT trace_id) AS n_traces")
    )


@register(
    "trace_baggage_propagation",
    f"""
WITH {RECORDS_CTE.strip()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_even,
       CAST(COUNT(*) AS BIGINT) AS n_propagated
FROM records WHERE value % 2 = 0
""",
    doc="Test-3 contract: messageid baggage survives to the sink as a header "
    "(StreamsConfigTest.java:96-116). n_propagated counts records whose actual "
    "outgoing header equals the expected messageid — equals n_even iff the "
    "header plumbing is correct.",
)
def trace_baggage_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    even, _ = route_even_odd(enrich_trace(_records(spark, sf_dir)))
    propagated = f"{header_value_str_sql('headers', 'messageid')} = {MESSAGEID}"
    return even.selectExpr(
        "count(1) AS n_even",
        f"cast(sum(CASE WHEN {propagated} THEN 1 ELSE 0 END) as bigint) AS n_propagated",
    )


@register(
    "source_custom_wirelog",
    f"""
WITH {RECORDS_CTE.strip()}, {ENRICHED_CTE.strip()}
SELECT value % 2 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       MIN(trace_id) AS min_trace,
       MAX(key) AS max_key
FROM enriched
GROUP BY value % 2
""",
    doc="Custom Python DataSource roundtrip (pyspark.sql.datasource, "
    "sources/wirelog.py): records are wire-encoded with the reference's "
    "exact serde config (utf8 key, 4-byte BE IntegerSerde value, b3 "
    "header re-encoded from the enriched span context — "
    "application.yml:17-21), framed JVM-side and persisted as four "
    "length-prefixed binary frame files through the 'wirelog' format's "
    "two-phase-commit sink, then read back through the same format "
    "(one InputPartition per file) and DECODED in the "
    "engine: int_be_decode for the value, b3 parse for the trace id. "
    "The oracle recomputes the same aggregate from the unencoded events "
    "derivation — hash-equality proves the produce-side encode and the "
    "custom-source decode are mutual inverses, the in-engine substitute "
    "for a live-broker integration test.",
)
def source_custom_wirelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.functions.codec import int_be_decode
    from logflow.sources.derived import derived_cache
    from logflow.sources.wirelog import register_wirelog, wire_frame_bytes
    from logflow.streaming.sinks import kafka_wire_frame

    def writer(d: str) -> None:
        ev = load_table(spark, "events", sf_dir, parallelize=False)
        (
            kafka_wire_frame(enrich_trace(records_from_events(ev)))
            .select(wire_frame_bytes().alias("frame"))
            .repartition(4)  # four files: the read's parallelism
            .write.format("wirelog")
            .option("path", d)
            .mode("overwrite")
            .save()
        )

    register_wirelog(spark)
    base = derived_cache(sf_dir, "wirelog", ["events"], writer)
    raw = spark.read.format("wirelog").option("path", base).load()
    decoded = raw.select(
        F.decode(F.col("key"), "UTF-8").alias("key"),
        int_be_decode(F.col("value")).cast("long").alias("value"),
        F.expr(TRACE_ID).alias("trace_id"),
    )
    return decoded.groupBy((F.col("value") % 2).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").cast("long").alias("sum_value"),
        F.min("trace_id").alias("min_trace"),
        F.max("key").alias("max_key"),
    )


@register(
    "branch_multiway_value_bands",
    f"""
WITH {RECORDS_CTE.strip()},
routed AS (
  SELECT value,
         CASE WHEN value < 20 THEN 'low'
              WHEN value < 100 THEN 'mid'
              WHEN value % 2 = 0 THEN 'high-even'
              ELSE 'default' END AS lane
  FROM records
)
SELECT lane,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value
FROM routed
GROUP BY lane
""",
    doc="N-way first-match branch (the generic operators/branch.py:branch, "
    "generalizing the reference's 2-way KafkaStreamBrancher, "
    "StreamsConfig.java:39-51): three predicates + default over the "
    "record stream, each branch an independent pruned scan in batch "
    "(Catalyst pushes `pred_i AND NOT earlier` to each), re-united with "
    "lane labels for the aggregate. The oracle is the equivalent "
    "first-match CASE — proving branch()'s exactly-one-lane routing, "
    "including the subtle NOT-earlier predicate chaining (a 'high-even' "
    "row must not also appear in 'low'/'mid').",
)
def branch_multiway_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.branch import branch

    recs = _records(spark, sf_dir).select("value")
    lanes = branch(
        recs,
        F.col("value") < 20,
        F.col("value") < 100,
        (F.col("value") % 2) == 0,
    )
    labels = ["low", "mid", "high-even", "default"]
    tagged = [df.withColumn("lane", F.lit(name)) for df, name in zip(lanes, labels)]
    allrows = tagged[0]
    for t in tagged[1:]:
        allrows = allrows.unionByName(t)
    return allrows.groupBy("lane").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").cast("long").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# State Data Source reader (r12): read a stateful checkpoint BACK as a
# batch DataFrame — Spark 4's spark.read.format("statestore") surface.
# --------------------------------------------------------------------------


@register(
    "source_statestore_depgraph",
    f"""
WITH {RECORDS_CTE.strip()}, {SPANS_CTE.strip()}
SELECT service,
       remote_service || '/' || kafka_topic AS remote,
       CAST(COUNT(*) AS BIGINT) AS call_count
FROM spans
WHERE remote_service IS NOT NULL
GROUP BY 1, 2
""",
    doc="Spark 4 State Data Source: the r11 incremental dependency-graph "
    "stream (streaming/stateful.py:streaming_dependency_graph) is run "
    "once to completion (availableNow, noop sink) with its checkpoint "
    "under a derived_cache dir, and the query then reads the RAW STATE "
    "back via spark.read.format('statestore') — the built-in streaming "
    "aggregate's key struct<service, remote> + value.count (its agg "
    "buffer field) per edge. Because the state "
    "after draining the bounded stream is exactly the running count per "
    "edge, the read-back state equals the batch Q3 aggregate, making "
    "this checkpoint-forensics surface fully ORACLE-CHECKABLE (the "
    "same RECORDS/SPANS CTEs as trace_dependency_graph) — closing the "
    "streaming-evidence loop batch-side: what the state store holds is "
    "provably what the batch recompute says it should. Pay-once: the "
    "stream runs only when the testdata fingerprint changes; reruns "
    "read state directly. At 100 TB the statestore reader is the "
    "operational debugger for stuck stateful jobs — O(|state|) scan, "
    "no stream restart needed.",
)
def source_statestore_depgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from logflow.sources.derived import derived_cache
    from logflow.streaming.stateful import streaming_dependency_graph

    ev = load_table(spark, "events", sf_dir, parallelize=False)

    def writer(d: str) -> None:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        ev.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        spans = rewrite_remote_service(
            spans_from_records(records_from_events(stream))
        )
        q = (
            streaming_dependency_graph(spans)
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # derived_cache keys on the source parquet only, so the name carries
    # the state layout: a checkpoint of the earlier applyInPandasWithState
    # operator, left under the same TMPDIR, has no value.count and must
    # not be served to this reader of the streaming aggregate's state.
    base = derived_cache(sf_dir, "statestore_depgraph_agg", ["events"], writer)
    # The batch statestore reader resolves the session's
    # StateStoreCoordinator RPC endpoint, which Spark only instantiates
    # once a stateful streaming query has run — on a warm cache no stream
    # runs in this session and the read dies with RpcEndpointNotFound.
    # Touch the lazily-created coordinator up front (same call the first
    # stateful StreamExecution makes).
    spark._jsparkSession.sessionState().streamingQueryManager().stateStoreCoordinator()
    st = spark.read.format("statestore").load(os.path.join(base, "ckpt"))
    return st.select(
        F.col("key.service").alias("service"),
        F.col("key.remote").alias("remote"),
        F.col("value.count").alias("call_count"),
    ).orderBy("service", "remote")
