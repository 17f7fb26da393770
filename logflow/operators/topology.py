"""The reference topology as DataFrame transformations (SURVEY §2 T1-T4, K1-K2, P1, P3).

Reference dataflow (StreamsConfig.java:30-52):

    stream("numbers") → transformValues(tracing.peek("set", …baggage…))
      → branch(v % 2 == 0 → "even-numbers", default → "odd-numbers")

Here each stage is a column derivation (side-effect free — an upgrade over
mutation, same observable contract), branching is complementary filters,
and spans/logs are first-class DataFrames instead of an external Zipkin.

Span ids are deterministic md5 derivations (logflow.functions.trace) so the
whole topology is reproducible and idempotent under micro-batch replay.

Plan-build cost: each operator is one ``selectExpr`` over SQL fragments
from logflow.functions.trace/headers. Building a plan here is bound by
Py4J round trips and JVM analysis, not by execution: a Column-DSL build
pays about three round trips per ``F.*`` call, and each DataFrame step one
JVM analysis (about 10 ms), so a chain of ``withColumn`` calls pays one
analysis per column. ``selectExpr`` ships its strings in one call (one
round trip per string), and a later item may read an alias defined earlier
in the same list (a lateral column alias: ``span_id`` reads ``trace_id``,
``headers`` reads both). Measured on a 4-vCPU host (pyspark 4.1, warm),
building ``trace_tree_edges`` takes 77 round trips against 773 with the
Column DSL and a ``withColumn`` chain, and ``trace_route_even`` (records,
enrich_trace, route_even_odd, a projection) 89 against 536.

The analyzer moves only the aliases that later items read into an inner
Project; the other derived columns are computed in the outer one, and
``headers`` comes last in enrich_trace's output. ``spans_from_records``
and ``logs_from_records`` keep three steps each: a generator may not read
a lateral alias, and the projection after ``inline`` keeps the
generator's output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logflow.functions.headers import header_value_str_sql, put_header_sql
from logflow.functions.trace import b3_fields_sql, b3_single_header_sql, child_span_id_sql, sql_str
from logflow.model import TOPIC_EVEN, TOPIC_INPUT, TOPIC_ODD
from logflow.operators.branch import branch

SERVICE = "numbers-app"

#: (stage_index, span name) for the per-record span chain.  consume = the
#: source-side span; set = the enrich stage (reference StreamsConfig.java:32-37);
#: send = the sink produce span (reference StreamsConfig.java:46,50).
STAGES = [(0, "consume"), (1, "set"), (2, "send")]

# SQL fragments over a record frame (columns of logflow.model.RECORD_SCHEMA).
_B3 = b3_fields_sql(header_value_str_sql("headers", "b3"))
#: Trace context decoded from the consumed ``b3`` header.
TRACE_ID, PARENT_SPAN_ID, SAMPLED = _B3["trace_id"], _B3["span_id"], _B3["sampled"]
MESSAGEID = "concat('messageid_', cast(value as string))"
IS_EVEN = "pmod(value, 2) = 0"
SINK_TOPIC = f"CASE WHEN {IS_EVEN} THEN {sql_str(TOPIC_EVEN)} ELSE {sql_str(TOPIC_ODD)} END"


def stage_span_sql(stage: str) -> str:
    """This record's span id for ``stage``; reads the ``trace_id`` column."""
    return child_span_id_sql("trace_id", stage, "`offset`")


#: Columns enrich_trace adds or rewrites, in output order.
ENRICHED = ["trace_id", "parent_span_id", "sampled", "span_id", "baggage", "headers"]


def enrich_trace(records: DataFrame, stage: str = "set") -> DataFrame:
    """T1: traced enrich-transform (reference `peek("set")`).

    Decodes the ``b3`` header into trace context, opens a deterministic
    child span for the stage, writes the ``messageid`` baggage field
    (reference StreamsConfig.java:35: ``"messageid_" + v``), and re-encodes
    both into the outgoing headers so downstream stages / sinks see them.

    Output: the input's other columns, then ENRICHED (``headers`` last,
    since it reads the new ``trace_id`` and ``span_id``).
    """
    stale = [c for c in records.columns if c in ENRICHED and c != "headers"]
    if stale:
        # A lateral alias loses to an input column of the same name.
        records = records.drop(*stale)
    keep = [f"`{c}`" for c in records.columns if c != "headers"]
    b3 = b3_single_header_sql("trace_id", "span_id")
    headers = put_header_sql(put_header_sql("headers", "b3", b3), "messageid", MESSAGEID)
    return records.selectExpr(
        *keep,
        f"{TRACE_ID} AS trace_id",
        f"{PARENT_SPAN_ID} AS parent_span_id",
        f"{SAMPLED} AS sampled",
        f"{stage_span_sql(stage)} AS span_id",
        f"map('messageid', {MESSAGEID}) AS baggage",
        f"{headers} AS headers",
    )


def route_even_odd(enriched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """T2 + K1/K2: branch on ``value % 2 == 0`` and stamp the sink topic.

    Returns (even, odd), each with ``topic`` rewritten to its sink topic —
    the batch analog of ``KStream.to(topic)``.  Headers (b3 + baggage)
    ride along untouched, matching the reference's propagation guarantee
    (README.adoc:119).
    """
    even, odd = branch(enriched, F.expr(IS_EVEN))
    return (
        even.withColumn("topic", F.expr(sql_str(TOPIC_EVEN))),
        odd.withColumn("topic", F.expr(sql_str(TOPIC_ODD))),
    )


def _stage_struct(idx: int, name: str) -> str:
    if idx == 0:
        parent, remote, topic = "root_span_id", "'kafka'", sql_str(TOPIC_INPUT)
    elif idx == 1:
        parent, remote, topic = stage_span_sql("consume"), "cast(NULL as string)", "cast(NULL as string)"
    else:
        parent, remote, topic = stage_span_sql("set"), "'kafka'", SINK_TOPIC
    # Deterministic duration: pure integer arithmetic reproducible in
    # the DuckDB oracle (no RNG — SURVEY §4.2).
    duration = f"cast(pmod(value * 7 + `offset` * 13 + {idx * 101}, 5000) + 50 as bigint)"
    return (
        f"struct({sql_str(name)} AS name, {stage_span_sql(name)} AS span_id, "
        f"{parent} AS parent_id, {remote} AS remote_service, {topic} AS kafka_topic, "
        f"timestampadd(MILLISECOND, {idx}, ts) AS ts, {duration} AS duration_us)"
    )


def spans_from_records(records: DataFrame) -> DataFrame:
    """P1: materialize the per-record span chain as a spans DataFrame.

    Three spans per record — consume → set → send — same trace_id, fresh
    deterministic span id per stage, parent chained to the previous stage
    (root parent = the producer span carried in ``b3``).  Mirrors the log
    transcript in reference README.adoc:98-108 (one traceId, three spanIds).

    Single-pass: stages are inlined via ``inline(array(...))`` (one scan,
    no self-union) — at 100 TB this matters: the 3× row expansion happens
    pipelined inside the scan stage, no shuffle.
    """
    stages = ", ".join(_stage_struct(i, n) for i, n in STAGES)
    return (
        records.selectExpr(
            "`offset`", "value", "ts", f"{TRACE_ID} AS trace_id", f"{PARENT_SPAN_ID} AS root_span_id"
        )
        .selectExpr("trace_id", f"inline(array({stages}))")
        .selectExpr(
            "trace_id",
            "span_id",
            "parent_id",
            "name",
            f"{sql_str(SERVICE)} AS service",
            "remote_service",
            "ts",
            "duration_us",
            "kafka_topic",
        )
    )


def rewrite_remote_service(spans: DataFrame) -> DataFrame:
    """P3: span finish-hook rewrite (reference KafkaStreamsLogCorrelationApplication.java:20-32).

    Spans tagged with ``kafka.topic`` get ``remote_service → remote_service/topic``
    so the dependency graph disambiguates per-topic edges.
    """
    return spans.withColumn(
        "remote_service",
        F.expr(
            "CASE WHEN kafka_topic IS NOT NULL AND remote_service IS NOT NULL "
            "THEN concat_ws('/', remote_service, kafka_topic) ELSE remote_service END"
        ),
    )


def _log_row(logger: str, message: str, traced: bool, span: str = "span_id") -> str:
    if traced:
        trace, exportable, baggage = "trace_id", "true", "baggage"
    else:
        trace, span = "cast(NULL as string)", "cast(NULL as string)"
        exportable, baggage = "cast(NULL as boolean)", "cast(NULL as map<string,string>)"
    return (
        f"struct({trace} AS trace_id, {span} AS span_id, {exportable} AS exportable, "
        f"{sql_str(logger)} AS logger, "
        f"concat({sql_str(message)}, cast(value as string)) AS message, {baggage} AS baggage)"
    )


def logs_from_records(records: DataFrame) -> DataFrame:
    """T3/T4: the correlated log plane as a DataFrame.

    Two rows per record: a traced `set`-stage row (trace ids + baggage —
    reference StreamsConfig.java:36) and, for odd records, an UNtraced
    `peek` row with NULL trace columns (the reference's negative example,
    README.adoc:112-119, ``INFO [app,,,]``).  Even records instead get a
    traced `even`-stage row (reference StreamsConfig.java:42-45).
    """
    set_row = _log_row("logflow.topology.set", "Processing: ", traced=True)
    even_row = _log_row(
        "logflow.topology.even", "Handling even number: ", traced=True, span=stage_span_sql("even")
    )
    odd_row = _log_row("logflow.topology.odd", "Handling odd number: ", traced=False)
    rows = f"array({set_row}, CASE WHEN {IS_EVEN} THEN {even_row} ELSE {odd_row} END)"
    return (
        enrich_trace(records)
        .selectExpr("ts", f"inline({rows})")
        .selectExpr(
            "ts",
            "'INFO' AS level",
            f"{sql_str(SERVICE)} AS app",
            "trace_id",
            "span_id",
            "exportable",
            "logger",
            "message",
            "baggage",
        )
    )
