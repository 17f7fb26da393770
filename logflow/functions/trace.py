"""Trace-context expressions: B3 header codec + deterministic span ids.

The reference propagates W3C/B3-style trace context via a single `b3`
header of the form ``"{traceId}-{spanId}-{sampled}"`` (reference:
StreamsConfigTest.java:92) and opens a fresh child span per instrumented
stage — same traceId, new spanId (asserted by StreamsConfigTest.java:64-66).

Brave generates span ids with an RNG; that is untestable and non-idempotent
under micro-batch replay, so this engine derives span ids DETERMINISTICALLY:
``md5(trace_id:stage:offset)`` truncated to 16 hex chars (SURVEY.md §4.2).
Determinism preserves the reference's observable contract ("same traceId,
new spanId per stage") while making every test reproducible and every
streaming retry idempotent. md5 is used (not sha2) because the DuckDB
oracle computes the identical value: the oracles splice the same id
fragments, which parse alike in both engines (``||`` gives NULL for a
NULL seed in both; ``concat_ws`` skips NULLs in both).

Why every helper emits ONE Spark SQL expression string: building a plan is
bound by Py4J, the Python-to-JVM bridge, not by the JVM. Each ``F.*`` call
is about three round trips (look up ``functions``, the method, call it).
Measured on a 4-vCPU host (pyspark 4.1, warm), the Column-DSL
``child_span_id`` took 32 round trips (8.9 ms) and
``parse_b3(header_value_str(...))`` 86 (19 ms), while the same expressions
sent as one ``F.expr`` take 3 round trips (1.5 ms); the JVM parses the
text in about a millisecond. So the ``*_sql`` functions compose SQL text:
arguments are SQL expressions (a plain column name is one) and literal
names go through :func:`sql_str`. Operators splice the fragments into
``selectExpr`` lists (logflow.operators.topology); a caller that wants a
Column takes ``F.expr(<fragment>)``.
"""

from __future__ import annotations

TRACE_ID_HEX = 32
SPAN_ID_HEX = 16


def sql_str(value: str) -> str:
    """Quote a Python string as a Spark SQL string literal.

    Backslash and single quote are backslash-escaped, which is how the
    default parser (``spark.sql.parser.escapedStringLiterals=false``)
    reads them back.
    """
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def trace_id_sql(seed: str) -> str:
    """128-bit (32 hex) deterministic trace id from a seed expression."""
    return f"md5('trace:' || cast({seed} as string))"


def span_id_sql(seed: str) -> str:
    """64-bit (16 hex) deterministic root span id from a seed expression."""
    return f"substring(md5('span:' || cast({seed} as string)), 1, {SPAN_ID_HEX})"


def child_span_id_sql(trace_id: str, stage: str, offset: str) -> str:
    """New child span id for an instrumented stage.

    Same trace_id + distinct stage name + record offset → unique, stable id
    per (record, stage); mirrors Brave's child-span-per-stage behavior
    (reference StreamsConfig.java:32-45) minus the RNG.
    """
    return (
        f"substring(md5(concat_ws(':', {trace_id}, {sql_str(stage)}, "
        f"cast({offset} as string))), 1, {SPAN_ID_HEX})"
    )


def b3_single_header_sql(trace_id: str, span_id: str, sampled: str | bool = True) -> str:
    """Encode the single-header B3 wire format ``{traceId}-{spanId}-{0|1}``.

    ``sampled`` is a boolean SQL expression or a Python constant.
    """
    flag = (
        f"CASE WHEN {sampled} THEN '1' ELSE '0' END"
        if isinstance(sampled, str)
        else ("'1'" if sampled else "'0'")
    )
    return f"concat_ws('-', {trace_id}, {span_id}, {flag})"


def b3_fields_sql(b3: str) -> dict[str, str]:
    """The fields of ``parse_b3_sql(b3)`` in order, each without the struct.

    A malformed header reads NULL fields instead of failing the batch:
    under ANSI ``element_at`` past the end of the array raises, so the
    parts are read with ``try_element_at``.  As in B3 single-header
    parsing, a header of one part (``'1'``, or garbage such as ``'abc'``)
    carries no trace context: NULL ``trace_id``, ``span_id`` and
    ``sampled``.  A two-part header has NULL ``sampled``.
    """
    parts = f"split({b3}, '-')"
    return {
        "trace_id": f"CASE WHEN size({parts}) > 1 THEN element_at({parts}, 1) END",
        "span_id": f"try_element_at({parts}, 2)",
        "parent_span_id": "cast(NULL as string)",
        "sampled": f"try_element_at({parts}, 3) = '1'",
    }


def parse_b3_sql(b3: str) -> str:
    """Decode a single-header B3 string into the trace-context struct.

    Returns struct(trace_id, span_id, parent_span_id=NULL, sampled).
    parent_span_id is NULL at decode time — the consumed span becomes the
    parent of the first locally created child span.
    """
    fields = ", ".join(f"{sql} AS {name}" for name, sql in b3_fields_sql(b3).items())
    return f"struct({fields})"
