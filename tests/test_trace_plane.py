"""Reference-contract tests: golden scenarios + oracle parity for the trace plane.

The three golden scenarios mirror the reference's end-to-end tests
(StreamsConfigTest.java:51-67, 69-88, 96-116): routing (values 1,2,3 →
even yields exactly 2), trace propagation (same traceId, NEW spanId), and
baggage propagation (messageid_8 survives to the sink headers).
"""

from __future__ import annotations

import gc
import hashlib
import threading

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from logflow.functions import headers as H
from logflow.functions import trace as T
from logflow.functions.headers import header_value_str_sql
from logflow.model import RECORD_SCHEMA
from logflow.operators.branch import branch
from logflow.operators.topology import enrich_trace, route_even_odd, spans_from_records
from logflow.sources.records import numbers_fixture

TRACE = "abcd" * 8


def _route(spark, values):
    recs = numbers_fixture(spark, values, trace_id=TRACE)
    return route_even_odd(enrich_trace(recs))


def test_even_branch_yields_exactly_2(spark):
    even, odd = _route(spark, [1, 2, 3])
    assert [r.value for r in even.collect()] == [2]
    assert sorted(r.value for r in odd.collect()) == [1, 3]


def test_odd_branch_yields_exactly_5(spark):
    even, odd = _route(spark, [4, 5, 6])
    assert [r.value for r in odd.collect()] == [5]


def test_b3_header_same_trace_new_span(spark):
    # StreamsConfigTest.java:64-66: b3 startsWith(traceId), spanId changed.
    even, _ = _route(spark, [1, 2, 3])
    row = even.select(
        F.expr(header_value_str_sql("headers", "b3")).alias("b3"),
        "trace_id",
        "span_id",
        "parent_span_id",
    ).collect()[0]
    assert row.b3.startswith(TRACE + "-")
    assert row.trace_id == TRACE
    assert row.span_id != row.parent_span_id
    assert row.b3 == f"{TRACE}-{row.span_id}-1"
    orig_span = f"{2:016x}"
    assert orig_span not in row.b3.split("-")[1]


def test_baggage_messageid_survives_to_sink(spark):
    # StreamsConfigTest.java:111: lastHeader("messageid") == "messageid_8".
    even, _ = _route(spark, [8])
    row = even.select(
        F.expr(header_value_str_sql("headers", "messageid")).alias("mid"),
        F.col("baggage")["messageid"].alias("bag"),
    ).collect()[0]
    assert row.mid == "messageid_8"
    assert row.bag == "messageid_8"


def test_branch_law_union_and_disjoint(spark):
    recs = numbers_fixture(spark, list(range(20)), trace_id=TRACE)
    even, odd, default = branch(
        recs,
        F.pmod(F.col("value"), F.lit(2)) == 0,
        F.pmod(F.col("value"), F.lit(2)) == 1,
    )
    assert default.count() == 0
    assert even.count() + odd.count() == recs.count()
    assert even.intersect(odd).count() == 0
    assert even.unionByName(odd).exceptAll(recs).count() == 0


def test_branch_first_match_wins(spark):
    recs = numbers_fixture(spark, [0, 1, 2, 3, 4, 5], trace_id=TRACE)
    small, even, rest = branch(recs, F.col("value") < 3, F.pmod(F.col("value"), 2) == 0)
    assert sorted(r.value for r in small.collect()) == [0, 1, 2]
    assert sorted(r.value for r in even.collect()) == [4]  # 0,2 already taken
    assert sorted(r.value for r in rest.collect()) == [3, 5]


def test_span_chain_parents(spark):
    recs = numbers_fixture(spark, [7], trace_id=TRACE)
    spans = {r.name: r for r in spans_from_records(recs).collect()}
    assert set(spans) == {"consume", "set", "send"}
    assert spans["set"].parent_id == spans["consume"].span_id
    assert spans["send"].parent_id == spans["set"].span_id
    assert spans["consume"].parent_id == f"{7:016x}"
    assert len({s.span_id for s in spans.values()}) == 3
    assert {s.trace_id for s in spans.values()} == {TRACE}


TRACE_QUERIES = [
    "trace_route_even",
    "trace_route_odd",
    "trace_branch_law",
    "trace_search",
    "trace_tree_edges",
    "trace_summary",
    "trace_dependency_graph",
    "trace_log_summary",
    "trace_baggage_propagation",
    "source_custom_wirelog",
    "branch_multiway_value_bands",
]


@pytest.mark.parametrize("name", TRACE_QUERIES)
def test_oracle_parity(spark, duck, sf_dir, name, tmp_path, monkeypatch):
    import tempfile

    from tests.oracle import check_query

    # A fresh derived-cache root: source_custom_wirelog then builds its
    # frame files through the wirelog sink on every run instead of reading
    # a /tmp copy left by an earlier build.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    check_query(spark, duck, name, sf_dir)


def test_baggage_propagation_is_complete(spark, sf_dir):
    # n_propagated == n_even proves the header plumbing end-to-end.
    from logflow.queries import load_all

    row = load_all()["trace_baggage_propagation"].fn(spark, sf_dir).collect()[0]
    assert row.n_propagated == row.n_even > 0


def test_wire_frame_bytes_matches_python_reference_framing(spark):
    """The JVM-side frame assembly (wire_frame_bytes) must be byte-identical
    to the pure-Python _write_frame reference codec — including empty
    headers, empty values, and multi-header frames."""
    import io

    from logflow.sources.wirelog import _write_frame, wire_frame_bytes

    rows = [
        (b"k1", b"\x00\x00\x00\x2a", [("b3", b"abc-def-1"), ("baggage", b"m=1")]),
        (b"", b"", []),
        (b"key-long" * 10, b"\xff\xfe\xfd\xfc", [("h", b"")]),
        (b"k4", b"\x01\x02\x03\x04", None),
    ]
    df = spark.createDataFrame(
        rows, "key binary, value binary, headers array<struct<key:string,value:binary>>"
    )
    got = [bytes(r.frame) for r in df.select(wire_frame_bytes().alias("frame")).collect()]
    want = []
    for key, value, headers in rows:
        buf = io.BytesIO()
        _write_frame(buf, key, value, headers or [])
        want.append(buf.getvalue())
    assert got == want


# --- plan-build cost: Py4J round trips -------------------------------------

#: Round trips to build each query (q.fn only, warm schema cache, measured
#: as below) before the trace helpers emitted SQL text; the budget is 40 %
#: of these.
PARENT_ROUND_TRIPS = {"trace_tree_edges": 773, "trace_route_even": 536}


@pytest.mark.parametrize("name", sorted(PARENT_ROUND_TRIPS))
def test_build_round_trip_budget(spark, sf_dir, monkeypatch, name):
    from logflow.operators.cache import release_all
    from logflow.queries import load_all

    fn = load_all()[name].fn
    fn(spark, sf_dir)  # warm: load_table's schema cache, lazy imports
    release_all()
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []
    builder = threading.current_thread()

    def counting(command, *args, **kwargs):
        # only the build's own calls: other threads (a finished stream's
        # callback thread freeing its Java objects) share the client
        if threading.current_thread() is builder:
            sent.append(command.split("\n", 1)[0])
        return real(command, *args, **kwargs)

    gc.collect()
    gc.disable()  # no finalizer traffic from earlier garbage in the window
    try:
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            fn(spark, sf_dir)
    finally:
        gc.enable()
        release_all()
    assert 0 < len(sent) <= 0.4 * PARENT_ROUND_TRIPS[name], (len(sent), name)


# --- fragment equivalence: SQL-text helpers vs the Column-DSL spec ----------
# The pre-change Column-DSL helpers, kept verbatim as the specification.


def _spec_trace_id_for(seed: Column) -> Column:
    return F.md5(F.concat(F.lit("trace:"), seed.cast("string")))


def _spec_span_id_for(seed: Column) -> Column:
    return F.substring(F.md5(F.concat(F.lit("span:"), seed.cast("string"))), 1, T.SPAN_ID_HEX)


def _spec_child_span_id(trace_id: Column, stage: str, offset: Column) -> Column:
    return F.substring(
        F.md5(F.concat_ws(":", trace_id, F.lit(stage), offset.cast("string"))), 1, T.SPAN_ID_HEX
    )


def _spec_b3_single_header(trace_id: Column, span_id: Column, sampled: Column | bool = True) -> Column:
    flag = (
        F.when(sampled, F.lit("1")).otherwise(F.lit("0"))
        if isinstance(sampled, Column)
        else F.lit("1" if sampled else "0")
    )
    return F.concat_ws("-", trace_id, span_id, flag)


def _spec_parse_b3(b3: Column) -> Column:
    parts = F.split(b3, "-")
    return F.struct(
        F.element_at(parts, 1).alias("trace_id"),
        F.element_at(parts, 2).alias("span_id"),
        F.lit(None).cast("string").alias("parent_span_id"),
        (F.element_at(parts, 3) == F.lit("1")).alias("sampled"),
    )


def _spec_last_header(headers: Column, name: str) -> Column:
    matches = F.filter(headers, lambda h: h["key"] == F.lit(name))
    return F.element_at(matches, -1)["value"]


def _spec_header_value_str(headers: Column, name: str) -> Column:
    return _spec_last_header(headers, name).cast("string")


def _spec_put_header(headers: Column, name: str, value: Column) -> Column:
    entry = F.struct(F.lit(name).alias("key"), F.encode(value, "utf-8").alias("value"))
    return F.when(headers.isNull(), F.array(entry)).otherwise(F.concat(headers, F.array(entry)))


def _spec_enrich_trace(records, stage: str = "set"):
    ctx = _spec_parse_b3(_spec_header_value_str(F.col("headers"), "b3"))
    with_ctx = records.withColumns(
        {"trace_id": ctx["trace_id"], "parent_span_id": ctx["span_id"], "sampled": ctx["sampled"]}
    )
    new_span = _spec_child_span_id(F.col("trace_id"), stage, F.col("offset"))
    messageid = F.concat(F.lit("messageid_"), F.col("value").cast("string"))
    b3 = _spec_b3_single_header(F.col("trace_id"), F.col("span_id"))
    return (
        with_ctx.withColumn("span_id", new_span)
        .withColumn("baggage", F.create_map(F.lit("messageid"), messageid))
        .withColumn(
            "headers",
            _spec_put_header(_spec_put_header(F.col("headers"), "b3", b3), "messageid", messageid),
        )
    )


def _edge_records(spark):
    """Golden records plus a NULL-headers row and a duplicate-``b3`` row."""
    import datetime

    golden = numbers_fixture(spark, [1, 2, 3, 8], trace_id=TRACE)
    ts = datetime.datetime(2024, 1, 2)
    extra = spark.createDataFrame(
        [
            ("null-headers", 5, "numbers", 0, 10, ts, None),
            (
                "dup-b3",
                6,
                "numbers",
                0,
                11,
                ts,
                [("b3", b"aaaa-1111-0"), ("other", b"x"), ("b3", f"{TRACE}-0006-1".encode())],
            ),
        ],
        RECORD_SCHEMA,
    )
    return golden.unionByName(extra)


#: id -> () -> (rewritten helper, Column-DSL spec); Columns need a live session.
FRAGMENT_CASES = {
    "trace_id_for": lambda: (F.expr(T.trace_id_sql("`offset`")), _spec_trace_id_for(F.col("offset"))),
    "span_id_for": lambda: (F.expr(T.span_id_sql("value")), _spec_span_id_for(F.col("value"))),
    "child_span_id": lambda: (
        F.expr(T.child_span_id_sql("key", "set", "`offset`")),
        _spec_child_span_id(F.col("key"), "set", F.col("offset")),
    ),
    "b3_single_header": lambda: (
        F.expr(T.b3_single_header_sql("key", "cast(value as string)")),
        _spec_b3_single_header(F.col("key"), F.col("value").cast("string")),
    ),
    "b3_single_header(unsampled)": lambda: (
        F.expr(T.b3_single_header_sql("key", "key", False)),
        _spec_b3_single_header(F.col("key"), F.col("key"), False),
    ),
    "b3_single_header(expr)": lambda: (
        F.expr(T.b3_single_header_sql("key", "key", "value > 2")),
        _spec_b3_single_header(F.col("key"), F.col("key"), F.col("value") > 2),
    ),
    "parse_b3": lambda: (
        F.expr(T.parse_b3_sql(H.header_value_str_sql("headers", "b3"))),
        _spec_parse_b3(_spec_header_value_str(F.col("headers"), "b3")),
    ),
    "last_header": lambda: (
        F.expr(H.last_header_sql("headers", "b3")),
        _spec_last_header(F.col("headers"), "b3"),
    ),
    "header_value_str": lambda: (
        F.expr(H.header_value_str_sql("headers", "b3")),
        _spec_header_value_str(F.col("headers"), "b3"),
    ),
    "put_header": lambda: (
        F.expr(H.put_header_sql("headers", "b3", "cast(value as string)")),
        _spec_put_header(F.col("headers"), "b3", F.col("value").cast("string")),
    ),
}


@pytest.mark.parametrize("case", list(FRAGMENT_CASES))
def test_fragment_matches_column_dsl_spec(spark, case):
    got, want = FRAGMENT_CASES[case]()
    df = _edge_records(spark).select("offset", got.alias("got"), want.alias("want"))
    assert df.schema["got"].dataType == df.schema["want"].dataType
    rows = df.orderBy("offset").collect()
    assert len(rows) == 6
    for r in rows:
        assert r.got == r.want, r.offset


def test_enrich_trace_matches_column_dsl_spec(spark):
    recs = _edge_records(spark)
    got = enrich_trace(recs)
    want = _spec_enrich_trace(recs)
    # headers moved after the trace columns (it reads them); values do not
    assert sorted(got.columns) == sorted(want.columns)
    assert got.schema.fields[-1].name == "headers"
    got = got.select(want.columns)
    assert got.schema == want.schema
    assert got.orderBy("offset").collect() == want.orderBy("offset").collect()


def test_enrich_trace_twice_chains_spans(spark):
    """Re-enriching an enriched frame replaces its trace columns, as the
    chained withColumns did: the new span's parent is the first span."""
    recs = numbers_fixture(spark, [4], trace_id=TRACE)
    first = enrich_trace(recs).collect()[0]
    second = enrich_trace(enrich_trace(recs), "send")
    assert second.columns.count("span_id") == 1
    row = second.select(
        "trace_id", "parent_span_id", "span_id", F.expr(header_value_str_sql("headers", "b3")).alias("b3")
    ).collect()[0]
    assert row.trace_id == TRACE
    assert row.parent_span_id == first.span_id
    assert row.span_id == hashlib.md5(f"{TRACE}:send:0".encode()).hexdigest()[:16]
    assert row.b3 == f"{TRACE}-{row.span_id}-1"


# --- literal quoting ---------------------------------------------------------

QUOTED = ["it's", "a\\b", "'", "\\'", "o'neil\\x"]


@pytest.mark.parametrize("text", QUOTED)
def test_sql_str_round_trips(spark, text):
    assert spark.range(1).selectExpr(f"{T.sql_str(text)} AS v").first().v == text


def test_quoted_stage_and_header_names(spark):
    recs = numbers_fixture(spark, [3], trace_id=TRACE)
    stage, name, prefix = "it's", "o'neil\\x", "o'neil"
    headers = H.put_header_sql(H.put_header_sql("headers", name, "'v1'"), prefix, "'v2'")
    row = recs.select(
        F.expr(T.child_span_id_sql("key", stage, "`offset`")).alias("span"),
        F.expr(H.header_value_str_sql(headers, name)).alias("v1"),
        F.expr(H.header_value_str_sql(headers, prefix)).alias("v2"),
        F.expr(f"transform({headers}, h -> h.key)").alias("keys"),
    ).collect()[0]
    assert row.span == hashlib.md5(f"test-key:{stage}:0".encode()).hexdigest()[:16]
    assert (row.v1, row.v2) == ("v1", "v2")
    assert row.keys == ["b3", name, prefix]


# --- absent headers read as NULL (Kafka lastHeader returns null) ------------


def _header_cases(spark):
    """One record per way a header can be absent: other keys only, an
    empty array, NULL headers."""
    import datetime

    ts = datetime.datetime(2024, 1, 3)
    rows = [
        ("other-keys", 1, "numbers", 0, 0, ts, [("messageid", b"m"), ("other", b"x")]),
        ("empty", 2, "numbers", 0, 1, ts, []),
        ("null", 3, "numbers", 0, 2, ts, None),
    ]
    return spark.createDataFrame(rows, RECORD_SCHEMA)


def test_absent_header_reads_null(spark):
    rows = _header_cases(spark).select(
        "key",
        F.expr(H.last_header_sql("headers", "b3")).alias("raw"),
        F.expr(H.header_value_str_sql("headers", "b3")).alias("b3"),
    ).collect()
    assert {r.key: (r.raw, r.b3) for r in rows} == {
        "other-keys": (None, None),
        "empty": (None, None),
        "null": (None, None),
    }


def test_enrich_trace_without_b3_gives_null_trace_id(spark):
    rows = enrich_trace(_header_cases(spark)).select(
        "key", "trace_id", "parent_span_id", "span_id", "headers"
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.trace_id is None and r.parent_span_id is None, r.key
        assert r.span_id is not None
        # the outgoing b3 still carries the stage's new span
        assert dict((h.key, bytes(h.value)) for h in r.headers)["b3"] == f"{r.span_id}-1".encode()


# --- malformed b3 headers read NULL fields, never raise under ANSI ------------

B3_CASES = [
    # header -> (trace_id, span_id, parent_span_id, sampled)
    ("abc", (None, None, None, None)),
    ("", (None, None, None, None)),
    ("1", (None, None, None, None)),  # sampling-only header: no context
    (f"{TRACE}-0006", (TRACE, "0006", None, None)),
    (f"{TRACE}-0006-1", (TRACE, "0006", None, True)),
    (f"{TRACE}-0006-0-0005", (TRACE, "0006", None, False)),
    (None, (None, None, None, None)),
]


def test_parse_b3_of_malformed_headers(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(B3_CASES)], "i int, b3 string")
    rows = df.select("i", F.expr(T.parse_b3_sql("b3")).alias("ctx")).orderBy("i").collect()
    assert [tuple(r.ctx) for r in rows] == [want for _, want in B3_CASES]


def test_enrich_trace_with_malformed_b3(spark):
    import datetime

    ts = datetime.datetime(2024, 1, 4)
    recs = spark.createDataFrame(
        [
            ("garbage", 1, "numbers", 0, 0, ts, [("b3", b"abc")]),
            ("two-part", 2, "numbers", 0, 1, ts, [("b3", f"{TRACE}-0006".encode())]),
        ],
        RECORD_SCHEMA,
    )
    rows = {r.key: r for r in enrich_trace(recs).collect()}
    garbage, two = rows["garbage"], rows["two-part"]
    assert (garbage.trace_id, garbage.parent_span_id, garbage.sampled) == (None, None, None)
    assert (two.trace_id, two.parent_span_id, two.sampled) == (TRACE, "0006", None)
    for r in (garbage, two):
        assert r.span_id is not None
        b3 = dict((h.key, bytes(h.value)) for h in r.headers)["b3"]
        assert b3 == "-".join(x for x in (r.trace_id, r.span_id, "1") if x).encode()
