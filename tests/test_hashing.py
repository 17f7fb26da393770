"""logflow/functions/hashing.py and the trace-id fragments: Spark, DuckDB
and Python's hashlib agree on every md5-derived value, NULL keys give NULL
in both engines, and no module spells the hex-prefix idiom by hand."""

from __future__ import annotations

import glob
import hashlib
import os
import re

import duckdb
import pytest

from logflow.functions.hashing import md5_int
from logflow.functions.trace import child_span_id_sql, span_id_sql, trace_id_sql
from tests.conftest import REPO

#: (key SQL, the string both engines hash)
KEYS = [
    ("'arm:' || cast(42 as string)", "arm:42"),
    ("'héllo wörld ✓ 日本'", "héllo wörld ✓ 日本"),
    ("''", ""),
    ("'big:' || cast(9223372036854775807 as string)", "big:9223372036854775807"),
    ("concat_ws('|', cast(-7 as string), 'x')", "-7|x"),
]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _rows(spark, spark_exprs: list[str], duck_exprs: list[str]) -> tuple[list, list]:
    """The Spark expressions' row and the DuckDB expressions' row."""
    return (
        list(spark.sql("SELECT " + ", ".join(spark_exprs)).first()),
        list(duckdb.sql("SELECT " + ", ".join(duck_exprs)).fetchone()),
    )


def test_md5_int_agrees_with_hashlib_in_both_engines(spark):
    cases = [(key, s, n) for key, s in KEYS for n in (2, 4, 8)]
    got_spark, got_duck = _rows(
        spark,
        [md5_int(k, digits=n) for k, _, n in cases],
        [md5_int(k, digits=n, duck=True) for k, _, n in cases],
    )
    assert got_spark == got_duck == [int(_md5(s)[:n], 16) for _, s, n in cases]


def test_trace_fragments_agree_with_hashlib_in_both_engines(spark):
    tid = trace_id_sql("7")
    exprs = [tid, span_id_sql("7"), child_span_id_sql(tid, "set", "3")]
    want = [_md5("trace:7"), _md5("span:7")[:16], _md5(f"{_md5('trace:7')}:set:3")[:16]]
    got_spark, got_duck = _rows(spark, exprs, exprs)
    assert got_spark == got_duck == want


def test_null_keys_hash_to_null_in_both_engines(spark):
    null = "cast(NULL as string)"
    keys = [null, f"'arm:' || {null}"]
    got_spark, got_duck = _rows(
        spark,
        [*(md5_int(k) for k in keys), trace_id_sql(null)],
        [*(md5_int(k, duck=True) for k in keys), trace_id_sql(null)],
    )
    assert got_spark == got_duck == [None, None, None]


#: a hand-written md5 hex prefix -> int: '0x' joined to a substr of md5
#: (DuckDB), or conv( around a substr/substring of md5( (Spark)
_HAND_HEX = [
    re.compile(r"'0x'\s*(?:,|\|\|)\s*substr(?:ing)?\(\s*md5\("),
    re.compile(r"conv\(\s*(?:F\.)?substr(?:ing)?\(\s*(?:F\.)?md5\("),
]


def test_no_hand_written_hex_prefix_idiom_outside_hashing():
    hits = []
    for path in glob.glob(os.path.join(REPO, "logflow", "**", "*.py"), recursive=True):
        if path.endswith(os.path.join("functions", "hashing.py")):
            continue
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for rx in _HAND_HEX:
            hits += [
                f"{os.path.relpath(path, REPO)}:{text.count(chr(10), 0, m.start()) + 1}"
                for m in rx.finditer(text)
            ]
    assert not hits, f"write these through logflow.functions.hashing.md5_int: {hits}"


@pytest.mark.parametrize(
    "snippet, hand",
    [
        ("CAST(concat('0x', substr(md5(concat('a:', k)), 1, 8)) AS BIGINT)", True),
        ("CASE WHEN CAST(concat('0x',\n    substr(md5(k), 1, 8)) AS BIGINT)", True),
        ("CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT", True),
        ('F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)', True),
        ("CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)", True),
        # a byte decode of a hex string, not of an md5
        ("i -> CAST(concat('0x', substr(h, 2*i - 1, 2)) AS INTEGER)", False),
        ("F.conv(F.hex(value), 16, 10)", False),
    ],
)
def test_guard_pattern(snippet, hand):
    assert any(rx.search(snippet) for rx in _HAND_HEX) is hand
