"""md5 of a key → uniform integer, as SQL text for Spark and for DuckDB.

Samples, experiment arms, buckets, sketch indexes and fingerprints are all
the first ``digits`` hex digits of ``md5(key)`` read as a BIGINT, so each
query's DuckDB oracle computes the identical value.  The key is ONE SQL
expression both engines parse alike (``'salt:' || cast(x as string)``,
``concat_ws``, ``substring``); only the hex → int step is dialect-specific.
Write the key with ``||`` rather than ``concat``: DuckDB's ``concat`` skips
NULLs, while ``||`` (and Spark's ``concat``) gives NULL in both engines.

Two conditions the code cannot check:

* keys hash as text, so every cast operand must be an integer or a
  string: those render identically in both engines (a double does not);
* 8 digits (32 bits) is the widest prefix whose exact int64 SUM survives
  about 2e9 rows; 15 overflows at once under ANSI.  Widen the accumulator
  to DECIMAL(38,0) before taking more.
"""

from __future__ import annotations


def md5_int(key_sql: str, *, digits: int = 8, duck: bool = False) -> str:
    """``md5(key_sql)``'s first ``digits`` hex digits as a BIGINT (NULL
    for a NULL key), in Spark SQL or, with ``duck``, DuckDB SQL."""
    prefix = f"substring(md5({key_sql}), 1, {digits})"
    if duck:
        return f"CAST('0x' || {prefix} AS BIGINT)"
    return f"CAST(conv({prefix}, 16, 10) AS BIGINT)"
