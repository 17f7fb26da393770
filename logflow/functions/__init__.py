"""Column-level building blocks (all built-in Catalyst expressions).

Everything here compiles to JVM-side expressions inside whole-stage
codegen — no Python UDFs on the hot path (SURVEY.md §4.2).  The trace and
header helpers (``trace``, ``headers``) are SQL text fragments, ``*_sql``.
"""

from logflow.functions.codec import int_be_decode, int_be_encode

__all__ = [
    "int_be_decode",
    "int_be_encode",
]
