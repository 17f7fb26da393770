"""Output checks, run outside every timed region.

Batch queries are compared with their DuckDB oracle the way the
correctness gate hashes them: columns by name, rows as a multiset, values
exactly, and each column's dtype class (int, float, decimal, string,
timestamp, bool) must agree before any value is compared.
"""

from __future__ import annotations

import decimal
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd


def dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "timestamp"
    nonnull = s.dropna()
    if nonnull.empty:
        return "null"
    first = nonnull.iloc[0]
    if isinstance(first, str):
        return "string"
    if isinstance(first, decimal.Decimal):
        return "decimal"
    return type(first).__name__


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            # Lists, maps and structs compare by their text form.
            df[c] = s.map(lambda v: v if v is None or isinstance(v, (str, decimal.Decimal)) else repr(v))
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for c in sorted(got.columns):
        a, b = dtype_class(got[c]), dtype_class(want[c])
        if a != b and "null" not in (a, b):
            return f"column {c!r} dtype class {a} != oracle {b}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = np.isclose(av, bv, rtol=0, atol=0, equal_nan=True)
        else:
            ok = np.asarray((av.isna() & bv.isna()) | (av == bv))
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c!r} differs at sorted row {i}: {av.iloc[i]!r} != oracle {bv.iloc[i]!r}"
    return None


@dataclass
class Outcome:
    """Operations attempted and the ones that failed, by name and reason."""

    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def fail(self, what: str, why: BaseException | str) -> None:
        if isinstance(why, BaseException):
            first = (str(why).splitlines() or [""])[0][:200]
            why = f"{type(why).__name__}: {first}"
        self.failures.append(f"{what}: {why}")


class Oracle:
    """DuckDB views over the benchmark's tables; one connection per run."""

    def __init__(self, sf_dir: str, tables: list[str]) -> None:
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def run(self, sql: str) -> pd.DataFrame:
        return self._con.execute(sql).fetchdf()

    def close(self) -> None:
        self._con.close()
