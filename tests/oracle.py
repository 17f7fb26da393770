"""Local replica of the driver's Spark-vs-DuckDB comparison.

Runs a registered query on Spark and its oracle SQL on DuckDB, requires
each column's dtype class (int, float, decimal, string, timestamp, bool)
to match, normalizes both results (columns sorted by name, rows sorted by
all columns, dtypes coerced), and compares values.  Catching a mismatch
here means catching it before the CORRECTNESS gate does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench.check import dtype_class


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif s.dtype == object:
            # Decimal / HUGEINT leakage would show up here — flag loudly.
            first = s.dropna().iloc[0] if s.notna().any() else None
            if first is not None and not isinstance(first, str):
                raise AssertionError(f"column {c!r} has non-string object dtype: {type(first)}")
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str = "") -> None:
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    # The gate hashes typed values: an int column never equals a float one,
    # however equal the numbers (the rule perfbench.check.compare applies).
    for c in sorted(spark_pdf.columns):
        got, want = dtype_class(spark_pdf[c]), dtype_class(duck_pdf[c])
        assert got == want or "null" in (got, want), f"{name}: column {c!r} dtype class {got} vs {want}"
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = np.isclose(av.fillna(np.nan), bv.fillna(np.nan), rtol=0, atol=0, equal_nan=True)
        else:
            ok = (av.isna() & bv.isna()) | (av == bv)
        if not ok.all():
            bad = int(np.argmax(~np.asarray(ok)))
            raise AssertionError(
                f"{name}: column {c!r} differs at sorted-row {bad}: "
                f"spark={av.iloc[bad]!r} duck={bv.iloc[bad]!r}"
            )


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table over ``sf_dir``'s
    parquet files — the tables every oracle SQL reads."""
    import duckdb

    from logflow.model import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(spark, duck, name: str, sf_dir: str) -> None:
    from logflow.queries import load_all

    q = load_all()[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    assert q.oracle, f"{name} has no oracle"
    duck_pdf = duck.execute(q.oracle).fetchdf()
    compare_frames(spark_pdf, duck_pdf, name)
