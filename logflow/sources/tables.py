"""Parquet table source (batch analog of the Kafka topic scan, SURVEY §2 S1).

Reads are plain ``spark.read.parquet`` so Catalyst gets the native parquet
scan: column pruning + predicate pushdown reach the file footer
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

Schema reuse: ``spark.read.parquet(path)`` without a schema launches a
Spark job that reads the footers to infer one (0.12–0.14 s per call on a
4-core host, against ~0.02 s with a supplied schema), and every query
loads its tables again.  ``load_table`` therefore infers each table's
``StructType`` once and keeps it in ``_SCHEMAS`` under the absolute
path, together with the file's identity: ``st_mtime_ns`` and ``st_size``
for a file; for a directory table, the sorted listing of its
``.parquet`` parts with each part's ``st_mtime_ns`` and ``st_size``.  A
cached schema is used only while the identity still matches, so a file
rewritten in place (or a directory whose parts change) is inferred
again and no stale schema is served; the new schema replaces the old
entry, so the cache holds one entry per path.  Later calls read with
``spark.read.schema(cached).parquet(path)``, which plans the same scan
without the footer job.  The cached value is a plain Python
``StructType``, so it stays valid across sessions and JVM restarts, and
serves a vanilla session as well as ``logflow.session.get_spark``'s.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logflow.model import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: columns that were stored as TIMESTAMP(NANOS) in round-1 testdata; read
#: as long (spark.sql.legacy.parquet.nanosAsLong) and truncated to µs here —
#: integer `div 1000`, the same conversion DuckDB applies (verified).
#: Round-2 testdata regenerated events.ts as TIMESTAMP(MICROS, ntz), which
#: Spark reads natively as timestamp_ntz — the LongType branch below is
#: then a no-op, so both layouts stay readable.
_NANO_TS_COLS = {"events": ["ts"]}

#: absolute path -> (file identity, inferred schema); see module doc
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def load_table(
    spark: SparkSession, name: str, sf_dir: str | None = None, parallelize: bool = True
) -> DataFrame:
    """Load one driver-provided table (TESTDATA.md) as a DataFrame.

    ``parallelize``: the testdata files are single-row-group parquet, so the
    scan yields ONE input split no matter how many cores exist — every
    downstream map-side stage (md5 storms, fold expressions, BNL joins)
    would run on one task.  When the scan's natural split count is below
    the session's default parallelism we add a round-robin repartition;
    filters/pruning still reach the scan (Catalyst pushes predicates
    through Repartition), and on a real multi-file 100 TB table the scan
    already has more splits than cores, making this a no-op.
    """
    # The driver may hand us a vanilla SparkSession (no logflow.session
    # factory): make the TIMESTAMP(NANOS) parquet readable regardless.
    # nanosAsLong is a runtime-settable SQLConf, so this is safe per-read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    key, ident = os.path.abspath(path), _file_identity(path)
    cached = _SCHEMAS.get(key)
    if ident is not None and cached is not None and cached[0] == ident:
        schema = cached[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        # inferred under nanosAsLong=true (set above), so the cached schema
        # is exactly what inference returns on every later call
        df = spark.read.parquet(path)
        schema = df.schema
        if ident is not None:
            _SCHEMAS[key] = (ident, schema)
    for col in _NANO_TS_COLS.get(name, []):
        if isinstance(schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if parallelize:
        target = spark.sparkContext.defaultParallelism
        if _scan_splits(spark, path) < max(target // 2, 1):
            df = df.repartition(target)
    return df


def _file_identity(path: str) -> tuple | None:
    """What the schema cache compares to tell a file's versions apart, or
    None (no caching) for a path that cannot be listed, e.g. a remote URI."""
    try:
        if os.path.isdir(path):
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            stats = [os.stat(os.path.join(path, f)) for f in parts]
            return tuple((f, s.st_mtime_ns, s.st_size) for f, s in zip(parts, stats))
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _scan_splits(spark: SparkSession, path: str) -> int:
    """Estimate the parquet scan's input-split count from file sizes —
    the same ceil(bytes / maxPartitionBytes) FilePartition planning uses —
    instead of df.rdd.getNumPartitions(), which forces a full
    DataFrame→RDD plan conversion per table load. Non-local paths fall
    back to 'many splits' (no rebalance), which is the truth on any real
    multi-file 100 TB table."""
    try:
        if os.path.isfile(path):
            sizes = [os.path.getsize(path)]
        elif os.path.isdir(path):
            sizes = [
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            return 1 << 30
    except OSError:
        return 1 << 30
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    try:
        if raw[-1] == "b" and raw[-2:-1] in units:  # "128mb"
            max_bytes = int(raw[:-2]) * units[raw[-2]]
        elif raw[-1] in units:  # "128m"
            max_bytes = int(raw[:-1]) * units[raw[-1]]
        else:  # "134217728" or "134217728b"
            max_bytes = int(raw.rstrip("b"))
    except (ValueError, IndexError):
        max_bytes = 128 << 20
    return sum(max(1, -(-s // max_bytes)) for s in sizes)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
