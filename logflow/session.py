"""SparkSession factory tuned for the logflow engine.

Defaults target correctness + determinism on local[N] while keeping every
knob that matters at cluster scale explicit: AQE for runtime re-planning
(skew joins, partition coalescing), a bounded shuffle-partition count,
Arrow for any pandas exchange, and UTC so timestamp semantics match the
DuckDB oracle byte-for-byte.

Python call-site capture is off (``spark.python.sql.dataFrameDebugging
.enabled=false``).  PySpark 4 wraps every Column/DataFrame API call to
record its Python file:line for the "DataFrame query context" of error
messages; with it on, each call pays about five Py4J round trips
(``getActiveSession``, a ``conf.get``, ``PySparkCurrentOrigin.set`` and
``clear``) plus a Python stack walk.  Plan construction makes hundreds
of such calls per query (a probe counted 2,065 Py4J calls while building
``trace_tree_edges`` with capture on, 775 with it off), a large share of
the build time of sub-second queries.  Errors still raise with the same
classes and error conditions; only the Python call-site context is
dropped.  PySpark reads the setting once per process, at the first API
call under an active session, so to debug with call sites pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to the first ``get_spark`` of the process.

File listing stays on the driver under a local master.  Spark lists the
paths of a file source (``InMemoryFileIndex``) with a distributed job,
titled "Listing leaf files and directories for N paths", one task per
path, whenever a listing holds more paths than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default 32).
A streaming file source re-lists every micro-batch's files, so a
micro-batch over 40 files launched a 40-task job (10 waves on
``local[4]``) before it read a record; a batch read of a table with more
than 32 partition directories pays the same.  Under ``local`` or
``local[...]`` those tasks run in the driver JVM anyway, so the job adds
only scheduling, a broadcast of the Hadoop configuration and result
collection: measured on a 4-vCPU host, each query of the streaming
drain spent 350–560 ms of ``getBatch`` in it against 16–28 ms listing on
the driver.  :func:`listing_threshold` raises the threshold above any
path count for local masters; any other master (a cluster, where
parallel listing over remote storage can pay) keeps Spark's default.
Results do not depend on it, and no query path relies on it: a plain
SparkSession lists with Spark's default and returns the same rows.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Shuffle partitions sized for local[32] on ~sf0.1; on a real cluster this
#: is overridden (or left to AQE's coalescing, which is enabled below).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"

#: Masters whose tasks all run in the driver JVM (not ``local-cluster``).
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def listing_threshold(master: str) -> int | None:
    """Path count above which Spark lists files with a distributed job,
    or None to keep Spark's default (see module doc).

    A local master lists on the driver whatever the path count: the
    threshold is the largest value the int conf takes.
    """
    return 2**31 - 1 if _LOCAL_MASTER.fullmatch(master) else None


def get_spark(
    app_name: str = "logflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Scale notes: everything here survives a 1000-executor cluster —
    AQE handles skew/coalesce at runtime, broadcast threshold stays at the
    Spark default so dimension tables broadcast, and nothing pins
    local-only behavior except the master URL (injectable) and what
    follows from it: driver-side file listing under a local master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("LOGFLOW_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs everything in the driver JVM; the 1g default heap
        # GC-thrashes under 32 concurrent tasks (only applies at JVM
        # launch — a no-op if a session already exists).
        .config("spark.driver.memory", os.environ.get("LOGFLOW_DRIVER_MEM", "16g"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime join-strategy switch, skew-join splitting, partition
        # coalescing — the knobs that keep plans healthy at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas interchange (driver collect + pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics (matches DuckDB naive-UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as long and convert in
        # the table source (logflow.sources.tables truncates ns → µs,
        # matching DuckDB's conversion exactly).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # No per-API-call Python call-site capture (see module doc).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Static conf, default 100: with ~50 registered queries × several
        # codegen'd stages each, the generated-class cache thrashes and
        # every query pays Janino recompilation on each run (measured: up
        # to 30× first-run slowdowns at bench time).  One class is small;
        # 10k entries is still trivial memory.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Managed tables (bucketed-join ingest path) land outside the repo;
        # in-memory catalog, so the warehouse is just a directory of files.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("LOGFLOW_WAREHOUSE", "/tmp/logflow-warehouse"),
        )
    )
    threshold = listing_threshold(master)
    if threshold is not None:
        builder = builder.config(LISTING_THRESHOLD_CONF, str(threshold))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
