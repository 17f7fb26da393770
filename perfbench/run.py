#!/usr/bin/env python3
"""logflow benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload trace_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads:

* ``trace_batch``     — the trace-query mix (see perfbench/batch.py);
* ``stream_topology`` — the reference topology as Structured Streaming
  (see perfbench/stream.py).

Lines before the last are a readable report: the pinned environment,
every metric by name with its unit, and each failed operation by name.
The last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Everything the run writes
stays under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("trace_batch", "stream_topology")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "work_s": "s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = (
    "session.get_spark_s",
    "queries.build_s",
    "queries.exec_s",
    "queries.build_jobs",
    "queries.exec_jobs",
    "sources.load_table_calls",
    "sources.load_table_jobs",
    "operators.cache.released",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_p50_ms",
    "spark.core_busy_ratio",
    "spark.executor_cpu_s",
    "spark.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
    "spark.unattributed_jobs",
    "streaming.batches",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.processed_rows_per_s",
    "jvm.heap_after_gc_peak_mb",
    "trace.overhead_ratio",
)


def pin_environment() -> dict:
    """Fix the run environment before pyspark is imported; return it."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    heap_mb = max(1024, min(2048, mem_mb // 4))
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.pop("LOGFLOW_MASTER", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "LOGFLOW_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "LOGFLOW_WAREHOUSE": dirs["warehouse"],
            "TMPDIR": dirs["tmp"],
            # The launcher JVM that spark-submit starts first writes nothing
            # outside the checkout either.
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    return {"cpus": cpus, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb, "tmpdir": dirs["tmp"]}


def git_sha() -> str:
    """HEAD of the checkout, read from .git without running git."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown (not a git checkout)"


class Session:
    """Owns the benchmark's SparkSession and the Spark JVM behind it."""

    def __init__(self, cpus: int, tmpdir: str, heap_mb: int) -> None:
        self.cpus = cpus
        self.spark = None
        self.last_start_s = 0.0
        self.gc_log = os.path.join(tmpdir, f"gc-{os.getpid()}.log")
        self._conf = {
            # Keep the JVM's scratch files inside the checkout, and start
            # the heap at its final size: with a growing heap, resident
            # memory varied 10–26 % between runs with when the collector
            # chose to grow it.  A fixed heap makes peak_rss_mb mostly the
            # heap size, so the GC log gives the heap the program keeps
            # (jvm.heap_after_gc_peak_mb).
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmpdir} -XX:-UsePerfData -Xms{heap_mb}m -Xlog:gc:file={self.gc_log}"
            ),
        }

    def start(self):
        """Start the session, timing ``get_spark``.  Nothing has imported
        logflow or launched a JVM before this call, so it is a cold start,
        as a user's first session is."""
        from logflow.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="logflow-perfbench", extra_conf=self._conf)
        self.last_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logflow", "session.py")):
        print(f"perfbench: no logflow package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    env = pin_environment()
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import datagen
    from perfbench.probe import heap_after_gc_peak_mb, peak_rss_mb, spark_jvm_pid

    env.update(
        {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "git_sha": git_sha(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }
    )
    sf_dir = datagen.ensure_tables(WORK)
    session = Session(env["cpus"], env["tmpdir"], env["driver_heap_mb"])
    try:
        if args.workload == "trace_batch":
            from perfbench import batch

            out = batch.run(session, args.seed, args.seconds, bool(args.trace), sf_dir)
        else:
            from perfbench import stream

            out = stream.run(session, args.seed, args.seconds, bool(args.trace), WORK)
        env["spark_master"] = session.spark.sparkContext.master
        env["java"] = session.spark.sparkContext._jvm.System.getProperty("java.version")
        py_mb, jvm_mb = peak_rss_mb(spark_jvm_pid())
        out["e2e"]["peak_rss_mb"] = py_mb + jvm_mb
        out["report"]["peak_rss_python_mb"] = (py_mb, "MiB")
        out["report"]["peak_rss_jvm_mb"] = (jvm_mb, "MiB")
        heap = (heap_after_gc_peak_mb(session.gc_log), "MiB")
        out["report"]["jvm.heap_after_gc_peak_mb"] = heap
        if args.trace:
            out["layers"]["jvm.heap_after_gc_peak_mb"] = heap
    finally:
        session.stop()
        if os.path.exists(session.gc_log):
            os.remove(session.gc_log)

    failed = len(out["failures"])
    attempted = max(out["attempted"], 1)
    print("env " + json.dumps(env, sort_keys=True))
    for name, unit in END_TO_END.items():
        print(f"e2e {name} = {out['e2e'][name]:.6g} {unit}")
    for name, (value, unit) in out["report"].items():
        print(f"e2e {name} = {value} {unit}")
    print(f"e2e failed_ratio = {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    for f in out["failures"]:
        print(f"FAILED {f}")
    for name, (value, unit) in out["layers"].items():
        print(f"layer {name} = {value:.6g} {unit}")
    for line in out.get("profile", []):
        print(f"query {line}")
    print(f"output check: {'PASS' if failed == 0 else 'FAIL'}")

    if args.trace:
        metrics = {k: {"value": float(out["layers"][k][0]), "unit": out["layers"][k][1]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(out["e2e"][k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
