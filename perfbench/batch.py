"""``trace_batch``: the paper's trace-query surface as a batch query mix.

``setup_s`` is the cold set-up, up to the first timed query: ``get_spark``
launching the JVM, the registry import, and a warm-up pass that runs
every query of the mix once and collects its result for the oracle
check.  The measured window then runs passes over the mix, in an
order drawn from the seed, and stops at the first query boundary after
``seconds`` once ``MIN_PASSES`` whole passes are complete.  Latency percentiles are taken
over the mix of each query's median wall time, and ``pass_s`` sums them.
Each query is ``q.fn(spark, sf)`` (build) followed by a noop write (exec)
and ``release_all``.

With tracing on, every query runs twice back to back, once plain and once
traced (the order alternates), and the window needs one whole pass.  The
per-layer numbers come from the traced runs and ``trace.overhead_ratio``
compares the two.
"""

from __future__ import annotations

import random
import time
import traceback
from dataclasses import dataclass, field

from perfbench.check import Oracle, Outcome, compare
from perfbench.probe import (
    LoadTableWrapper,
    SourceCalls,
    SparkCounters,
    StatusStore,
    StealGauge,
    median,
    percentile,
    spark_layers,
)

TRACE_MIX = [
    "trace_route_even",
    "trace_route_odd",
    "trace_search",
    "trace_summary",
    "trace_tree_edges",
    "trace_dependency_graph",
    "trace_log_summary",
    "trace_baggage_propagation",
    "trace_branch_law",
    "trace_hash_sampling",
    "source_custom_wirelog",
    "source_statestore_depgraph",
    "log_template_mining",
    "anomaly_hourly_error_spikes",
    "logscan_grep",
]
TABLES = ["events", "documents"]
MIN_PASSES = 2


@dataclass
class TracedOp:
    name: str
    wall_s: float
    build_s: float
    exec_s: float
    released: int
    build: SparkCounters
    exec: SparkCounters
    sources: SourceCalls


@dataclass
class BatchState(Outcome):
    walls: list[float] = field(default_factory=list)
    by_query: dict[str, list[float]] = field(default_factory=dict)
    passes: int = 0  # whole passes over the mix
    traced: list[TracedOp] = field(default_factory=list)
    paired_plain_s: float = 0.0
    paired_traced_s: float = 0.0


def _run_plain(spark, q, sf_dir: str, release_all) -> float:
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    release_all()
    spark.catalog.clearCache()
    return wall


def _run_traced(spark, q, sf_dir: str, release_all, store: StatusStore, wrapper: LoadTableWrapper) -> TracedOp:
    before = SourceCalls(**vars(wrapper.totals))
    with wrapper.installed():
        m0 = store.mark()
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t1 = time.perf_counter()
        m1 = store.mark()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        m2 = store.mark()
    released = release_all()
    spark.catalog.clearCache()
    after = wrapper.totals
    return TracedOp(
        name=q.name,
        wall_s=t2 - t0,
        build_s=t1 - t0,
        exec_s=t2 - t1,
        released=released,
        build=store.read(m0, m1),
        exec=store.read(m1, m2),
        sources=SourceCalls(
            calls=after.calls - before.calls,
            seconds=after.seconds - before.seconds,
            jobs=after.jobs - before.jobs,
        ),
    )


def run(session, seed: int, seconds: float, trace: bool, sf_dir: str) -> dict:
    st = BatchState()
    outputs: dict = {}
    t0 = time.perf_counter()
    spark = session.start()
    from logflow.operators.cache import release_all
    from logflow.queries import load_all

    registry = load_all()
    # The warm-up pass collects every result for the output check, which
    # compares them later, outside every timed region.
    for name in TRACE_MIX:
        st.attempted += 1
        try:
            outputs[name] = registry[name].fn(spark, sf_dir).toPandas()
        except Exception as exc:
            st.fail(f"{name} (warm-up pass)", exc)
            traceback.print_exc()
        release_all()
        spark.catalog.clearCache()
    setup_s = time.perf_counter() - t0

    store = StatusStore(spark) if trace else None
    wrapper = LoadTableWrapper(store) if trace else None
    rng = random.Random(seed)
    gauge = StealGauge()
    min_passes = 1 if trace else MIN_PASSES
    started = time.perf_counter()
    pass_no = 0
    done = False
    while not done:
        order = list(TRACE_MIX)
        rng.shuffle(order)
        complete = True
        for i, name in enumerate(order):
            # Stop at the deadline once enough whole passes are in (or two
            # more were tried): MIN_PASSES untraced, so every query has that
            # many samples; one traced, as each query runs twice in a pass.
            if time.perf_counter() - started >= seconds and (st.passes >= min_passes or pass_no >= min_passes + 2):
                complete, done = False, True
                break
            q = registry[name]
            st.attempted += 1
            try:
                if not trace:
                    plain = _run_plain(spark, q, sf_dir, release_all)
                else:
                    traced_first = (pass_no + i) % 2 == 0
                    if traced_first:
                        op = _run_traced(spark, q, sf_dir, release_all, store, wrapper)
                        plain = _run_plain(spark, q, sf_dir, release_all)
                    else:
                        plain = _run_plain(spark, q, sf_dir, release_all)
                        op = _run_traced(spark, q, sf_dir, release_all, store, wrapper)
                    st.traced.append(op)
                    st.paired_plain_s += plain
                    st.paired_traced_s += op.wall_s
                st.walls.append(plain)
                st.by_query.setdefault(name, []).append(plain)
            except Exception as exc:
                complete = False
                st.fail(name, exc)
                traceback.print_exc()
                release_all()
                spark.catalog.clearCache()
        if complete:
            st.passes += 1
        pass_no += 1
    window = gauge.stop()

    # Output check, outside every timed region.
    oracle = Oracle(sf_dir, TABLES)
    try:
        for name in TRACE_MIX:
            if name not in outputs:
                continue  # its failure is already recorded
            st.attempted += 1
            try:
                reason = compare(outputs[name], oracle.run(registry[name].oracle))
            except Exception as exc:
                st.fail(f"{name} (oracle check)", exc)
                continue
            if reason:
                st.fail(f"{name} (output mismatch)", reason)
    finally:
        oracle.close()

    # Percentiles over the mix, of each query's median wall time: every
    # query weighs the same, whichever ones the seed's order put into the
    # window's last, partial pass.
    per_query = [median(v) for v in st.by_query.values()]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": median(per_query),
        # One pass over the mix: steadier than the one or two whole passes
        # a short window holds.
        "work_s": sum(per_query),
    }
    report = {
        "query_p50_s": (e2e["latency_p50_s"], "s"),
        "query_p90_s": (percentile(per_query, 90), "s"),
        "pass_s": (e2e["work_s"], "s"),
        "query_samples": (len(st.walls), "count"),
        **window,
    }
    layers = _layers(st, session.last_start_s, session.cpus) if trace else {}
    profile = (
        _profile(st.traced)
        if trace
        else [f"{n} runs={len(v)} wall_s={median(v):.4f}" for n, v in sorted(st.by_query.items())]
    )
    return {
        "e2e": e2e,
        "report": report,
        "layers": layers,
        "profile": profile,
        "failures": st.failures,
        "attempted": st.attempted,
    }


def _profile(ops: list[TracedOp]) -> list[str]:
    """One line per query: where its time went, from its traced runs."""
    lines = []
    for name in TRACE_MIX:
        mine = [op for op in ops if op.name == name]
        if not mine:
            continue
        c = SparkCounters()
        for op in mine:
            c.add(op.build)
            c.add(op.exec)
        n = len(mine)
        lines.append(
            f"{name} runs={n}"
            f" wall_s={median([op.wall_s for op in mine]):.4f}"
            f" build_s={median([op.build_s for op in mine]):.4f}"
            f" exec_s={median([op.exec_s for op in mine]):.4f}"
            f" load_table_s={median([op.sources.seconds for op in mine]):.4f}"
            f" build_jobs={sum(op.build.jobs for op in mine) / n:g}"
            f" exec_jobs={sum(op.exec.jobs for op in mine) / n:g}"
            f" stages={c.stages / n:g} tasks={c.tasks / n:g}"
            f" task_p50_ms={median([float(x) for x in c.task_ms]):g}"
            f" shuffle_read_bytes={c.shuffle_read_bytes / n:g}"
            f" shuffle_write_bytes={c.shuffle_write_bytes / n:g}"
            f" released={sum(op.released for op in mine) / n:g}"
        )
    return lines


def _layers(st: BatchState, get_spark_s: float, cpus: int) -> dict:
    n = max(len(st.traced), 1)
    total = SparkCounters()
    build_jobs = exec_jobs = 0
    for op in st.traced:
        total.add(op.build)
        total.add(op.exec)
        build_jobs += op.build.jobs
        exec_jobs += op.exec.jobs
    wall = sum(op.wall_s for op in st.traced)
    return {
        "session.get_spark_s": (get_spark_s, "s"),
        "sources.load_table_calls": (sum(op.sources.calls for op in st.traced) / n, "count"),
        "sources.load_table_s": (sum(op.sources.seconds for op in st.traced) / n, "s"),
        "sources.load_table_jobs": (sum(op.sources.jobs for op in st.traced) / n, "count"),
        "queries.build_s": (sum(op.build_s for op in st.traced) / n, "s"),
        "queries.exec_s": (sum(op.exec_s for op in st.traced) / n, "s"),
        "queries.build_jobs": (build_jobs / n, "count"),
        "queries.exec_jobs": (exec_jobs / n, "count"),
        "operators.cache.released": (sum(op.released for op in st.traced) / n, "count"),
        **spark_layers(total, n, wall, cpus),
        "streaming.batches": (0, "count"),
        "streaming.state_rows": (0, "count"),
        "streaming.state_memory_bytes": (0, "bytes"),
        "streaming.processed_rows_per_s": (0, "rows/s"),
        "trace.overhead_ratio": (st.paired_traced_s / st.paired_plain_s if st.paired_plain_s else 0.0, "ratio"),
    }

