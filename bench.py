#!/usr/bin/env python
"""Benchmark: run every registered query at $SPARK_GRAFT_SF_DIR.

Usage: python bench.py [--shard i/n] [name ...]   (no arguments: all queries)

Prints ONE JSON line:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "n_failed": K, "sf": "..."}

A query that raises (in the warm-up or a measured pass) is recorded and
the run goes on: ``n_failed`` counts such queries, and their first errors
are printed to stderr and kept under ``errors`` in the detail file. A
total over fewer queries is not comparable with a full one, so when any
query failed ``value`` is null and the script exits with status 1;
``n_queries`` and ``max_sec`` still describe the queries that succeeded.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect overhead).  A warmup pass at the SAME scale factor runs
first so the measured numbers reflect steady-state execution: AQE picks
different physical plans (and therefore different generated classes) at
different data sizes, so warming at a smaller SF would leave the measured
pass paying Janino compilation + JIT warmup — measured as up to 10×
first-run inflation on sub-second queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _parse_args(argv: list[str]) -> tuple[int, int, list[str]]:
    """`[--shard i/n] [name ...]`.  Names pick registry queries (all by
    default) for a spot timing; `--shard i/n` then runs every n-th of them
    starting at i (0-based) — mirrors tools/drivercheck.py sharding so
    close-of-round sweeps can run as n parallel PROCESSES instead of one
    serial hour. Default 0/1 and no names (the full registry, as a bare
    `python bench.py` has always run)."""
    shard, names = "0/1", []
    args = iter(argv)
    for a in args:
        if a.startswith("--shard"):
            shard = a.split("=", 1)[1] if "=" in a else next(args)
        else:
            names.append(a)
    i, n = shard.split("/")
    return int(i), int(n), names


def measure(spark, registry: dict, sf_dir: str) -> tuple[dict[str, float], dict[str, str]]:
    """Warm-up pass, then two measured passes; per-query min seconds of
    the runs that succeeded, and the first error of every query that
    failed in any pass (one failure never stops the others)."""
    from tools.harness import run_each

    def timed(name, q) -> float:
        """Run one query to the noop sink; its wall seconds."""
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    errors: dict[str, str] = {}
    # Warmup at the measured SF (codegen classes + JIT are plan-shape
    # specific); every query's caches are dropped after it, so the
    # measured pass starts from a clean executor state.
    run_each(spark, registry, timed, errors, "bench", "warmup: ")

    # Two measured runs per query, report the min: the host shows bursty
    # noisy-neighbor interference (same query measured 1.3 s and 20 s
    # minutes apart with identical plans and healthy GC), and min-of-N is
    # the standard robust estimator for the true cost under additive noise.
    timings: dict[str, float] = {}
    for _ in range(2):
        for name, dt in run_each(spark, registry, timed, errors, "bench", "measured: ").items():
            timings[name] = min(timings.get(name, dt), dt)
    return timings, errors


def summary(timings: dict[str, float], errors: dict[str, str]) -> dict:
    """The run's headline fields; ``value`` is None unless every query
    succeeded, so a partial total never passes for a full one."""
    return {
        "metric": "total_query_sec",
        "value": None if errors else round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "max_sec": max(timings.values()) if timings else 0.0,
        "n_failed": len(errors),
    }


def main() -> None:
    from logflow.session import get_spark
    from tools.harness import select

    shard_i, shard_n, names = _parse_args(sys.argv[1:])
    registry = select(names)
    spark = get_spark(app_name="logflow-bench")
    spark.sparkContext.setLogLevel("ERROR")
    if shard_n > 1:
        names = list(registry)[shard_i::shard_n]
        registry = {n: registry[n] for n in names}

    timings, errors = measure(spark, registry, SF_DIR)

    head = summary(timings, errors)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    # The driver captures only the tail of stdout (~2 KB): print a compact
    # summary line ("queries" = slowest 5 only) and write the full
    # per-query timing map to bench_detail.json next to this script.
    detail_name = (
        "bench_detail.json" if shard_n == 1 else f"bench_detail_{shard_i}of{shard_n}.json"
    )
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name)
    with open(detail_path, "w") as fh:
        json.dump(
            {"metric": "total_query_sec", "value": head["value"], "unit": "sec",
             "queries": timings, "errors": errors, "sf": SF_DIR},
            fh, indent=1, sort_keys=True,
        )
    print(
        json.dumps(
            {
                **head,
                "queries": slowest,
                "detail": detail_name,
                "sf": SF_DIR,
                **({"shard": f"{shard_i}/{shard_n}"} if shard_n > 1 else {}),
            }
        )
    )
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
