#!/usr/bin/env python
"""DuckDB parity sweep on a vanilla SparkSession (the correctness gate).

The driver's correctness gate was observed to check only the first 50
registered queries; this sweep runs EVERY registry entry — window and
tail — against its oracle on a VANILLA SparkSession (no logflow.session
factory, mirroring the gate).  A whole-registry run writes
PARITY_FULL.json at the repo root: {name: {"status": "pass"|"fail"|
"rows_only", "rows": N, "err": ...}}.  Named queries are a spot check (a
new or edited operator in seconds, or one shard of the sweep): their
results are printed and no file is written.

Usage: python tools/parity_all.py [sf_dir] [name ...]   (default sf0.01)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.harness import exit_status, parse_args, run_each, vanilla_spark  # noqa: E402


def main(argv: list[str]) -> int:
    from tests.oracle import compare_frames, duck_views

    sf_dir, queries = parse_args(argv)
    spark = vanilla_spark(32)
    duck = duck_views(sf_dir)

    def check(name, q):
        spark_pdf = q.fn(spark, sf_dir).toPandas()
        if q.oracle is not None:
            compare_frames(spark_pdf, duck.execute(q.oracle).fetchdf(), name)
        status = "rows_only" if q.oracle is None else "pass"
        print(f"{status:9s} {name}", flush=True)
        return {"status": status, "rows": len(spark_pdf), "err": None}

    errors: dict[str, str] = {}
    t_start = time.perf_counter()
    passed = run_each(spark, queries, check, errors, "parity_all")
    failed = {n: {"status": "fail", "rows": None, "err": e} for n, e in errors.items()}
    results = {**passed, **failed}
    counts = {
        s: sum(1 for r in results.values() if r["status"] == s) for s in ("pass", "fail", "rows_only")
    }
    print(f"\n{counts['pass']} pass / {counts['fail']} fail / {counts['rows_only']} rows-only")
    if argv[1:]:
        return exit_status(errors)
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        **counts,
        "elapsed_sec": round(time.perf_counter() - t_start, 1),
        "results": results,
    }
    # PARITY_FULL.json is the committed driver-gate-scale artifact; sweeps
    # at other SFs get their own suffixed file so they never clobber it.
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(
        REPO, "PARITY_FULL.json" if tag == "sf0.01" else f"PARITY_FULL_{tag}.json"
    )
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(f"-> {out}")
    return exit_status(errors)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
