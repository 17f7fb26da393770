#!/usr/bin/env python
"""Dump `.explain("formatted")` for registry queries into plans/<tag>/.

Usage: python tools/explain_dump.py TAG PHASE [sf_dir] [name ...]

Writes plans/<TAG>/<name>_<PHASE>.txt (PHASE is `before` or `after`) —
the committed evidence for optimization rounds: the judge checks plan
claims (Exchange counts, join strategies, pushdown) against these files.

The plan is captured with the same session/conf stack as bench.py
(logflow.session.get_spark), so Exchange counts match what the bench
actually executes. Note explain() shows the AQE initial plan
(isFinalPlan=false); Exchange counts here are the static upper bound.
The header's counts are tools/harness.py::plan_stats' distinct nodes:
"Exchange" is the shuffle, BroadcastExchange nodes are counted apart.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.harness import exit_status, parse_args, plan, plan_stats, run_each  # noqa: E402


def header(name: str, sf_dir: str, phase: str, stats: dict) -> str:
    nodes = stats["nodes"]
    joins = sorted(k for k in nodes if k.endswith("Join"))
    return (
        f"-- query: {name}\n-- sf_dir: {sf_dir}\n-- phase: {phase}\n"
        f"-- Exchange nodes: {nodes['Exchange']}\n"
        f"-- BroadcastExchange nodes: {nodes['BroadcastExchange']}\n"
        f"-- join operators: {', '.join(joins) or 'none'}\n"
        f"-- BatchEvalPython nodes: {nodes['BatchEvalPython']}\n\n"
    )


def main(argv: list[str]) -> int:
    from logflow.session import get_spark

    tag, phase = argv[:2]
    sf_dir, queries = parse_args(argv[2:])
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="logflow-explain-dump")
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name, q):
        text = plan(q.fn(spark, sf_dir))
        stats = plan_stats(text)
        path = os.path.join(out_dir, f"{name}_{phase}.txt")
        with open(path, "w") as fh:
            fh.write(header(name, sf_dir, phase, stats) + text)
        print(f"wrote {path} (Exchange={stats['nodes']['Exchange']})")

    errors: dict[str, str] = {}
    run_each(spark, queries, dump, errors, "explain_dump")
    return exit_status(errors)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
