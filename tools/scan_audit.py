#!/usr/bin/env python
"""Duplicate-scan screen: count repeated parquet scans per query, keyed
on each scan node's Location path (r12 ADVICE: path-less headers lumped
distinct tables; node-id tree repeats and distinct-node same-table
duplicates are now both counted, per table).

A table scanned N times in the FINAL plan is N full reads at 100 TB —
unless the repeat comes from a lazily-persisted frame re-embedding its
lineage per consumer in the STATIC plan, where the runtime cache
rescues it (the r12 "static screen's limit"). So this screen surfaces
CANDIDATES: every flag needs (a) a check that the duplicated subtree is
not under a tracked persist/checkpoint, then (b) a quiet interleaved
A/B before any change (r12 methodology).

r12 full-registry result (388 queries, sf0.01 plans, pre-fix counter —
figures include distinct-table false positives the Location keying now
removes): 120 queries carried >=3 identical scan headers; every one
with >=2.5 s bench cost was already on the r12 examined list (isotonic
128 dups / gbt 80 / label_prop 44 / logreg 30 are persisted-frame
static re-embeddings, A/B'd and left alone), and the SQL-style
multi-reference relational queries (<=9 dups, <=1.5 s) mirror their
oracle's own multi-scan shape. r13 re-run with Location keying: see
OPTIMIZATION_r13.md.

Usage: python tools/scan_audit.py [sf_dir] [name ...]
Writes /tmp/scan_audit.json; the scan counts come from
tools/harness.py::plan_stats.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import exit_status, parse_args, plan, plan_stats, run_each, vanilla_spark  # noqa: E402

#: A table read this many times in one plan is flagged.
MIN_DUP = 3


def scan_counts(stats: dict) -> dict:
    """Scan counts of one plan's ``plan_stats``; ``dup`` keeps the tables
    read at least MIN_DUP times."""
    return {
        "total_scans": stats["total_scans"],
        "unparsed_scans": stats["unparsed_scans"],
        "dup": {k: v for k, v in stats["scans"].items() if v >= MIN_DUP},
    }


def main(argv: list[str]) -> int:
    sf_dir, queries = parse_args(argv)
    spark = vanilla_spark(8)
    errors: dict[str, str] = {}
    t0 = time.time()
    def counts(name, q):
        return scan_counts(plan_stats(plan(q.fn(spark, sf_dir))))

    out = run_each(spark, queries, counts, errors, "scan_audit")
    out.update({name: {"err": err} for name, err in errors.items()})

    flagged = sorted(
        ((max(v["dup"].values()), k) for k, v in out.items() if v.get("dup")),
        reverse=True,
    )
    for mx, k in flagged:
        print(f"DUP {mx:4}  {k}")
    unparsed = sum(v.get("unparsed_scans", 0) for v in out.values())
    print(f"flagged {len(flagged)}/{len(out)} in {time.time() - t0:.0f}s")
    print(f"unparsed scan nodes (no Location): {unparsed}")
    with open("/tmp/scan_audit.json", "w") as fh:
        json.dump({"unparsed_scans": unparsed, "queries": out}, fh)
    return exit_status(errors)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
