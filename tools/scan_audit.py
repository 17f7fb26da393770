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

Usage: python tools/scan_audit.py [sf_dir] [min_dup]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scan_counts(plan: str, min_dup: int) -> dict:
    """Scan counts of one ``formatted`` plan string.

    Tree lines ("Scan parquet ... (N)") are the node's appearances in
    the executed tree — re-embedded subtrees repeat the id.  Detail
    headers ("(N) Scan parquet") carry the block with the Location:
    path.  Duplicates are keyed on the Location so distinct tables are
    never lumped (r12 ADVICE): dup[path] = total tree appearances of
    every node id whose detail block points at that path.  Appearances
    whose node has no parsable Location are counted in
    ``unparsed_scans`` instead: they cannot be grouped by table, and a
    non-zero count means the parser no longer matches the plan format.
    ``total_scans`` = every tree appearance of a scan node."""
    tree_ids = re.findall(r"Scan parquet[^\n(]*\((\d+)\)", plan)
    loc_by_id: dict[str, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) Scan parquet[^\n]*\n(.*?)(?=^\(\d+\) |\Z)",
        plan,
        re.M | re.S,
    ):
        lm = re.search(r"Location: [^\[\n]*\[([^\]]+)\]", m.group(2))
        if lm:
            loc_by_id[m.group(1)] = lm.group(1)
    c = Counter(loc_by_id[nid] for nid in tree_ids if nid in loc_by_id)
    return {
        "total_scans": len(tree_ids),
        "unparsed_scans": sum(1 for nid in tree_ids if nid not in loc_by_id),
        "dup": {k: v for k, v in c.items() if v >= min_dup},
    }


def main() -> int:
    from pyspark.sql import SparkSession

    from logflow.operators.cache import release_all
    from logflow.queries import load_all

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    min_dup = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("logflow-scan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    out: dict[str, dict] = {}
    t0 = time.time()
    for name, q in load_all().items():
        try:
            df = q.fn(spark, sf_dir)
            out[name] = scan_counts(df._jdf.queryExecution().explainString(mode), min_dup)
        except Exception:
            out[name] = {"err": traceback.format_exc()[-300:]}
        release_all()
        spark.catalog.clearCache()

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
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
