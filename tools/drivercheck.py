#!/usr/bin/env python
"""Driver-isolation check: run registered queries the way the DRIVER does.

The driver's correctness gate executes each query in a FRESH subprocess
with a VANILLA SparkSession (no logflow.session confs, no state from
earlier queries). tools/parity_all.py checks oracle parity but shares one
session across the sweep — it cannot catch bugs that only appear with
per-query session isolation (conf leakage between queries, operators that
depend on a registered datasource/table from a previous query, first-use
initialization paths).

This tool spawns one subprocess per query (vanilla session, sf0.01 by
default) and reports rows or the error. Use it on new queries that touch
session state (conf set/restore, datasource registration, catalog tables,
tmp-dir caches) before trusting a green parity sweep.

Usage: python tools/drivercheck.py [--jobs=N] [sf_dir] [name ...]   (default: all)
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.harness import parse_args  # noqa: E402

_CHILD = """
import sys; sys.path.insert(0, {repo!r})
from tools.harness import vanilla_spark
spark = vanilla_spark(8)
import __spark_entry__ as e
df = e.queries()[{name!r}](spark, {sf_dir!r})
print("DRIVERCHECK_ROWS", df.count())
spark.stop()
"""


def _check_one(name: str, sf_dir: str) -> tuple[str, bool, str]:
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD.format(repo=REPO, name=name, sf_dir=sf_dir)],
            capture_output=True,
            text=True,
            timeout=600,
        )
    except subprocess.TimeoutExpired:
        # A hung query must not abort the sweep — record and move on.
        return name, False, "timed out after 600s"
    rows = [
        line for line in proc.stdout.splitlines() if line.startswith("DRIVERCHECK_ROWS")
    ]
    if proc.returncode == 0 and rows:
        return name, True, rows[0].split()[1]
    tail = (proc.stderr or proc.stdout).strip().splitlines()[-8:]
    return name, False, "\n  ".join(tail)


def main() -> int:
    from concurrent.futures import ThreadPoolExecutor

    argv = sys.argv[1:]
    jobs = 1
    if argv and argv[0].startswith("--jobs="):
        # each subprocess runs local[8]; --jobs=4 saturates 32 cores and
        # cuts the full-registry sweep from ~3 h to ~40 min
        jobs = int(argv[0].split("=", 1)[1])
        argv = argv[1:]
    sf_dir, queries = parse_args(argv)
    names = list(queries)
    failures = []
    with ThreadPoolExecutor(max_workers=jobs) as pool:
        for name, ok, info in pool.map(lambda n: _check_one(n, sf_dir), names):
            if ok:
                print(f"OK   {name}: {info} rows", flush=True)
            else:
                failures.append(name)
                print(f"FAIL {name}\n  {info}", flush=True)
    print(f"\n{len(names) - len(failures)} ok / {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
