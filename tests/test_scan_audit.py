"""tools/scan_audit.py: scans are keyed on Location, unparsed ones counted."""

from __future__ import annotations

import importlib.util
import os

from tests.conftest import REPO


def _scan_counts():
    path = os.path.join(REPO, "tools", "scan_audit.py")
    spec = importlib.util.spec_from_file_location("scan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.scan_counts


def test_scan_counts_keys_on_location_and_counts_unparsed(spark, sf_dir):
    from logflow.sources.tables import load_table

    scan_counts = _scan_counts()
    ev = load_table(spark, "events", sf_dir, parallelize=False)
    orders = load_table(spark, "orders", sf_dir, parallelize=False)
    df = ev.select("event_id").union(ev.select("event_id")).union(
        orders.select(orders.o_orderkey.alias("event_id"))
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)

    got = scan_counts(plan, 2)
    assert got["total_scans"] == 3
    assert got["unparsed_scans"] == 0
    [(location, n)] = got["dup"].items()
    assert location.endswith("events.parquet") and n == 2

    # a plan whose Location lines no longer parse is reported, not keyed
    stripped = "\n".join(ln for ln in plan.splitlines() if not ln.startswith("Location:"))
    assert scan_counts(stripped, 2) == {"total_scans": 3, "unparsed_scans": 3, "dup": {}}
