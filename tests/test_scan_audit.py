"""tools/scan_audit.py: scans are keyed on Location, unparsed ones counted."""

from __future__ import annotations

from tools.harness import plan, plan_stats
from tools.scan_audit import MIN_DUP, scan_counts


def test_scan_counts_keys_on_location_and_counts_unparsed(spark, sf_dir):
    from logflow.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    orders = load_table(spark, "orders", sf_dir, parallelize=False)
    df = (
        ev.select("event_id")
        .union(ev.select("event_id"))
        .union(ev.select("event_id"))
        .union(orders.select(orders.o_orderkey.alias("event_id")))
    )
    text = plan(df)

    stats = plan_stats(text)
    assert stats["total_scans"] == 4
    assert stats["unparsed_scans"] == 0
    assert sorted(stats["scans"].values()) == [1, 3]
    got = scan_counts(stats)
    assert MIN_DUP == 3
    [(location, n)] = got["dup"].items()
    assert location.endswith("events.parquet") and n == 3

    # a plan whose Location lines no longer parse is reported, not keyed
    stripped = "\n".join(ln for ln in text.splitlines() if not ln.startswith("Location:"))
    assert scan_counts(plan_stats(stripped)) == {"total_scans": 4, "unparsed_scans": 4, "dup": {}}
