"""Oracle parity for the relational suite (sf0.001) + operator unit tests."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from logflow.operators.joins import asof_join

RELATIONAL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_revenue",
    "join_broadcast_dims",
    "join_semi_buyers",
    "join_anti_dormant",
    "join_range_bands",
    "join_asof_purchase_click",
    "join_full_outer_daily",
    "window_top3_orders_per_customer",
    "window_lead_gap",
    "window_running_spend",
    "agg_rollup_lineitem",
    "agg_cube_orders",
    "agg_grouping_sets",
    "agg_distinct_per_segment",
    "topk_orders",
    "setops_customer_cohorts",
    "dedup_first_event",
    "scalar_string_suite",
    "scalar_json_props",
    "scalar_datetime_monthly",
    "events_tumbling_hourly",
    "events_sliding_2h",
    "sessionize_events",
    "agg_pivot_event_types",
    "agg_percentile_value",
    "window_range_7day_revenue",
    "scalar_codec_int_serde",
    "agg_collect_user_journey",
    "subquery_exists_late_orders",
    "subquery_scalar_small_orders",
    "subquery_in_supplier_nations",
    "scalar_array_map_suite",
    "window_ntile_cume",
    "unpivot_returnflag_measures",
    "join_salted_skew",
    "join_bucketed_revenue",
    "scan_partition_pruned",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_effect",
    "q16_part_supplier_stats",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q15_top_supplier",
    "subquery_exists_not_exists",
    "ks_click_purchase_drift",
    "source_json_events",
    "source_csv_orders",
    "source_orc_lineitem",
    "source_xml_events",
    "source_binary_blobs",
    "sessionize_session_window_batch",
    "nested_order_items_hof",
    "agg_salted_distinct",
    "agg_filter_clause",
    "golden_record_customers",
    "attribution_time_decay",
    "agg_share_of_parent",
    "join_shuffle_hash_hint",
    "agg_group_by_all",
    "agg_weighted_median",
    "setops_multiset_bag",
    "join_null_safe",
    "dim_date_build",
    "agg_mode_daily",
    "funnel_within_window",
    "funnel_conversion_rates",
    "scan_zonemap_audit",
    "scan_delta_varint_estimate",
    "cdc_snapshot_diff",
    "scalar_variant_extract",
    "udtf_sentence_explode",
    "pipe_syntax_shipping_margin",
    "cdc_apply_upsert",
    "scd2_customer_history",
    "aggstate_incremental_merge",
    "join_bloom_runtime_filter",
    "udaf_geomean_price",
    "scan_schema_evolution",
    "maintenance_compact_files",
    "funnel_signup_click_purchase",
    "retention_weekly_cohorts",
    "anomaly_hourly_error_spikes",
    "log_template_mining",
    "lateral_topk_per_brand",
    "sql_udf_net_margin",
    "bitmap_user_retention",
    "scan_dpp_date_join",
    "alloc_largest_remainder",
    "sessionize_incremental_merge",
    "scalar_timezone_dst",
    "dq_replay_detection",
    "maintenance_retention_prune",
]


@pytest.mark.parametrize("name", RELATIONAL_QUERIES)
def test_oracle_parity(spark, duck, sf_dir, name):
    from tests.oracle import check_query

    check_query(spark, duck, name, sf_dir)


def test_approx_distinct_close_to_exact(spark, sf_dir):
    """agg_approx_distinct is rows-only at the driver (HLL sketches are
    engine-specific): back it with the real invariant instead — the query
    runs approx_count_distinct at rsd=0.02, so require
    |approx - exact| / exact <= 2*rsd per group (small-count floor of 2
    because HLL++ error is quantized at tiny cardinalities)."""
    from logflow.queries import load_all

    rsd = 0.02
    rows = load_all()["agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        bound = max(2, 2 * rsd * r.exact_customers)
        assert abs(r.approx_customers - r.exact_customers) <= bound, r


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "l1"),
         (1, _ts("2024-01-01T12:00:00"), "l2"),
         (2, _ts("2024-01-01T09:00:00"), "l3")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30:00"), "r1"),
         (1, _ts("2024-01-01T11:00:00"), "r2"),
         (1, _ts("2024-01-01T12:00:00"), "r3"),
         (3, _ts("2024-01-01T08:00:00"), "r4")],
        "k long, ts timestamp, rv string",
    )
    out = {
        (r.k, r.lv): (r.rv, r.ts_right)
        for r in asof_join(left, right, ["k"], "ts", "ts", ["rv"]).collect()
    }
    assert out[(1, "l1")][0] == "r1"
    assert out[(1, "l2")][0] == "r3"  # <= semantics: equal ts matches
    assert out[(2, "l3")] == (None, None)  # no right rows for key 2

    strict = {
        (r.k, r.lv): r.rv
        for r in asof_join(left, right, ["k"], "ts", "ts", ["rv"], strict=True).collect()
    }
    assert strict[(1, "l2")] == "r2"  # strict <: equal ts excluded


def test_salted_join_matches_plain_join(spark, sf_dir):
    from logflow.operators.joins import salted_join
    from logflow.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    dim = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    salted = salted_join(ev, dim, on=["user_id"], salt=4)
    plain = ev.join(dim, "user_id")
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()
    # left rows with no match must survive a left salted join
    lefts = salted_join(ev, dim, on=["user_id"], salt=4, how="left")
    assert lefts.count() == ev.count() or lefts.count() == plain.count()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from logflow.operators.joins import bucketed_join
    from logflow.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    li = li.withColumnRenamed("l_orderkey", "o_orderkey")
    joined = bucketed_join(
        spark, orders, li, on=["o_orderkey"], buckets=4, table_prefix="t_bucket_test"
    )
    # force execution, then inspect the final adaptive plan
    joined.write.format("noop").mode("overwrite").save()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the result is the plain join
    expected = orders.join(li, "o_orderkey")
    assert joined.exceptAll(expected).isEmpty()
    for side in ("l", "r"):
        spark.sql(f"DROP TABLE IF EXISTS t_bucket_test_{side}")


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """The 100TB percentile path is approx_percentile (t-digest-style, one
    pass, mergeable); validate it against the exact per-group sort within
    a 5% relative tolerance at test scale."""
    from logflow.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    v = F.col("value").cast("double")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.percentile(v, F.lit(0.5)).alias("exact_p50"),
            F.percentile_approx(v, F.lit(0.5), F.lit(10000)).alias("approx_p50"),
            F.percentile(v, F.lit(0.9)).alias("exact_p90"),
            F.percentile_approx(v, F.lit(0.9), F.lit(10000)).alias("approx_p90"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        for q in ("p50", "p90"):
            exact, approx = getattr(r, f"exact_{q}"), getattr(r, f"approx_{q}")
            assert abs(approx - exact) <= max(0.05 * abs(exact), 1e-9), (r.event_type, q)


def test_partition_pruning_reaches_the_scan(spark, sf_dir):
    """scan_partition_pruned's week filter must show up as PartitionFilters
    on the dt-partitioned scan (directory-level pruning at planning time),
    and the pruned scan must read ~7 of ~30 day-partitions."""
    from logflow.queries import load_all

    df = load_all()["scan_partition_pruned"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    start = plan.index("PartitionFilters: [")
    pf = plan[start : plan.index("]", start)]
    assert "dt" in pf and ("2024-01-08" in pf or "19730" in pf), pf


def test_bloom_runtime_filter_in_plan(spark, sf_dir):
    """InjectRuntimeFilter must place a might_contain(bloom) pre-join
    filter on the probe side, and later queries in the session must keep
    their normal broadcast behavior (confs restored)."""
    from logflow.queries import load_all

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = load_all()["join_bloom_runtime_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan[:2000]
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_compaction_reduces_file_count_losslessly(spark, sf_dir):
    """maintenance_compact_files must leave a small-file dir (64 files)
    and a compacted dir (4 files) with identical total row counts."""
    import os
    import re
    import tempfile

    from logflow.queries import load_all

    out = load_all()["maintenance_compact_files"].fn(spark, sf_dir)
    total = sum(r.n_rows for r in out.collect())
    tag = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"logflow-compact-{tag}")

    def n_parquet(d):
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    assert n_parquet(os.path.join(base, "small")) == 64
    assert n_parquet(os.path.join(base, "compacted")) == 4
    assert total == spark.read.parquet(os.path.join(base, "small")).count()


def test_approx_percentile_error_bound(spark, sf_dir):
    """agg_approx_percentile is rows-only at the driver (GK sketches are
    engine-specific); here the sketch must sit within the documented
    bound of the exact percentile computed in the SAME aggregate."""
    from logflow.queries import load_all

    import bisect

    from logflow.sources.tables import load_table

    rows = load_all()["agg_approx_percentile"].fn(spark, sf_dir).collect()
    assert rows
    vals = {}
    for r in load_table(spark, "events", sf_dir).select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for r in rows:
        vs = sorted(vals[r.event_type])
        n = len(vs)
        # The GK guarantee is on RANK, not value (a sparse tail makes the
        # value gap between adjacent order statistics arbitrarily large):
        # the returned value's empirical rank must be within 1/accuracy
        # (+1 position for the exact-percentile interpolation convention).
        for q, approx in ((0.5, r.p50_approx), (0.95, r.p95_approx)):
            rank = bisect.bisect_right(vs, approx + 1e-9)
            assert abs(rank - q * n) <= n / 10000 + 1.5, (r.event_type, q, rank, q * n)


def test_zorder_layout_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "scan_zorder_layout", sf_dir)


def test_zorder_bounds_both_dimensions(spark, sf_dir):
    """Every z-range bucket's bounding box must be bounded on BOTH dims —
    strictly tighter than a one-column sort, whose non-sort dim spans the
    whole domain. Top-4-bit buckets fix d1's two high bits and d2's two
    high bits, so each span is at most a quarter of the 1024 domain."""
    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["scan_zorder_layout"].fn(spark, sf_dir).toPandas()
    n = load_table(spark, "orders", sf_dir).count()
    assert int(pdf["n_rows"].sum()) == n  # buckets partition the table
    assert (pdf["d1_span"] <= 256).all()
    assert (pdf["d2_span"] <= 256).all()
    assert pdf["bucket"].between(0, 15).all()


def test_attribution_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "attribution_last_touch", sf_dir)


def test_attribution_partitions_purchases(spark, sf_dir):
    """Every purchase is attributed to exactly one channel; channels are
    only the touch types + 'direct'."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["attribution_last_touch"].fn(spark, sf_dir).toPandas()
    n_purch = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert int(pdf["n_purchases"].sum()) == n_purch
    assert set(pdf["channel"]) <= {"click", "signup", "view", "direct"}


def test_scd2_pit_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "scd2_point_in_time_join", sf_dir)


def test_scd2_pit_conserves_facts(spark, sf_dir):
    """Versions partition each key's timeline, so the point-in-time join
    must neither drop nor duplicate facts: attributed counts sum to the
    fact count exactly."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["scd2_point_in_time_join"].fn(spark, sf_dir).toPandas()
    n_facts = (
        load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") % 5 != 0).count()
    )
    assert int(pdf["n_facts"].sum()) == n_facts


def test_lateral_topk_decorrelates_to_one_scan(spark, sf_dir):
    """The LATERAL form must yield exactly the window-rank top-3 per
    brand (cross-check against the classic formulation), and at most 3
    rows per brand appear."""
    from logflow.queries import load_all

    pdf = load_all()["lateral_topk_per_brand"].fn(spark, sf_dir).toPandas()
    assert (pdf.groupby("p_brand")["p_partkey"].count() <= 3).all()
    from logflow.sources.tables import load_table

    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    classic = spark.sql(
        """
        SELECT p_brand, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part) WHERE rn <= 3
        ORDER BY p_brand, p_retailprice DESC, p_partkey
        """
    ).toPandas()
    assert pdf.reset_index(drop=True).equals(classic.reset_index(drop=True))


def test_sql_udf_inlines_to_expression_plan(spark, sf_dir):
    """The SQL UDF must be analysis-time inlined: the optimized plan
    contains no UDF/python-eval node, and the result equals writing the
    expression in place."""
    from logflow.queries import load_all

    df = load_all()["sql_udf_net_margin"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    inline = spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(1 - l_discount AS DECIMAL(4,2))
                              * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS net_charge
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).toPandas()
    assert df.toPandas().equals(inline)


def test_time_decay_credit_conserves_conversions(spark, sf_dir):
    """Per-purchase shares sum to ~1, so total credit across channels must
    equal the number of touched purchases within the rounding budget."""
    from logflow.queries import load_all

    pdf = load_all()["attribution_time_decay"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    from logflow.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "signup", "view")).select(
        "user_id", F.col("ts").alias("t_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "event_id"
    )
    touched = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
        )
        .select("event_id")
        .distinct()
        .count()
    )
    assert abs(pdf["credit"].sum() - touched) < max(1.0, 1e-4 * touched)


def test_share_of_parent_sums(spark, sf_dir):
    """Within each region the nation shares sum to ~1; the region shares
    of total sum to ~1 across distinct regions."""
    from logflow.queries import load_all

    pdf = load_all()["agg_share_of_parent"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    for _, g in pdf.groupby("region"):
        assert abs(g["share_of_region"].sum() - 1.0) < 1e-3
        assert g["region_rev"].nunique() == 1
    regions = pdf.drop_duplicates("region")
    assert abs(regions["region_share_of_total"].sum() - 1.0) < 1e-3


def test_shuffle_hash_hint_changes_strategy(spark, sf_dir):
    """The hint must actually flip the physical join: ShuffledHashJoin in
    the executed plan, no SortMergeJoin."""
    from logflow.queries import load_all

    df = load_all()["join_shuffle_hash_hint"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_null_safe_join_keeps_the_null_bucket(spark, sf_dir):
    """Every group (including '<null>') must satisfy n_matched ==
    seg_size — the whole point of <=> vs = is that NULLs match."""
    from logflow.queries import load_all

    pdf = load_all()["join_null_safe"].fn(spark, sf_dir).toPandas()
    assert "<null>" in set(pdf["seg_key"])
    assert (pdf["n_matched"] == pdf["seg_size"]).all()


def test_date_dim_is_a_dense_spine(spark, sf_dir):
    """One row per day, no holes, weekend flag consistent with iso_dow,
    fiscal quarter in 1..4 and fiscal year rolls at February."""
    import pandas as pd

    from logflow.queries import load_all

    pdf = load_all()["dim_date_build"].fn(spark, sf_dir).toPandas().sort_values("day")
    days = pd.to_datetime(pdf["day"]).reset_index(drop=True)
    assert (days.diff().dropna() == pd.Timedelta(days=1)).all()
    assert (pdf["is_weekend"] == (pdf["iso_dow"] >= 6)).all()
    assert pdf["fiscal_quarter"].between(1, 4).all()
    jan = pdf[pdf["mo"] == 1]
    if len(jan):
        assert (jan["fiscal_year"] == jan["yr"] - 1).all()


def test_funnel_within_window_subset_of_unconstrained(spark, sf_dir):
    """The time-constrained funnel can never convert MORE users than the
    order-only funnel, and latency is positive and bounded by 2h per
    funnel."""
    from logflow.queries import load_all

    r = load_all()["funnel_within_window"].fn(spark, sf_dir).toPandas().iloc[0]
    assert r.n_users_converted <= r.n_funnels
    if r.n_funnels > 0:
        assert 0 < r.total_latency_us <= r.n_funnels * 2 * 3600 * 1_000_000


def test_ivm_join_delta_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "ivm_join_delta", sf_dir)


def test_ivm_identity_holds(spark, sf_dir):
    """The IVM correctness identity: base + the three delta terms equals
    the from-scratch join, for every key."""
    from logflow.queries import load_all

    pdf = load_all()["ivm_join_delta"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_incremental"] == pdf["n_full"]).all()
    assert (
        pdf["n_base"] + pdf["n_delta_a"] + pdf["n_delta_b"] + pdf["n_delta_ab"]
        == pdf["n_full"]
    ).all()
    assert (pdf[["n_delta_a", "n_delta_b", "n_delta_ab"]].sum(axis=1) > 0).any()


def test_hilbert_layout_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "scan_hilbert_layout", sf_dir)


def test_hilbert_transform_is_the_reference_curve(spark):
    """The unrolled div/mod transform equals the canonical xy2d walk on a
    sample grid (bijection into [0, n²) + unit-step adjacency along the
    curve on a dense 32-aligned patch)."""
    from logflow.queries.relational import _HILBERT_N, _hilbert_level_exprs

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(0, 1024, 61) for y in range(0, 1024, 53)]
    df = spark.createDataFrame(pts, "x0 int, y0 int").selectExpr(
        "x0", "y0", "x0 AS x", "y0 AS y", "0 AS d"
    )
    s = _HILBERT_N // 2
    while s > 0:
        nx, ny, nd = _hilbert_level_exprs(s)
        df = df.selectExpr(
            "x0", "y0", "x", "y", "d",
            f"(x DIV {s}) % 2 AS rx", f"(y DIV {s}) % 2 AS ry",
        ).selectExpr("x0", "y0", f"{nx} AS x", f"{ny} AS y", f"{nd} AS d")
        s //= 2
    got = {(r.x0, r.y0): r.d for r in df.collect()}
    assert got == {p: xy2d(1024, *p) for p in pts}
    # adjacency: consecutive d values on the reference curve differ by a
    # unit grid step (the Hilbert property z-order lacks)
    patch = {xy2d(1024, x, y): (x, y) for x in range(32) for y in range(32)}
    steps = sorted(d for d in patch if d + 1 in patch)
    for d in steps:
        (x1, y1), (x2, y2) = patch[d], patch[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_buckets_are_quadrants(spark, sf_dir):
    """Every 65536-cell Hilbert bucket over the full grid is contained in
    one 256×256 quadrant — the tighter-than-z-order locality guarantee
    the doc claims (data bounding boxes can only be smaller)."""
    from logflow.queries import load_all

    pdf = load_all()["scan_hilbert_layout"].fn(spark, sf_dir).toPandas()
    assert (pdf["d1_span"] <= 256).all()
    assert (pdf["d2_span"] <= 256).all()
    assert (pdf["n_rows"] > 0).all()


def test_session_window_batch_equals_gaps_and_islands(spark, sf_dir):
    """session_window's merge rule must agree with sessionize_events'
    gaps-and-islands counts per user."""
    from logflow.queries import load_all

    sw = (
        load_all()["sessionize_session_window_batch"].fn(spark, sf_dir).toPandas()
        .set_index("user_id").sort_index()
    )
    gi = (
        load_all()["sessionize_events"].fn(spark, sf_dir).toPandas()
        .set_index("user_id").sort_index()
    )
    assert (sw["n_sessions"] == gi["n_sessions"]).all()
    assert (sw["n_events"] == gi["n_events"]).all()
    assert (sw["max_session_events"] == gi["max_session_events"]).all()
    # every session spans at least the 30-minute close gap
    assert (sw["max_session_span_us"] >= 1800 * 1_000_000).all()


def test_referential_audit_clean_schema_and_orphan_detection(spark, sf_dir):
    """The generated schema must be FK-clean, and a planted orphan must be
    caught (the audit actually audits)."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["dq_referential_audit"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 6
    assert (pdf["fk_holds"] == 1).all() and (pdf["n_orphans"] == 0).all()
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    planted = orders.select("o_custkey").limit(1).withColumn(
        "o_custkey", F.lit(-999)
    ).unionByName(orders.select("o_custkey"))
    n = planted.join(
        F.broadcast(cust.select("c_custkey")),
        planted["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).count()
    assert n == 1


def test_salted_distinct_buckets_are_disjoint(spark, sf_dir):
    """The salt is a function of the distinct key, so per-bucket distinct
    counts must sum EXACTLY to the global distinct count per group."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["agg_salted_distinct"].fn(spark, sf_dir).toPandas()
    ev = load_table(spark, "events", sf_dir)
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type: r.n_users for r in pdf.itertuples()} == want


def test_dpp_subquery_filter_in_plan(spark, sf_dir):
    """scan_dpp_date_join's whole point: the fact scan's partition filter
    must be a RUNTIME dynamicpruning subquery (the weekend predicate is
    invisible statically — it lives on the dim side)."""
    from logflow.queries import load_all

    df = load_all()["scan_dpp_date_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP did not fire on the dt scan"


def test_bitmap_retention_bounds_and_exactness(spark, sf_dir):
    """Retained(next) can never exceed today's or tomorrow's actives, and
    the bitmap actives must equal the plain COUNT(DISTINCT) per day."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = (
        load_all()["bitmap_user_retention"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    nxt = pdf["n_active"].shift(-1).fillna(0)
    assert (pdf["n_retained_next"] <= pdf["n_active"]).all()
    assert (pdf["n_retained_next"] <= nxt + 1e-9).all()
    ev = load_table(spark, "events", sf_dir)
    want = {
        r.day: r.n
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = dict(zip(pdf["day"].dt.to_pydatetime(), pdf["n_active"]))
    assert {k: int(v) for k, v in got.items()} == want


def test_alloc_sums_exactly_to_target(spark, sf_dir):
    """The whole point of largest-remainder allocation: per order the
    integer-cent allocations sum EXACTLY to the target, and each item
    gets its floor share or floor+1."""
    from logflow.queries import load_all

    pdf = load_all()["alloc_largest_remainder"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    g = pdf.groupby("l_orderkey")
    sums = g["alloc_cents"].sum()
    targets = g["target_cents"].first()
    assert (sums == targets).all(), "allocation leaked cents"
    assert (pdf["alloc_cents"] >= 0).all()


def test_incremental_sessionize_equals_full_pass(spark, sf_dir):
    """The IVM path (state + delta + merge) must reproduce the one-pass
    sessionization EXACTLY, row for row."""
    from logflow.queries import load_all

    inc = (
        load_all()["sessionize_incremental_merge"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    full = (
        load_all()["sessionize_events"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (inc["n_sessions"] == full["n_sessions"]).all()
    assert (inc["n_events"] == full["n_events"]).all()
    assert (inc["max_session_events"] == full["max_session_events"]).all()


def test_dst_offsets_are_est_edt_and_partition(spark, sf_dir):
    """New York offsets in 2024 are exactly -5 (EST) and -4 (EDT), and the
    two groups partition the event set."""
    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["scalar_timezone_dst"].fn(spark, sf_dir).toPandas()
    assert sorted(pdf["offset_hours"]) == [-5, -4]
    n = load_table(spark, "events", sf_dir).count()
    assert int(pdf["n_events"].sum()) == n


def test_replay_pairs_really_repeat(spark, sf_dir):
    """Every reported replay gap is positive and within the 10-minute
    band; replayed-event counts never exceed pair counts."""
    from logflow.queries import load_all

    pdf = load_all()["dq_replay_detection"].fn(spark, sf_dir).toPandas()
    assert (pdf["min_gap_us"] > 0).all()
    assert (pdf["min_gap_us"] <= 600_000_000).all()
    assert (pdf["n_replayed"] <= pdf["n_pairs"]).all()


def test_retention_prune_deleted_old_partitions_on_disk(spark, sf_dir):
    """The retention job must have REMOVED the expired partition dirs —
    the scan agreeing with the predicate (oracle) plus no dt= dir before
    the cutoff proves the file-level delete, not a runtime filter."""
    import os

    from logflow.queries import load_all
    from logflow.queries.relational import _RETAIN_CUTOFF
    from logflow.sources.derived import derived_cache  # noqa: F401

    load_all()["maintenance_retention_prune"].fn(spark, sf_dir).collect()
    import tempfile, re
    tag = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"logflow-retain-{tag}")
    parts = [e for e in os.listdir(base) if e.startswith("dt=")]
    assert parts, "no partitions left at all?"
    assert all(e[3:] >= _RETAIN_CUTOFF for e in parts), "expired dirs survive"


def test_funnel_conversion_rates_laws(spark, sf_dir):
    """Stage counts are monotone per cohort (purchased <= clicked <=
    signups), rates recompute from the integer counts, and the summed
    purchased count equals funnel_within_window's n_funnels (identical
    MIN-resolved SLA semantics, inner- vs left-join formulations)."""
    from logflow.queries import load_all

    reg = load_all()
    pdf = reg["funnel_conversion_rates"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf.n_purchased <= pdf.n_clicked).all()
    assert (pdf.n_clicked <= pdf.n_signups).all()
    for _, r in pdf.iterrows():
        assert r.rate_click == round(r.n_clicked / r.n_signups, 4)
        assert r.rate_overall == round(r.n_purchased / r.n_signups, 4)
    fw = reg["funnel_within_window"].fn(spark, sf_dir).toPandas().iloc[0]
    assert int(pdf.n_purchased.sum()) == int(fw.n_funnels)


def test_zonemap_audit_laws(spark, sf_dir):
    """Date-clustered layout never prunes fewer buckets than natural;
    rows_scanned + pruned-bucket rows == rows_total; both layouts see the
    identical row total; ratios recompute from the integers."""
    from logflow.queries import load_all

    pdf = load_all()["scan_zonemap_audit"].fn(spark, sf_dir).toPandas()
    assert set(pdf.layout) == {"natural", "date-clustered"}
    nat = pdf[pdf.layout == "natural"].iloc[0]
    dc = pdf[pdf.layout == "date-clustered"].iloc[0]
    assert nat.rows_total == dc.rows_total
    assert dc.n_pruned >= nat.n_pruned
    assert dc.rows_scanned <= nat.rows_scanned
    for _, r in pdf.iterrows():
        assert 0 <= r.n_pruned <= r.n_buckets
        assert 0 <= r.rows_scanned <= r.rows_total
        assert r.prune_ratio == round(r.n_pruned / r.n_buckets, 4)
        assert r.scan_ratio == round(r.rows_scanned / r.rows_total, 4)


def test_rendezvous_rebalance_laws(spark, sf_dir):
    """HRW moves a small fraction (must beat mod by a wide margin: mod
    moves ~8/9 of keys, HRW ~1/9 in expectation); counts within bounds."""
    from logflow.queries import load_all

    pdf = load_all()["shard_rendezvous_rebalance"].fn(spark, sf_dir).toPandas()
    mod = pdf[pdf.scheme == "mod"].iloc[0]
    hrw = pdf[pdf.scheme == "rendezvous"].iloc[0]
    assert mod.n_keys == hrw.n_keys
    assert 0 <= hrw.n_moved <= hrw.n_keys and 0 <= mod.n_moved <= mod.n_keys
    # structural, seed-robust: HRW's minimal-movement property dominates
    assert hrw.moved_ratio < mod.moved_ratio / 2


def test_division_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "division_covering_buyers", sf_dir)


def test_division_contains_reference_customer(spark, sf_dir):
    """The divisor's own customer trivially covers the divisor, so the
    result is never empty and n_matched == n_req on every row."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["division_covering_buyers"].fn(spark, sf_dir).toPandas()
    assert len(pdf) >= 1
    assert (pdf.n_matched == pdf.n_req).all()
    refk = load_table(spark, "orders", sf_dir).agg(F.min("o_custkey")).collect()[0][0]
    assert refk in set(pdf.c_custkey)


def test_delta_varint_sorted_dominates(spark, sf_dir):
    """Sorted layout never encodes larger than hash-ordered; both count
    the same values; ratios recompute; compression is real (> 1x) on the
    dense sorted key space."""
    from logflow.queries import load_all

    pdf = load_all()["scan_delta_varint_estimate"].fn(spark, sf_dir).toPandas()
    s = pdf[pdf.layout == "sorted"].iloc[0]
    h = pdf[pdf.layout == "hash-ordered"].iloc[0]
    assert s.n_values == h.n_values
    assert s.bytes_delta_varint <= h.bytes_delta_varint
    assert s.compression_x > 1.0
    for _, r in pdf.iterrows():
        assert r.bytes_raw == r.n_values * 8
        assert r.compression_x == round(r.bytes_raw / r.bytes_delta_varint, 4)


def test_weighted_median_dominates_half_the_weight(spark, sf_dir):
    """The reported value is a genuine lower weighted median: weight at or
    below it covers >= half the total, weight strictly below it does not."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["agg_weighted_median"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
            F.round("l_quantity", 0).cast("long").alias("w"),
        )
        .toPandas()
    )
    for r in pdf.itertuples():
        g = li[li.flag == r.l_returnflag]
        tot = g.w.sum()
        assert tot == r.total_weight
        assert 2 * g[g.cents <= r.median_cents].w.sum() >= tot
        assert 2 * g[g.cents < r.median_cents].w.sum() < tot


def test_multiset_bag_identity(spark, sf_dir):
    """|A INTERSECT ALL B| + |A EXCEPT ALL B| == |A|, and the distinct
    forms never exceed their multiset counterparts."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = (
        load_all()["setops_multiset_bag"].fn(spark, sf_dir).toPandas().set_index("op")
    )
    n_clicks = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert pdf.loc["intersect_all", "n"] + pdf.loc["except_all", "n"] == n_clicks
    assert pdf.loc["intersect_distinct", "n"] <= pdf.loc["intersect_all", "n"]
    assert pdf.loc["except_distinct", "n"] <= pdf.loc["except_all", "n"]


def test_not_in_null_trap_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "subquery_not_in_null_trap", sf_dir)


def test_not_in_null_trap_semantics(spark, sf_dir):
    """NOT IN against a NULL-containing list returns zero; NOT EXISTS and
    the null-filtered NOT IN agree with each other."""
    from logflow.queries import load_all

    pdf = (
        load_all()["subquery_not_in_null_trap"].fn(spark, sf_dir).toPandas()
        .set_index("method")
    )
    assert int(pdf.loc["not_in", "n"]) == 0
    assert int(pdf.loc["not_exists", "n"]) == int(
        pdf.loc["not_in_null_filtered", "n"]
    )


def test_attribution_position_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "attribution_position_based", sf_dir)


def test_attribution_position_credit_conserved(spark, sf_dir):
    """Total position-based credit equals the number of attributed
    purchases (each purchase hands out exactly 1.0, up to the 6dp share
    rounding across its touches)."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["attribution_position_based"].fn(spark, sf_dir).toPandas()
    total_credit = float(pdf["credit"].sum())
    ev = load_table(spark, "events", sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "signup", "view")).select(
        "user_id", F.col("ts").alias("t_ts"), F.col("event_id").alias("t_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    attributed = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
            & (F.col("t_id") != F.col("p_id"))
        )
        .select("p_id")
        .distinct()
        .count()
    )
    assert abs(total_credit - attributed) <= max(1e-3 * attributed, 0.01)


def test_bitemporal_asof_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "join_bitemporal_asof", sf_dir)


def test_bitemporal_asof_conserves_facts(spark, sf_dir):
    """The as-of-as-at pick emits exactly one row per fact (the grouped
    n_facts sum equals the fact count), and the picked version is never
    recorded after the fact's as-at horizon."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = load_all()["join_bitemporal_asof"].fn(spark, sf_dir).toPandas()
    n_facts = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") % 5 != 0)
        .count()
    )
    assert pdf["n_facts"].sum() == n_facts
    assert (pdf["n_retro"] <= pdf["n_facts"]).all()


def test_spatial_grid_knn_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "join_spatial_grid_knn", sf_dir)


def test_spatial_grid_knn_is_exact_within_cell_radius(spark, sf_dir):
    """The grid-join contract: every reported rank-1 neighbor within one
    cell width of its query point must equal the TRUE brute-force
    nearest customer (candidates are complete inside that radius); ranks
    are dense per supplier and distances nondecreasing."""
    import hashlib

    import numpy as np

    from logflow.queries import load_all
    from logflow.queries.relational import _GEO_CELL, _GEO_DOMAIN
    from logflow.sources.tables import load_table

    def coord(tag: str, key: int) -> int:
        """The query's md5-derived coordinate, recomputed with hashlib."""
        return int(hashlib.md5(f"{tag}:{key}".encode()).hexdigest()[:8], 16) % _GEO_DOMAIN

    pdf = load_all()["join_spatial_grid_knn"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    for _, g in pdf.groupby("s_suppkey"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (np.diff(g["sqdist"].to_numpy()) >= 0).all()
    ck = load_table(spark, "customer", sf_dir).toPandas()["c_custkey"].to_numpy()
    cx = np.array([coord("gx", k) for k in ck])
    cy = np.array([coord("gy", k) for k in ck])
    top1 = pdf[pdf["rank"] == 1].set_index("s_suppkey")
    checked = 0
    for sk, row in top1.head(50).iterrows():
        sx, sy = coord("gx", sk), coord("gy", sk)
        d2 = (cx - sx) ** 2 + (cy - sy) ** 2
        best = d2.min()
        if best <= _GEO_CELL * _GEO_CELL:
            order = np.lexsort((ck, d2))
            assert row["sqdist"] == best
            assert row["c_custkey"] == ck[order[0]]
            checked += 1
    assert checked > 0, "no supplier had a within-radius neighbor to verify"


def test_bloom_skipping_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "scan_bloom_skipping_audit", sf_dir)


def test_bloom_skipping_no_false_negatives(spark, sf_dir):
    """The defining Bloom guarantee: a file that truly contains the probe
    key is ALWAYS scanned (n_files_true counts only scanned files, so it
    must equal the independently recomputed true-containing file count);
    false positives are non-negative."""
    from logflow.queries import load_all
    from logflow.queries.relational import _BLOOM_FILES, _BLOOM_PROBE_MOD
    from logflow.sources.tables import load_table
    from pyspark.sql import functions as F

    pdf = load_all()["scan_bloom_skipping_audit"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf["n_false_positives"] >= 0).all()
    assert (pdf["n_files_scanned"] <= _BLOOM_FILES).all()
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    mo = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    truth = (
        li.select(
            F.expr(f"(l_orderkey * {_BLOOM_FILES}) DIV {mo}").alias("f"),
            F.col("l_partkey").alias("k"),
        )
        .filter(F.col("k") % _BLOOM_PROBE_MOD == 0)
        .distinct()
        .groupBy("k")
        .count()
        .toPandas()
        .set_index("k")["count"]
    )
    for r in pdf.itertuples():
        assert r.n_files_true == truth.get(r.probe_key, 0), r.probe_key


def test_join_asof_nearest_event(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "join_asof_nearest_event", sf_dir)


def test_join_asof_nearest_event_is_nearest(spark, sf_dir):
    """Brute-force cross check: for every purchase the matched click is a
    true minimum of |gap| among the user's clicks, prior wins ties."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    got = load_all()["join_asof_nearest_event"].fn(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            ).alias("us"),
        )
        .toPandas()
    )
    purchases = ev[ev.event_type == "purchase"].set_index("event_id")
    clicks = ev[ev.event_type == "click"]
    by_user = dict(tuple(clicks.groupby("user_id")))
    assert len(got) == len(purchases)
    for r in got.itertuples():
        p = purchases.loc[r.event_id]
        cl = by_user.get(p["user_id"])
        if cl is None or len(cl) == 0:
            assert pd_isna(r.click_event_id)
            continue
        gaps = (cl["us"] - p["us"]).abs()
        best = gaps.min()
        assert abs(r.gap_us) == best, (r.event_id, r.gap_us, best)
        if r.gap_us > 0:  # picked a later click: no prior click may tie
            assert not ((cl["us"] - p["us"]) == -best).any()


def pd_isna(x):
    import pandas as pd

    return pd.isna(x)


def test_agg_argminmax_daily(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "agg_argminmax_daily", sf_dir)


def test_source_csv_corrupt_records(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "source_csv_corrupt_records", sf_dir)


def test_source_csv_corrupt_quarantine_is_exact(spark, sf_dir):
    """The quarantine split matches the injection rule exactly and at
    least one corrupt row exists at every SF (orderkey 97 always ships)."""
    from logflow.queries import load_all

    pdf = load_all()["source_csv_corrupt_records"].fn(spark, sf_dir).toPandas()
    assert pdf["n_corrupt"].sum() > 0
    assert pdf["n_good"].sum() > 0
    assert (pdf["good_price"] > 0).all()
