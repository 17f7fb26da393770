"""tools/harness.py: the per-query loop, plan_stats, and the tools over them."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from tests.conftest import REPO
from tools.harness import arrow_python_nodes, plan, plan_stats, run_each, select


class _Query:
    def __init__(self, fn, oracle=None):
        self.fn = fn
        self.oracle = oracle


def test_run_each_keeps_going_keeps_first_error_and_releases(monkeypatch, capsys):
    from logflow.operators import cache

    released, cleared = [], []
    monkeypatch.setattr(cache, "release_all", lambda: released.append(1))
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: cleared.append(1)))

    def bad(name, q):
        raise RuntimeError(f"boom {len(released)}\nsecond line")

    queries = {"bad": _Query(bad), "good": _Query(lambda name, q: 7)}
    errors: dict[str, str] = {}
    got = run_each(spark, queries, lambda name, q: q.fn(name, q), errors, "t", "first: ")
    assert got == {"good": 7}
    assert errors == {"bad": "first: RuntimeError: boom 0"}
    assert len(released) == len(cleared) == 2  # after the failing query too
    # a later pass keeps the first error and still runs every query
    got = run_each(spark, queries, lambda name, q: q.fn(name, q), errors, "t", "again: ")
    assert got == {"good": 7} and errors == {"bad": "first: RuntimeError: boom 0"}
    assert len(released) == 4
    assert "[t] bad failed: again: RuntimeError: boom 2" in capsys.readouterr().err


def test_select_keeps_order_and_rejects_unknown():
    assert list(select(["trace_route_odd", "trace_route_even"])) == [
        "trace_route_odd",
        "trace_route_even",
    ]
    with pytest.raises(SystemExit):
        select(["no_such_query"])


def _r13(name: str) -> dict:
    with open(os.path.join(REPO, "plans", "r13", f"{name}.txt")) as fh:
        return plan_stats(fh.read())


@pytest.mark.parametrize(
    "query, shuffles, broadcasts",
    [("graph_betweenness_sampled", (12, 8), (0, 3)), ("graph_ppr_seed", (10, 10), (4, 4))],
)
def test_plan_stats_counts_exchange_nodes_on_committed_plans(query, shuffles, broadcasts):
    before, after = _r13(f"{query}_before"), _r13(f"{query}_after")
    assert (before["nodes"]["Exchange"], after["nodes"]["Exchange"]) == shuffles
    assert (before["nodes"]["BroadcastExchange"], after["nodes"]["BroadcastExchange"]) == broadcasts
    for stats in (before, after):
        assert stats["unparsed_scans"] == 0
        assert stats["appearances"]["Exchange"] >= stats["nodes"]["Exchange"]


def test_plan_stats_repeats_and_final_plan():
    after = _r13("graph_ppr_seed_after")
    # the persisted frame's lineage is re-embedded: one scan node, 12 reads
    assert after["nodes"]["Scan parquet"] == 1
    assert after["total_scans"] == 12
    [(location, n)] = after["scans"].items()
    assert location.endswith("lineitem.parquet") and n == 12
    # an executed adaptive plan: only the final plan is counted
    text = (
        "== Physical Plan ==\nAdaptiveSparkPlan (4)\n+- == Final Plan ==\n"
        "   ResultQueryStage (2)\n   +- * Project (1)\n+- == Initial Plan ==\n"
        "   Project (3)\n\n\n(1) Project [codegen id : 1]\nOutput [1]: [x#1]\n\n"
        "(2) ResultQueryStage\nOutput [1]: [x#1]\n\n(3) Project\nOutput [1]: [x#1]\n\n"
        "(4) AdaptiveSparkPlan\nOutput [1]: [x#1]\n"
    )
    stats = plan_stats(text)
    assert stats["nodes"]["Project"] == 1
    assert stats["nodes"]["WholeStageCodegen"] == 1


def test_arrow_python_nodes_cover_cogrouped_and_arrow_grouped_kinds():
    # the final plans of ks_click_purchase_drift (cogroup -> applyInPandas)
    # and diag_group_median_arrow (grouped Arrow UDF), cut to the Python
    # nodes; BatchEvalPython pickles rows and is not Arrow-batched
    text = (
        "== Physical Plan ==\n* Project (4)\n+- FlatMapCoGroupsInPandas (3)\n"
        "   :- FlatMapGroupsInArrow (1)\n   +- BatchEvalPython (2)\n\n\n"
        "(1) FlatMapGroupsInArrow\nOutput [1]: [x#1]\n\n"
        "(2) BatchEvalPython\nOutput [1]: [y#2]\n\n"
        "(3) FlatMapCoGroupsInPandas\nOutput [1]: [z#3]\n\n"
        "(4) Project [codegen id : 1]\nOutput [1]: [z#3]\n"
    )
    nodes = plan_stats(text)["nodes"]
    assert nodes["FlatMapCoGroupsInPandas"] == nodes["FlatMapGroupsInArrow"] == 1
    assert arrow_python_nodes(nodes) == 2
    assert arrow_python_nodes(plan_stats("== Physical Plan ==\nProject (1)\n")["nodes"]) == 0


def test_audit_smells_are_plan_stats_predicates(spark):
    from tools.explain_audit import audit_plan

    cross = spark.range(3).crossJoin(spark.range(2).withColumnRenamed("id", "j"))
    hof = spark.range(3).selectExpr("array(id, id + 1) AS a").filter("exists(a, x -> x > 2)")
    assert [k for k, _ in audit_plan(plan_stats(plan(cross)))] == ["bnlj"]
    assert [k for k, _ in audit_plan(plan_stats(plan(hof)))] == ["hof-in-filter"]
    assert audit_plan(plan_stats(plan(spark.range(3)))) == []


def test_parity_all_writes_the_file_only_for_the_whole_registry(spark, sf_dir, tmp_path, monkeypatch):
    from tools import parity_all

    monkeypatch.setattr(parity_all, "REPO", str(tmp_path))
    monkeypatch.setattr(parity_all, "vanilla_spark", lambda cores: spark)
    names = ["trace_route_even", "trace_route_odd"]
    assert parity_all.main([sf_dir, *names]) == 0
    assert os.listdir(tmp_path) == []

    # a whole-registry run (stood in for by the same two queries) writes it
    monkeypatch.setattr(parity_all, "parse_args", lambda argv: (sf_dir, select(names)))
    assert parity_all.main([]) == 0
    tag = os.path.basename(sf_dir)
    [written] = os.listdir(tmp_path)
    assert written == f"PARITY_FULL_{tag}.json"


def test_bench_measures_a_name_subset(spark, sf_dir):
    import bench

    assert bench._parse_args([]) == (0, 1, [])
    assert bench._parse_args(["--shard", "1/4", "a", "b"]) == (1, 4, ["a", "b"])
    assert bench._parse_args(["x", "--shard=2/3"]) == (2, 3, ["x"])
    names = ["trace_route_even", "trace_summary"]
    timings, errors = bench.measure(spark, select(names), sf_dir)
    assert errors == {}
    assert sorted(timings) == sorted(names)
    assert all(t >= 0 for t in timings.values())


def test_compare_frames_requires_matching_dtype_class():
    import pandas as pd

    from tests.oracle import compare_frames

    ints = pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})
    floats = pd.DataFrame({"k": ["a", "b"], "n": [1.0, 2.0]})
    compare_frames(ints, ints.copy(), "same")
    with pytest.raises(AssertionError, match="dtype class int vs float"):
        compare_frames(ints, floats, "int-vs-float")
    # an all-NULL column has no class to disagree with
    compare_frames(pd.DataFrame({"n": [None, None]}), pd.DataFrame({"n": [None, None]}), "nulls")
