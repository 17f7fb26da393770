"""Table source: parquet schemas are inferred once per file identity."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from logflow.sources.tables import load_table


def _jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"schema-reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema reuse test")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, path, columns: dict, as_dir: bool) -> None:
    if as_dir:
        spark.createDataFrame(pa.table(columns).to_pandas()).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(path))
    else:
        pq.write_table(pa.table(columns), path)


def test_second_load_launches_no_job_and_keeps_schema(spark, tmp_path):
    _write(spark, tmp_path / "t.parquet", {"a": [1, 2, 3], "s": ["x", "y", "z"]}, False)
    first, first_jobs = _jobs_during(spark, lambda: load_table(spark, "t", str(tmp_path)))
    second, second_jobs = _jobs_during(spark, lambda: load_table(spark, "t", str(tmp_path)))
    # the first load infers the schema with a footer job; the second reuses it
    assert first_jobs >= 1
    assert second_jobs == 0
    fresh = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert second.schema == fresh.schema == first.schema
    assert sorted(second.collect()) == sorted(fresh.collect())


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewritten_table_is_inferred_again(spark, tmp_path, as_dir):
    path = tmp_path / "t.parquet"
    _write(spark, path, {"a": [1, 2], "b": ["p", "q"]}, as_dir)
    assert load_table(spark, "t", str(tmp_path)).columns == ["a", "b"]
    _write(spark, path, {"a": [3, 4, 5], "c": [0.5, 1.5, 2.5]}, as_dir)
    df, jobs = _jobs_during(spark, lambda: load_table(spark, "t", str(tmp_path)))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sorted(df.collect()) == sorted(spark.read.parquet(str(path)).collect())
