"""Session factory: Python call-site capture is off, errors are unchanged,
file listing stays on the driver under a local master."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_call_site_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_missing_column_still_raises_analysis_exception(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column")
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_lists_on_the_driver(master):
    from logflow.session import listing_threshold

    assert listing_threshold(master) == 2**31 - 1


@pytest.mark.parametrize(
    "master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://https://host:6443"]
)
def test_cluster_master_keeps_spark_default(spark, master):
    from logflow.session import listing_threshold

    assert listing_threshold(master) is None
    conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    assert conf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD().defaultValue().get() == 32


def test_partitioned_read_launches_no_listing_job(spark, tmp_path, listing_jobs):
    """A table of 40 partition directories, over Spark's default of 32,
    is listed on the driver: no listing job, same rows."""
    path = str(tmp_path / "parts")
    spark.range(40).withColumn("p", F.col("id")).write.partitionBy("p").parquet(path)
    counts = []

    def read():
        counts.append(spark.read.parquet(path).count())

    assert listing_jobs(read) == []
    # control: under Spark's default the same read lists in a job
    assert len(listing_jobs(read, threshold="32")) >= 1
    assert counts == [40, 40]
