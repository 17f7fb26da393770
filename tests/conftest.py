"""Shared pytest fixtures: one SparkSession + one DuckDB connection per run."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_TEST = os.environ.get("LOGFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from logflow.session import get_spark

    s = get_spark(app_name="logflow-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from tests.oracle import duck_views

    con = duck_views(SF_TEST)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST


@pytest.fixture()
def listing_jobs(spark):
    """``run(action, threshold=None)``: run ``action`` and return the
    descriptions of the distributed file-listing jobs it launched, read
    from the SparkContext's status store.  ``threshold`` sets the session's
    parallel-listing threshold for the action (restored after it)."""
    from logflow.session import LISTING_THRESHOLD_CONF as conf
    from perfbench.probe import StatusStore

    store = StatusStore(spark)

    def run(action, threshold: str | None = None) -> list[str]:
        prev = spark.conf.get(conf)
        if threshold is not None:
            spark.conf.set(conf, threshold)
        try:
            start = store.mark()
            action()
            tags = store.job_tags(start, store.mark())
        finally:
            spark.conf.set(conf, prev)
        return [d for _, d in tags if d and d.startswith("Listing leaf files and directories")]

    return run
