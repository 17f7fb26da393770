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
