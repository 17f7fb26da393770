"""Session factory: Python call-site capture is off, errors are unchanged."""

from __future__ import annotations

import pytest


def test_call_site_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_missing_column_still_raises_analysis_exception(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column")
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
