"""The `get_spark` session's conf and what its errors still report."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_python_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_error_still_names_the_column(spark):
    with pytest.raises(AnalysisException, match="no_such_column") as exc_info:
        spark.range(1).select("no_such_column").collect()
    assert exc_info.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
