"""The session factory: call-site capture is off, and an analysis error
still names the unresolved column and its condition."""

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("project", [
    pytest.param(lambda df: df.selectExpr("id", "no_such_col + 1"), id="selectExpr"),
    pytest.param(lambda df: df.select("id", "no_such_col"), id="select"),
])
def test_unknown_column_error_names_it(spark, project):
    with pytest.raises(AnalysisException) as err:
        project(spark.range(1)).schema
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN.")
    assert "no_such_col" in err.value.getMessageParameters()["objectName"]
