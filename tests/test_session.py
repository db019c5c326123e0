"""Session settings the engine pins."""

from pyspark.errors.utils import is_debugging_enabled


def test_dataframe_origin_capture_is_off(spark):
    """Per-call origin capture costs py4j round trips on every F.* and
    Column call; the engine's session turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
