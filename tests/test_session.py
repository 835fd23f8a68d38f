"""The session settings the pipeline's speed depends on."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled

from timberline_spark.pipeline import run_pipeline

from .conftest import SF_TINY


def test_dataframe_debugging_is_off(spark):
    """PySpark reads the debugging flag once per process; while it is on,
    every Column call captures its Python call site over py4j."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_back_to_back_runs_reuse_generated_code(spark, tmp_path):
    """A second run finds every whole-stage class in Spark's codegen cache.
    With the default 100 entries it recompiled about 150 of them, and with
    an unseeded enrich fence one (its random shuffle seed is a literal in
    the generated code)."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run_pipeline(spark, SF_TINY, str(tmp_path / "first"), "first")
    before = compiled.getCount()
    run_pipeline(spark, SF_TINY, str(tmp_path / "second"), "second")
    assert compiled.getCount() - before == 0
