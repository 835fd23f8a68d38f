"""The session settings the pipeline's speed depends on."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from timberline_spark.pipeline import _write_by_date, run_pipeline
from timberline_spark.session import NIO_FS_JAR, REPO_ROOT

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


def test_local_writes_start_no_process(spark, tmp_path):
    """Writing a partitioned table starts no process. Hadoop's own local
    filesystem, without libhadoop, forks /bin/chmod for every file, .crc file
    and directory it creates (about 3 per date here); the session's
    filesystem sets the same modes through java.nio."""
    jvm = spark._jvm
    day = F.timestamp_seconds(1_700_000_000 + F.col("id") % 12 * 86_400)
    df = spark.range(240).withColumn("p_date", F.date_format(day, "yyyy-MM-dd"))
    _write_by_date(df, str(tmp_path / "warm"))
    jfr = jvm.java.io.File(str(tmp_path / "r.jfr")).toPath()
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        assert _write_by_date(df, str(tmp_path / "t")) == 240
        rec.stop()
        rec.dump(jfr)
    finally:
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jfr)
    assert [events.get(i).getString("command") for i in range(events.size())] == []

    # the modes Hadoop's default gives: its defaults under its configured umask
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(spark.sparkContext._jsc.hadoopConfiguration())
    dir_mode = perm.getDirDefault().applyUMask(umask).toShort()
    file_mode = perm.getFileDefault().applyUMask(umask).toShort()
    dates = sorted(os.listdir(tmp_path / "t"))
    assert len(dates) == 12
    for d in dates:
        path = tmp_path / "t" / d
        assert os.stat(path).st_mode & 0o7777 == dir_mode == 0o755
        files = sorted(os.listdir(path))
        data = [f for f in files if not f.endswith(".crc")]
        assert len(data) == 1 and files == sorted(data + [f".{f}.crc" for f in data])
        for f in files:
            assert os.stat(path / f).st_mode & 0o7777 == file_mode == 0o644


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on this host")
def test_committed_jar_is_built_from_its_source(tmp_path):
    """The committed filesystem jar is what scripts/build_jar.sh makes."""
    built = tmp_path / "timberline-fs.jar"
    subprocess.run(["sh", f"{REPO_ROOT}/scripts/build_jar.sh", str(built)], check=True)
    with open(built, "rb") as a, open(NIO_FS_JAR, "rb") as b:
        assert a.read() == b.read(), "jvm/timberline-fs.jar is stale: run scripts/build_jar.sh"
