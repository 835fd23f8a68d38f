"""North-rule packaging check: the pipeline runs via spark-submit
--py-files with every import resolved from a zip built by
scripts/package.sh (cwd outside the repo, so the zip is the only source of
the package), and the committed dist/timberline_spark.zip is that zip."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this host"
)
def test_spark_submit_py_files_runs_pipeline():
    work = tempfile.mkdtemp(prefix="tl_submit_")
    try:
        # build from a copy (outside the submit cwd), so the test never
        # rewrites the tracked zip and the source tree is not importable
        build = f"{work}/build"
        shutil.copytree(f"{REPO}/timberline_spark", f"{build}/timberline_spark")
        os.makedirs(f"{build}/scripts")
        shutil.copy(f"{REPO}/scripts/package.sh", f"{build}/scripts")
        subprocess.run(["sh", f"{build}/scripts/package.sh"], check=True)
        built = f"{build}/dist/timberline_spark.zip"
        with open(built, "rb") as a, open(f"{REPO}/dist/timberline_spark.zip", "rb") as b:
            assert a.read() == b.read(), "dist/timberline_spark.zip is stale: run scripts/package.sh"
        shutil.copy(f"{REPO}/run_pipeline.py", work)
        shutil.copy(built, work)
        r = subprocess.run(
            [
                SPARK_SUBMIT,
                "--py-files", f"{work}/timberline_spark.zip",
                f"{work}/run_pipeline.py",
                "--sf-dir", "/root/testdata/sf0.001",
                "--out", f"{work}/out",
                "--run-id", "submit_t",
                "--cores", "4",
            ],
            cwd=work,  # NOT the repo: imports must come from the zip
            capture_output=True,
            text=True,
            timeout=400,
            env={**os.environ, "PYSPARK_PYTHON": sys.executable},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        payload = json.loads(
            [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert payload["run_id"] == "submit_t"
        assert payload["counts"]["sink_errors"] > 0
        assert os.path.isdir(f"{work}/out/analysis_results")
    finally:
        shutil.rmtree(work, ignore_errors=True)
