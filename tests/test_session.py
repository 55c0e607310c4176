"""session.get_spark under spark-submit: the submitted master wins."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, sys, time
sys.path.insert(0, {root!r})
from sparkspatial.session import get_spark

spark = get_spark(app="submit-master-test")
sc = spark.sparkContext
status = sc._jsc.sc().getExecutorMemoryStatus()  # driver included
deadline = time.monotonic() + 90
while status.size() < 3 and time.monotonic() < deadline:
    time.sleep(0.5)
    status = sc._jsc.sc().getExecutorMemoryStatus()
print(json.dumps({{"master": sc.master, "executors": status.size() - 1,
                  "rows": spark.range(1000).count()}}))
spark.stop()
"""


def test_get_spark_honours_spark_submit_master(tmp_path):
    """Under ``spark-submit --master local-cluster[2,1,1024]`` get_spark
    keeps the submitted master, and both executors register (a
    hard-coded local[N] master would run everything in the driver)."""
    submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit not found (PATH or SPARK_HOME)")
    script = tmp_path / "submit_master.py"
    script.write_text(SCRIPT.format(root=ROOT))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    out = subprocess.run(
        [submit, "--master", "local-cluster[2,1,1024]",
         "--conf", "spark.ui.enabled=false", str(script)],
        capture_output=True, text=True, env=env, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"master": "local-cluster[2,1,1024]", "executors": 2,
                   "rows": 1000}
