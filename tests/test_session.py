"""``get_spark`` sessions ship the package to their Python workers."""

from __future__ import annotations

import os
import subprocess
import sys

from cdc_spark.session import PACKAGE_ROOT

# a Python UDF whose body imports cdc_spark, run from a directory that
# does not hold the package and with PYTHONPATH unset: the worker finds
# the package only through the session's executor environment
SCRIPT = f"""
import sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from pyspark.sql import functions as F
from cdc_spark.session import get_spark

def probe(i):
    import cdc_spark.catalog
    return i + 1

spark = get_spark("worker_path", master="local[1]")
print(spark.range(2).select(F.udf(probe, "long")("id")).collect())
spark.stop()
"""


def test_python_worker_imports_package_outside_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "[Row(probe(id)=1), Row(probe(id)=2)]" in out.stdout
