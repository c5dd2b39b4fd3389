"""Python workers import ``gdal_spark`` wherever the driver starts.

Workers start in the driver's working directory; a driver started
outside the repo root used to fail every pandas-UDF operator with
``ModuleNotFoundError: gdal_spark`` in the worker."""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# entry() runs q11, the point-in-polygon join, whose exact test is a
# pandas UDF that imports gdal_spark in the worker.
SCRIPT = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
import __spark_entry__ as e
from gdal_spark import get_spark
spark = get_spark("worker-pythonpath", cores=2)
print("ROWS", len(e.entry(spark).collect()))
spark.stop()
"""


def test_pandas_udf_query_runs_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS " in r.stdout
    assert int(r.stdout.split("ROWS ")[1].split()[0]) > 0
