"""North-rule execution model: the pipeline runs via
``spark-submit --py-files ed_twitter_spark.zip`` — the packaged library is
shipped to the driver/executors, no repo checkout on the path.

This is the literal launch mode of `plans/pipeline.py`'s docstring; the
test builds the zip, submits from a neutral cwd with PYTHONPATH stripped,
and asserts the full 8-stage DAG lands its checkpoints.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyspark
from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")

_DRIVER = """\
import sys
from ed_twitter_spark.plans.pipeline import main
main(sys.argv)
"""


def _build_zip(path: str) -> None:
    pkg = os.path.join(REPO, "ed_twitter_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))


def test_spark_submit_py_files_pipeline(tmp_path):
    zip_path = str(tmp_path / "ed_twitter_spark.zip")
    _build_zip(zip_path)
    driver = tmp_path / "driver.py"
    driver.write_text(_DRIVER)
    ckpt_root = str(tmp_path / "submit_ckpt")

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--driver-memory",
            "4g",
            "--py-files",
            zip_path,
            str(driver),
            SF_SMOKE,
            ckpt_root,
        ],
        cwd=str(tmp_path),  # neutral cwd: the zip must provide the package
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    ran = [l for l in proc.stdout.splitlines() if l.startswith(("RUN ", "SKIP"))]
    assert len(ran) == 8, proc.stdout[-2000:]
    # final stage checkpointed with lineage on disk
    assert os.path.exists(os.path.join(ckpt_root, "edges", "_lineage.json"))
