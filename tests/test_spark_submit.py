"""The spark-submit entry point (jobs/linkage_job.py), run the way a cluster
runs it: the package shipped as a --py-files zip, the master given on the
command line, and the summary line read from the driver's stdout."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark

from automatedreclin_spark.fixtures import synth_files

REPO = Path(__file__).resolve().parents[1]


def _spark_submit() -> Path:
    home = os.environ.get("SPARK_HOME") or Path(pyspark.__file__).parent
    return Path(home) / "bin" / "spark-submit"


def test_linkage_job_through_spark_submit(spark, tmp_path):
    A, B, labels = synth_files(spark, n_a=60, n_b=120)
    for name, df in (("a", A), ("b", B), ("labels", labels)):
        df.write.parquet(str(tmp_path / name))
    subprocess.run([sys.executable, str(REPO / "scripts" / "make_pyfiles.py")],
                   check=True, capture_output=True)

    # The job must import the package from the zip: drop the PYTHONPATH
    # entry get_spark adds for local workers, and run outside the checkout.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [str(_spark_submit()), "--master", "local[2]",
         "--py-files", str(REPO / "dist" / "automatedreclin_spark.zip"),
         str(REPO / "jobs" / "linkage_job.py"),
         "--files-a", str(tmp_path / "a"), "--files-b", str(tmp_path / "b"),
         "--labels", str(tmp_path / "labels"),
         "--checkpoint-dir", str(tmp_path / "ck"),
         "--output", str(tmp_path / "out")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("LINKAGE_SUMMARY ")]
    assert len(lines) == 1, out.stdout[-3000:]
    summary = json.loads(lines[0].split(" ", 1)[1])
    assert summary["eval"]["pairwise_f1_all"] >= 0.99, summary
    assert summary["invariant_violations"] == 0, summary
