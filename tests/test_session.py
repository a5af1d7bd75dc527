"""``get_spark`` under spark-submit: with no ``master`` argument and no
``SPARK_GRAFT_CPUS``, the session must run on the launcher's ``--master``
instead of forcing its own."""

from __future__ import annotations

import os
import shutil
import subprocess
from pathlib import Path

import pyspark

REPO = Path(__file__).resolve().parents[1]


def test_spark_submit_master_applies(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from stac_catalog_builder_spark.session import get_spark\n"
        "spark = get_spark(app='master-probe')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "print('PARTITIONS=' + spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "spark.stop()\n"
    )
    submit = shutil.which("spark-submit") or str(
        Path(pyspark.__file__).parent / "bin" / "spark-submit"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "512m", str(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert "MASTER=local[2]" in lines, proc.stdout
    assert f"PARTITIONS={2 * len(os.sched_getaffinity(0))}" in lines, proc.stdout
