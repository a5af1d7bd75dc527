"""``get_spark``'s session defaults.

Under spark-submit, with no ``master`` argument and no ``SPARK_GRAFT_CPUS``,
the session must run on the launcher's ``--master`` instead of forcing its
own. The compile budget: the generated-class cache holds a whole query set,
so a repeated run compiles nothing, and the driver JVM carries the raised C2
thresholds."""

from __future__ import annotations

import os
import shutil
import subprocess
from pathlib import Path

import pyspark

from conftest import SF0001

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


def test_repeated_query_set_reuses_generated_classes(spark):
    # minhash + simhash + dedup_groups at sf0.001 compile ~170 classes on a
    # fresh JVM, more than Spark's default cache of 100 entries holds: there
    # the second run compiled 163 of them again
    import __spark_entry__ as e

    from stac_catalog_builder_spark import cache

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = e.queries()

    def run_set() -> int:
        n0 = compiles.getCount()
        with cache.run():
            for q in ("minhash_pairs", "simhash_pairs", "dedup_groups"):
                qs[q](spark, SF0001).toPandas()
        return compiles.getCount() - n0

    first = run_set()
    second = run_set()
    assert second <= 5, f"first run compiled {first} classes, second {second}"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_driver_jvm_carries_c2_thresholds(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(mx.getInputArguments())
    for flag in (
        "-XX:-DontCompileHugeMethods",
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=150000",
        "-XX:Tier4BackEdgeThreshold=400000",
    ):
        assert flag in args, sorted(args)
