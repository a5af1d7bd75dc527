"""``get_spark``'s session defaults.

Under spark-submit, with no ``master`` argument and no ``SPARK_GRAFT_CPUS``,
the session must run on the launcher's ``--master`` instead of forcing its
own. The compile budget: the generated-class cache holds a whole query set,
so a repeated run compiles nothing, and the driver JVM carries the raised C2
thresholds. Every driver-built frame is one JVM ``LocalRelation``
(``local_frame``), and the engine builds frames no other way."""

from __future__ import annotations

import ast
import math
import os
import shutil
import subprocess
from pathlib import Path

import pyspark
import pytest

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


@pytest.mark.parametrize(
    "key, value",
    [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"),
        ("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)),
    ],
)
def test_session_reads_the_spark_defaults_it_relies_on(spark, key, value):
    # get_spark sets none of these: a Spark upgrade that changes one of them
    # changes how every shuffle, pandas-UDF batch or scan split is planned
    got = spark.conf.get(key)
    assert got.removesuffix("b") == value, got  # byte confs read "<n>b"


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString().split("\n")[0]


_EDGE_SCHEMA = "i bigint, s string, d double, b boolean"
_EDGE_ROWS = [
    (1, "a", 1.5, True),
    (None, None, None, None),
    (2**63 - 1, "", -0.0, False),
    (-(2**63), "\u00e9", 1e308, None),
    (0, "x", float("nan"), None),
    (7, "y", float("-inf"), True),
]


def _cells(rows):
    # repr keeps nan, -0.0 and inf apart (nan != nan under ==)
    return [tuple(repr(v) for v in r) for r in rows]


def test_local_frame_rows_equal_create_dataframe(spark):
    from stac_catalog_builder_spark.session import local_frame

    got = local_frame(spark, _EDGE_ROWS, _EDGE_SCHEMA)
    want = spark.createDataFrame(_EDGE_ROWS, _EDGE_SCHEMA)
    assert got.schema == want.schema
    assert _cells(got.collect()) == _cells(want.collect())
    assert _leaf(got).startswith("LocalRelation")
    assert _leaf(want).startswith("LogicalRDD")  # what local_frame avoids
    assert math.isnan(got.collect()[4].d)


def test_local_frame_is_local_relation_for_every_input(spark):
    import pandas as pd

    from stac_catalog_builder_spark.session import local_frame
    from stac_catalog_builder_spark.sources.config import (
        ASSET_CONFIG_SCHEMA,
        asset_config_df,
        load_collection_config,
    )

    empty = local_frame(spark, [], _EDGE_SCHEMA)
    assert _leaf(empty).startswith("LocalRelation")
    assert empty.count() == 0 and empty.schema == spark.createDataFrame([], _EDGE_SCHEMA).schema

    # nested array<struct>, equal to the tuple-list path row for row
    cfg = asset_config_df(spark, load_collection_config())
    assert cfg.schema == ASSET_CONFIG_SCHEMA
    assert _leaf(cfg).startswith("LocalRelation")
    rows = [tuple(r) for r in cfg.collect()]
    assert rows and spark.createDataFrame(rows, ASSET_CONFIG_SCHEMA).collect() == cfg.collect()

    # pandas: by position, with or without a schema, empty or not
    pdf = pd.DataFrame({"x": [3, None], "y": ["p", None]})
    typed = local_frame(spark, pdf, "a bigint, b string")
    assert typed.collect() == [(3, "p"), (None, None)]
    assert local_frame(spark, pdf.iloc[:0], "a bigint, b string").count() == 0
    inferred = local_frame(spark, pd.DataFrame({"k": [1], "v": [[0.5, 1.5]]}))
    assert inferred.schema.simpleString() == "struct<k:bigint,v:array<double>>"
    for df in (typed, inferred):
        assert _leaf(df).startswith("LocalRelation")

    # with the pandas Arrow path off, createDataFrame pickles; local_frame not
    off = spark.newSession()
    off.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    ints = pd.DataFrame({"a": [1, 2]})
    for df in (
        local_frame(off, _EDGE_ROWS, _EDGE_SCHEMA),
        local_frame(off, ints, "a bigint"),
        local_frame(off, [], ASSET_CONFIG_SCHEMA),
    ):
        assert _leaf(df).startswith("LocalRelation")
    assert _leaf(off.createDataFrame(ints, "a bigint")).startswith("LogicalRDD")


def test_local_frame_rejects_a_mismatched_schema(spark):
    from stac_catalog_builder_spark.session import local_frame

    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a bigint")
    with pytest.raises(TypeError):
        local_frame(spark, [(1,)])


def test_engine_builds_frames_only_through_local_frame():
    # spark.createDataFrame over a tuple list plans a pickled LogicalRDD, and
    # every job over one starts Python workers; the engine's one call is the
    # Arrow-table call inside session.local_frame
    files = sorted((REPO / "stac_catalog_builder_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    calls = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                rel = path.relative_to(REPO).as_posix()
                calls.append((rel, owner.get(node), node.lineno))
    outside = [c for c in calls if c[:2] != ("stac_catalog_builder_spark/session.py", "local_frame")]
    assert not outside, outside
    assert len(calls) == 2, calls
