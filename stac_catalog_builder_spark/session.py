"""SparkSession factory tuned for the engine.

Replaces the reference's hand-rolled concurrency knobs (100-thread metadata
pool at stacbuilder/collector.py:227-228, async save pools at
stacbuilder/async_utils.py:35-56) with Spark's scheduler + AQE: the only
tuning surface is cores, shuffle partitions and adaptive execution.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")
_INFER_NTZ_KEY = "spark.sql.parquet.inferTimestampNTZ.enabled"

# Configs chosen for a 1000-executor / 100 TB deployment and scaled down for
# local[N] tests: AQE re-plans shuffles at runtime (coalesce tiny partitions,
# split skewed ones, convert SMJ->broadcast), Arrow keeps the pandas-UDF
# boundary cheap, UTC pins timestamp semantics for oracle comparison.
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst=true (the Spark default): when post-shuffle bytes are
    # below parallelism x advisory size, coalesce down to ~1MB partitions
    # that still respect the core count instead of collapsing to ONE task.
    # r5 ran with "false", which serialized every post-shuffle stage at
    # bench scale (a 10MB aggregate input coalesced to a single 64MB-target
    # partition — measured: hll_distinct register build and the LSH
    # signature stages ran on one core). At production scale partitions
    # exceed the advisory size and the flag is irrelevant, so "true" is the
    # scale-adaptive setting, not a local tune.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # pandas UDF batches: big enough to amortize Arrow transfer, small enough
    # to bound executor memory per batch at wide rows (binary image columns).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # 128 MB input splits — the parquet-side default that keeps a 100 TB scan
    # at ~800k tasks on 1000 executors; local tests override nothing.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Whole-stage codegen fuses scan+join+refine+projection into one Java
    # method; complex spatial expressions push it past HotSpot's 8000-bytecode
    # JIT refusal threshold (DontCompileHugeMethods), leaving the hot loop in
    # the bytecode INTERPRETER: measured 9x slower and anti-scaling with
    # cores on this engine's PIP+tiling plan. Lifting the cap restores JIT.
    # (Must be set before JVM launch — driver for local mode, executors for
    # cluster mode.)
    "spark.driver.extraJavaOptions": (
        "-XX:-DontCompileHugeMethods "
        + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    ).strip(),
    "spark.executor.extraJavaOptions": (
        "-XX:-DontCompileHugeMethods "
        + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    ).strip(),
}


def get_spark(
    app: str = "stac-catalog-builder-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to 2x the local core count — the
    per-cluster rule is "2x total executor cores", which AQE then coalesces.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if not master.startswith("local[") else _parse_local_cores(master, cpus)
        shuffle_partitions = 2 * n

    builder = SparkSession.builder.appName(app).master(master)
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet`` for a single parquet FILE, with the schema
    pre-read from the file footer driver-side (pyarrow, ~1ms) instead of
    Spark's 1-task schema-inference job (~0.05-0.15s + a driver gap, paid
    once per read call — i.e. once per query per table at bench cadence,
    and by far the dominant cost of creating a DataFrame on a degraded
    host). Exactly inference-equivalent — no hardcoded schemas, the same
    footer metadata read a different way: ``prefer_timestamp_ntz`` follows
    the session's ``spark.sql.parquet.inferTimestampNTZ.enabled``, as
    Spark's own mapping does (isAdjustedToUTC=false -> NTZ only while it is
    on); tests/test_read_schema.py pins schema equality for every shipped
    table at every SF tier. Only local files (no ``scheme://`` prefix, or
    ``file://``) take the footer path; remote URIs and directories go
    through plain ``spark.read.parquet`` (Spark's filesystem layer resolves
    the scheme, and multi-file footer merge is Spark's job)."""
    local = path[len("file://") :] if path.startswith("file://") else path
    if _URI_SCHEME.match(local) or os.path.isdir(local):
        return spark.read.parquet(path)
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    ntz = spark.conf.get(_INFER_NTZ_KEY, "true").lower() == "true"
    schema = from_arrow_schema(pq.read_schema(local), prefer_timestamp_ntz=ntz)
    return spark.read.schema(schema).parquet(path)


def _parse_local_cores(master: str, default: int) -> int:
    inner = master[len("local[") : -1]
    if inner == "*":
        return os.cpu_count() or default
    try:
        return int(inner)
    except ValueError:
        return default
