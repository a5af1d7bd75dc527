"""SparkSession factory tuned for the engine.

Replaces the reference's hand-rolled concurrency knobs (100-thread metadata
pool at stacbuilder/collector.py:227-228, async save pools at
stacbuilder/async_utils.py:35-56) with Spark's scheduler + AQE. The tuning
surface is cores, shuffle partitions and adaptive execution, plus the
compile budget: a generated-code cache that holds the engine's whole plan set
and JVM options that keep HotSpot's optimizing compiler (C2) for hot loops.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")
_LOCAL_MASTER = re.compile(r"local\[(\*|\d+)(?:,\d+)?\]")
_INFER_NTZ_KEY = "spark.sql.parquet.inferTimestampNTZ.enabled"

# JVM options for the driver and every executor (they must be set before the
# JVM launches: the driver's for local mode, the executors' for a cluster).
_JAVA_OPTS = " ".join(
    [
        # Whole-stage codegen fuses scan+join+refine+projection into one Java
        # method; complex spatial expressions push it past HotSpot's
        # 8000-bytecode JIT refusal threshold (DontCompileHugeMethods),
        # leaving the hot loop in the bytecode INTERPRETER: measured 9x slower
        # and anti-scaling with cores on this engine's PIP+tiling plan.
        # Lifting the cap restores JIT. Per-method and independent of scale;
        # drop it only if Spark stops fusing stages into huge methods.
        "-XX:-DontCompileHugeMethods",
        # C2 thresholds at 10x the JDK 17 defaults (5000 / 600 / 15000 /
        # 40000). On a 4-core host C2 took 27-29 of a cold perfbench pass's
        # 58-67 cpu-s, mostly on Catalyst, planner and py4j code that a short
        # job runs only a few thousand times; with these it takes 10-15 and
        # the pass 46-57. A per-row loop in a task still crosses 400k
        # back-edges in well under a second, so hot loops still reach C2,
        # only later: the cold pass's wall rose 5-7%. Safe at 1000 executors:
        # tasks there are longer, so their loops reach C2 as before, and the
        # flags only keep C2 off code too cold to repay it. Fully C1
        # (-XX:TieredStopAtLevel=1) halved cold CPU but doubled warm task
        # CPU, so it was rejected. Drop these where first-pass wall time
        # matters more than CPU, or on a JDK whose defaults differ.
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=150000",
        "-XX:Tier4BackEdgeThreshold=400000",
        os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
    ]
).strip()

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
    # Spark's generated-class cache (a static conf, read at JVM start). The
    # default of 100 entries is smaller than the engine's plan set (one
    # text_curation perfbench pass generates ~170 distinct sources, one
    # bench.py suite pass 537), so every repeated query compiled again in
    # Janino and was JIT-compiled again: 165 compiles per warm text_curation
    # pass, 27 per catalog_build pass; 0-2 with 2000 (~3.7x the suite). A
    # generated class averages 2.9 kB of bytecode, so a full cache holds
    # ~6 MB per JVM, at any cluster size: it is as safe on 1000
    # executors as on local[4]. Drop it once Spark's default exceeds the
    # engine's plan set.
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.driver.extraJavaOptions": _JAVA_OPTS,
    "spark.executor.extraJavaOptions": _JAVA_OPTS,
}


def get_spark(
    app: str = "stac-catalog-builder-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` if set, else to
    spark-submit's ``--master`` (``local[*]`` under plain python). Shuffle
    partitions default to 2x the cores (``local[N]``, the env var or
    ``local_cores()``): "2x total executor cores", which AQE coalesces.
    """
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(env_cpus) if env_cpus else local_cores()
    if master is None and env_cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        m = _LOCAL_MASTER.fullmatch(master or "")
        if m is not None:
            cpus = local_cores() if m[1] == "*" else int(m[1])
        shuffle_partitions = 2 * cpus

    builder = SparkSession.builder.appName(app)
    if master is not None:
        builder = builder.master(master)
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


def local_cores() -> int:
    """The CPUs this process may run on (its affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))
