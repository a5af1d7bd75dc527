"""Snapshot / commit-table checkpointing with anti-join resume.

Reproduces the reference's resumability semantics — spill slice intermediates
to (geo)parquet, skip already-stored slots on re-run, restore and concatenate
(stacbuilder/terracatalog.py:339-396, 493-551) — as Iceberg-style tables on
plain parquet (no Iceberg jars in this environment; the layout mirrors
snapshot manifests + a per-partition commit table the north rule requires):

    <root>/<stage>/data/part_key=<v>/...parquet      partitioned stage output
    <root>/<stage>/_metrics/...parquet               one commit row per partition:
                                                     (part_key, n_rows, stage)
    <root>/<stage>/_snapshots.json                   append-only snapshot log
    <root>/<stage>/_schema.json                      written schema + partition column

A partition is committed once its ``_metrics`` row exists. Resume = left_anti
join of the pending work's partition keys against ``_metrics`` (the
reference's "skip if stored" check, terracatalog.py:366-375), so a re-run
only computes missing partitions.

Commit protocol, exactly-once per partition:
1. record the stage schema in ``_schema.json`` (so a crash anywhere later
   still leaves the stage readable); a write whose schema differs from the
   recorded one is refused, and ``read_stage`` reads with it;
2. write the data with **dynamic partition overwrite** (the writer option
   ``partitionOverwriteMode=dynamic`` + ``mode("overwrite")``; the session
   conf is never touched), so a crash-retry *replaces* a partially-committed
   partition instead of appending duplicate rows;
3. count rows per partition by a *file-level read-back* of the data
   (partition-column-only scan = parquet footer metadata), never by
   re-running the upstream stage DAG, which would double the cost of every
   checkpointed write at 100 TB;
4. upsert the ``_metrics`` rows of the new and the recounted partitions,
   last: the commit marker. ``_metrics`` is partitioned by ``part_key`` and
   written with dynamic overwrite too, so every step is an idempotent
   per-partition upsert and any crash/retry interleaving converges to one
   copy of data and one commit row per partition; a crash before step 4
   leaves the partition pending;
5. append the snapshot line (it records the schema its write used).

A stage that also holds a ``_lineage`` table (an older layout that wrote a
second marker after ``_metrics``) reads unchanged: ``_lineage`` is never
read, and every key it committed has a ``_metrics`` row.

Partition keys round-trip as **strings** (their Hive directory form): every
readback passes a schema with the key as a string, so keys are stable and
engine-independent ("007" stays "007", never 7).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


def _dynamic_overwrite(
    df: DataFrame, path: Path, part_col: str, cluster: bool = True
) -> None:
    """Partition-scoped idempotent upsert: overwrite ONLY the partitions
    present in ``df``, leave all others untouched.

    ``cluster`` repartitions by the partition column first (guide §6): one
    parallel writer per directory instead of N input tasks each appending a
    file to every directory (N*P small files at scale; fully serial when
    the input is a single-row-group scan). Skipped for the dimension-sized
    commit-row upserts, where a shuffle is pure overhead."""
    if cluster:
        df = df.repartition(F.col(part_col))
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(str(path))
    )


def _read_keyed(spark: SparkSession, path: Path, schema: T.StructType) -> DataFrame:
    """Read a part_key-partitioned table so the partition key always comes
    back as the string written in the dir name.

    ``schema``: the known readback schema (data columns in file order, the
    partition column LAST as string — what inference-off reads produce).
    The store wrote every table it reads back, so the schema is available
    without Spark's 1-task footer-inference job per read, and it fixes the
    key's type without touching session conf.
    tests/test_checkpoint.py pins known-schema == inferred-schema reads."""
    return spark.read.schema(schema).parquet(str(path))


def _readback_schema(written: T.StructType, part_col: str) -> T.StructType:
    """Schema a partitioned write reads back as: the written columns minus
    the partition column (those live in file bodies, original order), then
    the partition column appended as a nullable string (inference-off
    directory-name identity). All fields nullable, matching parquet scan
    inference."""
    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in written.fields
        if f.name != part_col
    ]
    fields.append(T.StructField(part_col, T.StringType(), True))
    return T.StructType(fields)


# commit rows are written as (part_key, n_rows, stage) partitioned by part_key
_METRICS_READBACK = T.StructType(
    [
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("stage", T.StringType(), True),
        T.StructField("part_key", T.StringType(), True),
    ]
)


def _has_parquet(p: Path) -> bool:
    return any(p.glob("**/*.parquet"))


class SnapshotStore:
    """Checkpointed, partition-resumable stage writer."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths --------------------------------------------------------------
    def _stage(self, stage: str) -> Path:
        return self.root / stage

    def _data_path(self, stage: str) -> Path:
        return self._stage(stage) / "data"

    def _metrics_path(self, stage: str) -> Path:
        return self._stage(stage) / "_metrics"

    def _snapshots_path(self, stage: str) -> Path:
        return self._stage(stage) / "_snapshots.json"

    def _schema_path(self, stage: str) -> Path:
        return self._stage(stage) / "_schema.json"

    # -- commit table -------------------------------------------------------
    def _commit_table(self, spark: SparkSession, stage: str) -> DataFrame | None:
        p = self._metrics_path(stage)
        if not _has_parquet(p):
            return None
        return _read_keyed(spark, p, _METRICS_READBACK)

    def committed(self, spark: SparkSession, stage: str) -> dict[str, int]:
        """``{part_key: n_rows}`` of every committed partition (one collect
        of the dimension-sized commit table; empty before the first commit)."""
        done = self._commit_table(spark, stage)
        if done is None:
            return {}
        return {r.part_key: r.n_rows for r in done.select("part_key", "n_rows").collect()}

    def pending(self, work: DataFrame, spark: SparkSession, stage: str, key: str) -> DataFrame:
        """Anti-join the work set against the commit table (J7). Keys are
        compared in string form (their partition-directory identity); a left
        anti join needs no ``distinct`` on its right side."""
        done = self._commit_table(spark, stage)
        if done is None:
            return work
        done_keys = done.select(F.col("part_key").alias("__done_key"))
        return work.join(
            done_keys, work[key].cast("string") == F.col("__done_key"), "left_anti"
        )

    # -- write --------------------------------------------------------------
    def write_stage(
        self, df: DataFrame, stage: str, part_col: str, snapshot_note: str = ""
    ) -> dict:
        """Write a stage partitioned by ``part_col`` with exactly-once
        per-partition semantics (see module docstring for the protocol).
        Raises ``ValueError`` before writing anything when the readback
        schema differs from the stage's recorded one: old partitions would
        no longer read back under one schema (write a new stage)."""
        spark = df.sparkSession
        self._check_schema(spark, stage, df.schema, part_col)
        stored = self.committed(spark, stage)

        # 1. schema record before any data lands (atomic replace; rewriting
        #    it after a passed check changes nothing the readback sees)
        rec = self._schema_path(stage)
        rec.parent.mkdir(parents=True, exist_ok=True)
        tmp = rec.with_name(rec.name + ".tmp")
        tmp.write_text(json.dumps({"part_col": part_col, "schema": df.schema.jsonValue()}))
        tmp.replace(rec)

        # 2. data: dynamic partition overwrite (idempotent on crash-retry)
        _dynamic_overwrite(df, self._data_path(stage), part_col)

        # 3. partitions just landed, with per-partition counts — ONE
        #    partition-column-only scan (parquet metadata; never a
        #    recomputation of df's DAG). Keys come from the read-back COLUMN
        #    VALUES, not directory names: Hive escapes special characters
        #    (space, ':', '/', '%', '=') in paths, so a directory listing
        #    would never match the commit table's raw values and such
        #    partitions would recommit forever.
        readback = _read_keyed(
            spark, self._data_path(stage), _readback_schema(df.schema, part_col)
        )
        counts = {
            r.part_key: r.n_rows
            for r in readback.groupBy(F.col(part_col).alias("part_key"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }
        # A committed partition can be INTENTIONALLY rewritten (a call outside
        # the pending() flow); its commit row must not go stale. Refresh every
        # committed key whose current count disagrees with its stored one, in
        # addition to the new keys. (Count equality is the cheap staleness
        # signal available from the footer-only scan; a rewrite that keeps
        # the exact row count refreshes nothing — callers needing content
        # versioning should write a new stage.)
        new_keys = [k for k in counts if k not in stored]
        refreshed = [k for k in counts if k in stored and stored[k] != counts[k]]
        if new_keys or refreshed:
            # 4. commit rows last = commit marker (an idempotent upsert)
            commit_df = local_frame(
                spark,
                [(k, counts[k], stage) for k in new_keys + refreshed],
                "part_key string, n_rows bigint, stage string",
            )
            _dynamic_overwrite(
                commit_df, self._metrics_path(stage), "part_key", cluster=False
            )

        snap = {
            "ts": time.time(),
            "stage": stage,
            "part_col": part_col,
            "note": snapshot_note,
            "partitions": sorted(new_keys),
            "refreshed": sorted(refreshed),
            "schema": df.schema.jsonValue(),
        }
        with open(self._snapshots_path(stage), "a") as f:
            f.write(json.dumps(snap, default=str) + "\n")
        return snap

    def _recorded_schema(self, spark: SparkSession, stage: str) -> T.StructType | None:
        """Readback schema of the stage's data, or None if it has none. A
        stage written before the store kept ``_schema.json`` falls back to
        its data footers (one inference job), with the partition column
        named by its directories and read back as a string."""
        rec = self._schema_path(stage)
        if rec.exists():
            r = json.loads(rec.read_text())
            return _readback_schema(T.StructType.fromJson(r["schema"]), r["part_col"])
        data = self._data_path(stage)
        if not _has_parquet(data):
            return None
        part_col = next(d.name.split("=", 1)[0] for d in data.iterdir() if "=" in d.name)
        return _readback_schema(spark.read.parquet(str(data)).schema, part_col)

    def _check_schema(
        self, spark: SparkSession, stage: str, written: T.StructType, part_col: str
    ) -> None:
        recorded = self._recorded_schema(spark, stage)
        if recorded is None:
            return
        old = {f.name: f.dataType.simpleString() for f in recorded.fields}
        new = {
            f.name: f.dataType.simpleString()
            for f in _readback_schema(written, part_col).fields
        }
        diff = [
            f"{name}: {old.get(name, '(absent)')} -> {new.get(name, '(absent)')}"
            for name in sorted(old.keys() | new.keys())
            if old.get(name) != new.get(name)
        ]
        if diff:
            raise ValueError(
                f"stage {stage!r} was written with a different schema; "
                f"differing fields: {', '.join(diff)}"
            )

    # -- read ---------------------------------------------------------------
    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        schema = self._recorded_schema(spark, stage)
        if schema is None:
            raise ValueError(f"stage {stage!r} has no data")
        return _read_keyed(spark, self._data_path(stage), schema)

    def snapshots(self, stage: str) -> list[dict]:
        p = self._snapshots_path(stage)
        if not p.exists():
            return []
        return [json.loads(line) for line in p.read_text().splitlines() if line]

    def read_stage_as_of(
        self, spark: SparkSession, stage: str, snapshot: int
    ) -> DataFrame:
        """Partition-set time travel: read the stage restricted to the
        partitions committed by snapshots 0..``snapshot`` (inclusive).

        Semantics note (honest scope): dynamic overwrite rewrites a
        partition's files in place, so a partition recommitted AFTER the
        chosen snapshot reads back with its latest contents — this is
        Hive-style partition-set isolation (exactly what append-only
        resumable pipelines need), not full multi-version Iceberg MVCC.
        Partition pruning keeps the read to only the chosen directories.
        """
        snaps = self.snapshots(stage)
        if not -len(snaps) <= snapshot < len(snaps):
            raise IndexError(f"stage {stage!r} has {len(snaps)} snapshots")
        chosen = snaps[: (snapshot % len(snaps)) + 1]
        parts = sorted({p for s in chosen for p in s["partitions"]})
        part_col = chosen[-1].get("part_col", "part_key")
        df = self.read_stage(spark, stage)
        return df.where(F.col(part_col).isin(parts))


def run_resumable(
    store: SnapshotStore,
    spark: SparkSession,
    stage: str,
    work_keys: DataFrame,
    key: str,
    compute,
) -> DataFrame:
    """Resume-or-compute driver: computes only partitions missing from the
    commit table, then returns the full stage output. ``compute(keys_df)`` must
    return a DataFrame containing ``key`` as its partition column."""
    todo = store.pending(work_keys, spark, stage, key)
    n_todo = todo.count()
    if n_todo > 0:
        out = compute(todo)
        store.write_stage(out.withColumnRenamed(key, "part_key"), stage, "part_key")
    return store.read_stage(spark, stage)
