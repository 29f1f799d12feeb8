"""Continuous training-corpus curation — the streaming face of the
corpus operators.

A corpus under construction is not rebuilt from scratch per crawl: new
document batches arrive continuously and must be quality-gated and
deduplicated AGAINST EVERYTHING ALREADY ACCEPTED before they are
appended. This wires that loop as Structured Streaming:

    readStream (NDJSON document lines)
      → foreachBatch:
          exact within-batch dedup (first occurrence by id)
          → quality gate (corpus.repetition_metrics keep flag)
          → id anti-join vs the published corpus  (exact replay guard)
          → dedup.incremental_lsh_dedup vs the published corpus
            (content near-dup guard — the cross-side band join whose
            per-batch cost is proportional to the NEW data only)
          → ParquetTable.append (atomic snapshot-commit publish)

Effective exactly-once without a transaction log: the checkpoint makes
each input file feed exactly one batch, and a crashed batch that re-runs
re-appends nothing — every already-appended document is caught by the id
anti-join (and its near-dups by the LSH guard), so the replay no-ops.

Scale: each batch scans the corpus once for the anti-join/banding; on a
real deployment the corpus side's banded signatures are the thing to
persist between batches (see incremental_lsh_dedup's docstring) so the
guard reads signatures, not text.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.operators import dedup
from id3c_spark.operators.corpus import repetition_metrics
from id3c_spark.sources.store import ParquetTable

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@dataclass
class IngestStats:
    """Per-batch driver-side counters (foreachBatch runs on the driver)."""

    batches: list[dict] = field(default_factory=list)


def curate_batch(
    batch: DataFrame,
    corpus: DataFrame | None,
    min_words: int = 3,
    jaccard_threshold: float = 0.5,
    expectations: list | None = None,
) -> DataFrame:
    """One batch of the ingest loop, also usable stand-alone: survivors of
    (within-batch exact dedup → quality gate → corpus id + near-dup
    guards). Returns (doc_id, text).

    *expectations* (operators.expect Rule list) runs as a batch-level
    admission gate BEFORE any curation work: if any rule reports
    violations the whole batch is rejected (empty survivors) — the
    Deequ-style circuit breaker that keeps a malformed upstream delivery
    out of the published corpus. One extra aggregation pass per batch.
    """
    if expectations:
        from id3c_spark.operators.expect import check

        bad = (
            check(batch, expectations)
            .agg(F.sum("n_violations").alias("v"))
            .collect()[0]["v"]
        )
        if bad:
            return batch.filter(F.lit(False))
    # first occurrence per id within the batch (re-delivered lines)
    batch = batch.dropDuplicates(["doc_id"])
    metrics = repetition_metrics(batch, "doc_id", "text")
    keep_ids = metrics.filter(
        F.col("keep") & (F.col("n_words") >= min_words)
    ).select(F.col("id").alias("doc_id"))
    gated = batch.join(keep_ids, "doc_id", "left_semi")
    if corpus is None:
        return gated
    fresh = gated.join(
        corpus.select("doc_id"), "doc_id", "left_anti"
    )
    dups = dedup.incremental_lsh_dedup(
        fresh, corpus, "doc_id", "text", threshold=jaccard_threshold
    ).select(F.col("new_id").alias("doc_id")).distinct()
    return fresh.join(dups, "doc_id", "left_anti")


def run_corpus_ingest(
    spark: SparkSession,
    source_glob: str,
    checkpoint_dir: str,
    table: ParquetTable,
    min_words: int = 3,
    jaccard_threshold: float = 0.5,
    stats: IngestStats | None = None,
    quarantine: ParquetTable | None = None,
) -> None:
    """Drain everything currently under *source_glob* through the curation
    loop into *table* (availableNow trigger — the cron-run shape; a
    continuous deployment passes a processingTime trigger instead).

    With *quarantine*, malformed lines (unparseable JSON, missing
    doc_id/text) are APPENDED to a dead-letter table as
    (raw, epoch, reason) instead of being silently dropped — the
    operational difference between 'the crawler changed its format and
    we noticed from the quarantine count' and data loss. Replays are
    safe: the checkpoint feeds each input file to exactly one batch, so
    quarantine rows are written once per line."""

    def batch_fn(df: DataFrame, epoch_id: int) -> None:
        # persisted: the quarantine gate (count), the quarantine append and
        # the docs curation all branch off this lineage — uncached, each
        # action would re-read and re-parse the micro-batch's input files
        parsed = df.filter(F.trim("value") != "").select(
            "value", F.from_json("value", DOC_SCHEMA).alias("d")
        ).persist()
        docs = (
            parsed.filter(
                F.col("d.doc_id").isNotNull() & F.col("d.text").isNotNull()
            )
            .select("d.doc_id", "d.text")
        )
        if quarantine is not None:
            bad = parsed.filter(
                F.col("d.doc_id").isNull() | F.col("d.text").isNull()
            ).select(
                F.col("value").alias("raw"),
                F.lit(epoch_id).cast("long").alias("epoch"),
                # PERMISSIVE from_json yields an all-null struct (not a
                # NULL) for garbage lines — both fields null ⇒ unparseable
                F.when(
                    F.col("d.doc_id").isNull() & F.col("d.text").isNull(),
                    "unparseable",
                )
                .when(F.col("d.doc_id").isNull(), "missing doc_id")
                .otherwise("missing text")
                .alias("reason"),
            )
            if bad.count():
                quarantine.append(bad)
        corpus = table.read() if table.exists() else None
        survivors = curate_batch(
            docs, corpus, min_words=min_words, jaccard_threshold=jaccard_threshold
        ).persist()
        n_in, n_kept = docs.count(), survivors.count()
        if n_kept:
            table.append(survivors)
        if stats is not None:
            stats.batches.append(
                {"epoch": epoch_id, "n_in": n_in, "n_appended": n_kept}
            )
        survivors.unpersist()
        parsed.unpersist()

    q = (
        spark.readStream.format("text")
        .schema(T.StructType([T.StructField("value", T.StringType())]))
        .load(source_glob)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
