"""Incremental document processing — processing_log parity (SURVEY §2.10).

The reference marks each receiving row with a jsonb log entry and filters
``where not processing_log @> '[{"etl": X, "revision": N}]'``
(lib/id3c/cli/command/etl/presence_absence.py:72-79 and every other ETL).
That is a per-row anti-processed predicate over a GIN index.

Spark shape: a separate narrow **status table** (table, record_id, etl,
revision, status) + a LEFT ANTI join. The anti join shuffles only ids, the
receiving scan prunes to (id, document), and bumping REVISION reprocesses
everything idempotently (MERGE absorbs the rewrites) — exactly the
reference's revision-bump backfill (etl/presence_absence.py:39-45).

Each run computes its batch once: the receiving scan and the anti join run
in one ``localCheckpoint``, which also counts the rows. The transform and
the success markers both read that copy, so the log is scanned and the
status table anti-joined once per run, not once per action.

For true streaming sources the same transform runs under
``readStream ... foreachBatch`` with availableNow — see run_incremental.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from id3c_spark.operators.merge import materialise
from id3c_spark.schemas import PROCESSING_LOG
from id3c_spark.sources.store import ParquetTable


def unprocessed(
    receiving: DataFrame,
    status: DataFrame,
    table_name: str,
    etl: str,
    revision: int,
    id_col: str = "id",
) -> DataFrame:
    """Rows of ``receiving`` with no success marker for (etl, revision).

    FIFO order (``order by id``) is preserved by sorting inside the batch
    consumer, not here — the filter itself is order-free so Catalyst can
    plan a plain anti hash join.
    """
    done = (
        status.filter(
            (F.col("table_name") == table_name)
            & (F.col("etl") == etl)
            & (F.col("revision") == revision)
            & (F.col("status").isin("processed", "skipped"))
        )
        .select(F.col("record_id").alias(id_col))
        .distinct()
    )
    return receiving.join(done, id_col, "left_anti")


def mark(
    spark: SparkSession,
    table_name: str,
    ids: DataFrame,
    etl: str,
    revision: int,
    status: str,
    detail: str | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Build status-table rows for a processed/skipped/error batch."""
    return ids.select(
        F.lit(table_name).alias("table_name"),
        F.col(id_col).cast("long").alias("record_id"),
        F.lit(etl).alias("etl"),
        F.lit(revision).cast("int").alias("revision"),
        F.lit(status).alias("status"),
        F.lit(detail).cast("string").alias("detail"),
        F.current_timestamp().alias("timestamp"),
    )


@dataclass
class EtlRunStats:
    seen: int
    processed: int


def run_incremental(
    spark: SparkSession,
    receiving: DataFrame,
    status_table: ParquetTable,
    table_name: str,
    etl: str,
    revision: int,
    transform: Callable[[DataFrame], None],
    id_col: str = "id",
) -> EtlRunStats:
    """One availableNow-style incremental run: scan unprocessed → user
    transform (which performs the warehouse MERGEs) → append success
    markers. Idempotent: a crash before the marker append means the next
    run reprocesses the same rows and the MERGEs no-op (SURVEY §3.1).

    The unprocessed batch is materialised once, and its row count is
    observed while it is written. The transform and the marker append
    read that copy; an empty batch runs neither."""
    status = (
        status_table.read()
        if status_table.exists()
        else spark.createDataFrame([], PROCESSING_LOG)
    )
    batch, seen = materialise(unprocessed(receiving, status, table_name, etl, revision, id_col))
    n = seen["rows"]
    if n:
        transform(batch)
        status_table.append(
            mark(spark, table_name, batch.select(id_col), etl, revision, "processed", id_col=id_col)
        )
    return EtlRunStats(seen=n, processed=n)
