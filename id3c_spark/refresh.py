"""Materialized-view refresh (SURVEY §4).

Reference: ``refresh materialized view concurrently`` via a
security-definer function run on a schedule
(roles/materialized-view-refresher/grants.sql:9-25,
lib/id3c/cli/command/refresh_materialized_view.py:24-35).

Spark mapping: a gold table is a recomputed parquet snapshot published
atomically — the versioned store's snapshot commit IS the "concurrently"
(readers keep the old version until the new one is complete).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from id3c_spark.sources.store import ParquetTable


def refresh_materialized_view(
    spark: SparkSession,
    name: str,
    gold_root: str,
    compute: Callable[[], DataFrame],
) -> int:
    """Recompute + atomically publish one gold table; returns the new
    version. Readers never observe a partial refresh."""
    table = ParquetTable(spark, f"{gold_root}/{name}")
    return table.publish(compute())
