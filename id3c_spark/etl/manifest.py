"""Manifest ETL (reference: lib/id3c/cli/command/etl/manifest.py:114-194).

Manifest records link a *sample* barcode to a *collection* barcode (plus
collection date, type, aliquots): {"sample": ..., "collection": ...,
"date": "3/15/2020", "sample_type": ..., "_provenance": {...}}.

This is where the two halves of a sample row meet: an enrollment creates a
skeletal row with only collection_identifier; the presence-absence ETL
knows only the sample identifier. The manifest row carries BOTH, and
upsert_sample's alternate-key match (identifier OR collection_identifier,
db/__init__.py:232-235) fuses them — exactly the OR-key MERGE that is the
hard part of SURVEY §7.3 item 1.

Dates arrive as MM/DD/YYYY or ISO (api/routes.py:351-357 conversion);
both are tried. Unknown barcodes are skipped with a count (reference
warns + skips). Records lacking both barcodes are dropped
(manifest.py:526-565 dropna semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import Warehouse, transactional
from id3c_spark.operators.merge import materialise

DOCUMENT_SCHEMA = T.StructType([
    T.StructField("sample", T.StringType()),
    T.StructField("collection", T.StringType()),
    T.StructField("date", T.StringType()),
    T.StructField("sample_type", T.StringType()),
    T.StructField("aliquots", T.ArrayType(T.StringType())),
    T.StructField("notes", T.StringType()),
])


def parse_date(col):
    """MM/DD/YYYY or YYYY-MM-DD → date; null if neither parses
    (date_or_null parity, functions/date_or_null.sql:5-16)."""
    return F.coalesce(
        F.try_to_timestamp(col, F.lit("M/d/yyyy")).cast("date"),
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd")).cast("date"),
    )


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
) -> dict[str, int]:
    docs = receiving.select("id", F.from_json("document", DOCUMENT_SCHEMA).alias("d")).select(
        "id",
        F.lower("d.sample").alias("sample_barcode"),
        F.lower("d.collection").alias("collection_barcode"),
        parse_date(F.col("d.date")).alias("collected"),
        F.to_json(
            F.struct(F.col("d.sample_type").alias("sample_type"),
                     F.col("d.aliquots").alias("aliquots"))
        ).alias("details"),
    ).filter(
        F.col("sample_barcode").isNotNull() | F.col("collection_barcode").isNotNull()
    )

    ids = identifiers.select(F.lower("barcode").alias("barcode"), "uuid")
    resolved = (
        docs.join(
            F.broadcast(ids.withColumnsRenamed({"barcode": "sample_barcode", "uuid": "identifier"})),
            "sample_barcode", "left",
        )
        .join(
            F.broadcast(ids.withColumnsRenamed(
                {"barcode": "collection_barcode", "uuid": "collection_identifier"})),
            "collection_barcode", "left",
        )
    )
    is_known = F.col("identifier").isNotNull() | F.col("collection_identifier").isNotNull()
    # one pass over the batch; identifier barcodes are unique, so the
    # resolved rows are the documents
    resolved, n = materialise(resolved, known=F.count_if(is_known))

    updates = resolved.filter(is_known).select(
        "identifier", "collection_identifier", "collected", "details"
    ).dropDuplicates(["identifier", "collection_identifier"])
    warehouse.upsert_sample(updates)
    return {
        "manifests": n["rows"],
        "unknown_barcodes": n["rows"] - n["known"],
        "samples": warehouse.num_rows("sample"),
    }
