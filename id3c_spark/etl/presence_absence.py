"""Presence-absence ETL (reference: lib/id3c/cli/command/etl/presence_absence.py).

Document shape (Samplify): {"samples": [{investigatorId, sampleId, chip,
sampleFailed, targetResults: [{geneTarget, controlStatus, targetStatus,
wellResults: [...]}], ...}]}.

The reference loops records in Python; here the whole batch is ONE plan:

  parse (from_json) → explode samples → explode targetResults →
  validate/split (skips mirror reference skip rules) →
  staged target / sample / presence_absence frames → MERGEs.

Checks before the first write; one writer per table. The batch is
materialised once with every hard-error check, so a rejected batch
writes no table. The upserts then run in two waves, each wave's tables
written concurrently (warehouse.concurrently):

  1. target, sample
  2. presence_absence (sample and target ids)

A failure in one upsert of wave 1 lets the other finish and does not
start wave 2.

Skip rules carried over:
  - old-format documents {"store": ...} skipped (presence_absence.py:101-106)
  - samples without investigatorId barcode skipped (no identifier to match)
  - sampleFailed=true skipped (failed assay)
  - out-of-date results skipped: isCurrentExpressionResult must be true
    (presence_absence.py:149-152)
  - workflow statuses Fail/Repeat/Review skipped (py:409-452); the full
    status mapping (incl. PositiveControlPass/Inconclusive/sampleState
    fallback) lives in `target_present`; unknown statuses ABORT like the
    reference's ValueError, as do unknown controlStatus / assayName /
    assayType values and empty chip ids (in-plan checks that fire while
    the batch is first materialised, before any write)

Reference long tail carried over: identifier 'NWGC/{sampleId}/{target}'
(+ '/{chip}' when on a chip, py:203-208); re-tests are corrections and
overwrite (py:210-213); sample details extend the nwgc_id array and carry
the sequencing go/no-go call (py:312-346); presence_absence details carry
device/assay/extraction metadata with the per-target clinicalStatus
falling back to assayType then the dated 4-well Clia heuristic
(py:348-407); tiny-swab identifier sets match samples by collection
identifier and other sets must be in the valid list (py:154-176).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import Warehouse, concurrently, transactional
from id3c_spark.operators.merge import checks, materialise

DOCUMENT_SCHEMA = T.StructType([
    T.StructField("store", T.StringType()),            # old format marker
    T.StructField("samples", T.ArrayType(T.StructType([
        T.StructField("investigatorId", T.StringType()),
        T.StructField("sampleId", T.LongType()),
        T.StructField("chip", T.StringType()),
        T.StructField("sampleFailed", T.BooleanType()),
        T.StructField("isCurrentExpressionResult", T.BooleanType()),
        T.StructField("extractionDate", T.StringType()),
        T.StructField("assayName", T.StringType()),
        T.StructField("assayDate", T.StringType()),
        T.StructField("assayType", T.StringType()),
        T.StructField("resultTimestamp", T.StringType()),
        T.StructField("reviewTimestamp", T.StringType()),
        T.StructField("sampleComment", T.StringType()),
        T.StructField("initialProceedToSequencingCall", T.BooleanType()),
        T.StructField("sampleProceedToSequencing", T.BooleanType()),
        T.StructField("targetResults", T.ArrayType(T.StructType([
            T.StructField("geneTarget", T.StringType()),
            T.StructField("controlStatus", T.StringType()),
            T.StructField("targetStatus", T.StringType()),
            T.StructField("sampleState", T.StringType()),
            T.StructField("clinicalStatus", T.StringType()),
            T.StructField("wellResults", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
        ]))),
    ]))),
])

ETL_NAME = "presence-absence"
REVISION = 1

# target_present mapping (presence_absence.py:409-452): workflow statuses
# Fail/Repeat/Review are skips, anything unrecognized is an error
_PRESENT_TRUE = ["Detected", "Positive", "PositiveControlPass"]
_PRESENT_FALSE = ["NotDetected", "Negative"]
_PRESENT_NULL = ["Indeterminate", "Inconclusive"]
_PRESENT_SKIP = ["Fail", "Repeat", "Review"]
# first date assayType arrived for OpenArray results (presence_absence.py:389)
_ASSAY_TYPE_EPOCH = "2021-02-12"


class UnknownControlStatusError(ValueError):
    """presence_absence.py:474-478 parity."""


def target_present(status: Column) -> Column:
    """status → three-state present (presence_absence.py:409-452)."""
    return (
        F.when(status.isin(_PRESENT_TRUE), F.lit(True))
        .when(status.isin(_PRESENT_FALSE), F.lit(False))
        .when(status.isin(_PRESENT_NULL), F.lit(None).cast("boolean"))
    )


def parse_results(receiving: DataFrame) -> DataFrame:
    """receiving(id, document[, received]) → one row per (sample,
    targetResult) with validity flags; all skips are data, not control flow."""
    received = (
        F.col("received").cast("date") if "received" in receiving.columns
        else F.lit(None).cast("date")
    )
    parsed = receiving.select(
        "id", received.alias("received_date"),
        F.from_json("document", DOCUMENT_SCHEMA).alias("doc"),
    )
    samples = (
        parsed.filter(F.col("doc.store").isNull())          # old format → skip
        .select("id", "received_date", F.explode("doc.samples").alias("s"))
    )
    return (
        samples.filter(F.col("s.investigatorId").isNotNull())
        .filter(~F.coalesce(F.col("s.sampleFailed"), F.lit(False)))
        # must be current results (presence_absence.py:149-152): a missing
        # flag is just as out-of-date as a false one
        .filter(F.col("s.isCurrentExpressionResult") == F.lit(True))
        .select(
            "id", "received_date",
            F.lower("s.investigatorId").alias("barcode"),   # citext
            F.col("s.sampleId").alias("nwgc_id"),
            F.col("s.chip").alias("chip"),
            F.col("s.extractionDate").alias("extraction_date"),
            F.col("s.assayName").alias("assay_name"),
            F.col("s.assayDate").alias("assay_date"),
            F.col("s.assayType").alias("sample_assay_type"),
            F.col("s.resultTimestamp").alias("result_timestamp"),
            F.col("s.reviewTimestamp").alias("review_timestamp"),
            F.col("s.sampleComment").alias("sample_comment"),
            F.col("s.initialProceedToSequencingCall").alias("seq_initial"),
            F.col("s.sampleProceedToSequencing").alias("seq_final"),
            F.explode("s.targetResults").alias("tr"),
        )
        .withColumn("target_status", F.coalesce(F.col("tr.targetStatus"), F.col("tr.sampleState")))
        .select(
            "id", "received_date", "barcode", "nwgc_id", "chip",
            "extraction_date", "assay_name", "assay_date", "sample_assay_type",
            "result_timestamp", "review_timestamp",
            "sample_comment", "seq_initial", "seq_final",
            F.col("tr.geneTarget").alias("gene_target"),
            F.col("tr.controlStatus").alias("control_status"),
            (F.col("tr.controlStatus") == "PositiveControl").alias("is_control"),
            F.col("tr.clinicalStatus").alias("clinical_status"),
            F.col("tr.wellResults").alias("well_results"),
            "target_status",
        )
    )


def _violations() -> Column:
    """Filter predicate mirroring the reference's hard errors — each fails
    the action that first runs it (see operators.merge.checks):
      - unknown present status → ValueError (presence_absence.py:448-450)
      - unknown controlStatus → UnknownControlStatusError (py:249-256)
      - empty-string chip → ValueError 'received bogus chip id' (py:144-145)
      - unknown assayName / assayType → ValueError (py:373-379)
    """
    known_status = _PRESENT_TRUE + _PRESENT_FALSE + _PRESENT_NULL + _PRESENT_SKIP
    effective_type = F.coalesce(F.col("clinical_status"), F.col("sample_assay_type"))
    return checks(
        (F.col("target_status").isNull() | ~F.col("target_status").isin(known_status),
         F.concat(F.lit("unable to determine target presence from status "),
                  F.coalesce(F.col("target_status"), F.lit("<null>"))),
         ValueError),
        (F.col("control_status").isNull()
         | ~F.col("control_status").isin("NotControl", "PositiveControl"),
         F.concat(F.lit("unknown control status "),
                  F.coalesce(F.col("control_status"), F.lit("<null>"))),
         UnknownControlStatusError),
        (F.col("chip") == "", F.lit("received bogus chip id"), ValueError),
        (F.col("assay_name").isNotNull() & ~F.col("assay_name").isin("OpenArray", "TaqmanQPCR"),
         F.concat(F.lit("unknown assay name "), F.col("assay_name")),
         ValueError),
        (effective_type.isNotNull() & ~effective_type.isin("Clia", "Research"),
         F.concat(F.lit("unknown assay type "), effective_type),
         ValueError),
    )


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
    set_names: dict[int, str] | None = None,
    valid_sets: set[str] | None = None,
) -> dict[str, int]:
    """One batch run. ``identifiers`` = warehouse.identifier frame
    (uuid, barcode, identifier_set_id) for barcode→sample resolution; rows
    whose barcode is unknown are skipped with a warning count (the
    reference warns and skips unknown barcodes).

    set_names maps identifier_set_id → set name, enabling two reference
    behaviors (presence_absence.py:154-163): identifiers from a set not in
    *valid_sets* abort the run, and 'tiny-swab' sets match samples by
    COLLECTION identifier instead of sample identifier."""
    # the batch's one pass: hard errors fire here, before any write, and
    # the stats are observed while it runs (identifier barcodes are
    # unique, so the resolved rows are the results)
    resolved, n = materialise(
        parse_results(receiving).filter(_violations()).join(
            F.broadcast(identifiers.select(
                F.lower("barcode").alias("barcode"), "uuid", "identifier_set_id")),
            "barcode",
            "left",
        ),
        known=F.count("uuid"),
        sets=F.collect_set(F.when(F.col("uuid").isNotNull(), F.struct("identifier_set_id"))),
    )
    known = resolved.filter(F.col("uuid").isNotNull())

    names = set_names or {}
    if valid_sets is not None:
        used_sets = {r.identifier_set_id for r in n["sets"]}
        invalid = {names.get(s, str(s)) for s in used_sets} - valid_sets
        if invalid:
            raise AssertionError(f"Identifier found in invalid set {sorted(invalid)}")
    tiny_sets = [sid for sid, name in names.items() if "tiny-swab" in name]
    is_tiny = F.col("identifier_set_id").isin(tiny_sets) if tiny_sets else F.lit(False)

    # drop non-result workflow statuses AFTER validation (Fail/Repeat/Review)
    known = known.filter(~F.col("target_status").isin(_PRESENT_SKIP))

    # 1. targets: find-or-create by identifier (gene target)
    wanted_targets = (
        known.groupBy(F.col("gene_target").alias("identifier"))
        .agg(F.max("is_control").alias("control"))
    )

    # 2. samples: upsert by identifier (or COLLECTION identifier for
    #    tiny-swab sets); details carry the nwgc_id array extended with the
    #    sample's existing ids (update_details_nwgc_id, py:312-333) plus the
    #    go/no-go sequencing call (sample_details, py:334-346)
    w = Window.partitionBy("uuid").orderBy(F.desc("id"))
    latest = (
        known.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("tiny", is_tiny)
    )
    existing_details = warehouse.read("sample").select(
        F.coalesce("identifier", "collection_identifier").alias("uuid"),
        F.get_json_object("details", "$.nwgc_id").alias("old_nwgc_json"),
    )
    old_ids = F.coalesce(
        F.from_json("old_nwgc_json", "array<long>"),                  # already an array
        F.array(F.col("old_nwgc_json").cast("long")),                 # legacy scalar
        F.array(),
    )
    nwgc_array = F.array_sort(F.array_distinct(F.concat(
        F.filter(old_ids, lambda x: x.isNotNull()), F.array(F.col("nwgc_id"))
    )))
    # field order is alphabetical so the first write is textually identical
    # to the canonical (sort_keys) output of the MERGE's details merge —
    # otherwise every re-run looks like a change
    details_col = F.to_json(F.struct(
        nwgc_array.alias("nwgc_id"),
        F.struct(
            F.col("sample_comment").alias("comment"),
            F.col("seq_final").alias("final"),
            F.col("seq_initial").alias("initial"),
        ).alias("sequencing_call"),
    ))
    sample_updates = (
        latest.join(existing_details, "uuid", "left")
        .select(
            F.when(~F.col("tiny"), F.col("uuid")).alias("identifier"),
            F.when(F.col("tiny"), F.col("uuid")).alias("collection_identifier"),
            details_col.alias("details"),
        )
    )
    # wave 1: targets and samples are independent of each other
    targets, samples = concurrently(
        lambda: warehouse.find_or_create_target(wanted_targets),
        lambda: warehouse.upsert_sample(sample_updates),
    )
    sample_key = F.coalesce("identifier", "collection_identifier")

    # 3. (wave 2) presence_absence rows: latest result per (sample, target, chip) wins
    #    (re-tests are corrections, presence_absence.py:210-213); identifier
    #    'NWGC/{sampleId}/{target}' + '/{chip}' when on a chip (py:203-208)
    pa_identifier = F.when(
        F.col("chip").isNotNull(),
        F.concat_ws("/", F.lit("NWGC"), F.col("nwgc_id").cast("string"),
                    F.col("gene_target"), F.col("chip")),
    ).otherwise(
        F.concat_ws("/", F.lit("NWGC"), F.col("nwgc_id").cast("string"), F.col("gene_target"))
    )
    # presence_absence_details (py:348-407): device from assayName else chip
    # implies OpenArray; assay_type from per-target clinicalStatus falling
    # back to the sample's assayType, then the dated 4-well heuristic
    effective_type = F.coalesce(F.col("clinical_status"), F.col("sample_assay_type"))
    assay_type = F.coalesce(
        effective_type,
        F.when(
            F.col("received_date") < F.lit(_ASSAY_TYPE_EPOCH).cast("date"),
            F.when(F.size("well_results") == 4, F.lit("Clia")).otherwise(F.lit("Research")),
        ).otherwise(F.lit("Research")),
    )
    device = F.coalesce(
        F.col("assay_name"),
        F.when(F.col("chip").isNotNull(), F.lit("OpenArray")),
    )
    # alphabetical field order: see details_col note above
    pa_details = F.to_json(F.struct(
        F.col("assay_date").alias("assay_date"),
        assay_type.alias("assay_type"),
        device.alias("device"),
        F.col("extraction_date").alias("extraction_date"),
        F.col("well_results").alias("replicates"),
        F.col("result_timestamp").alias("result_timestamp"),
        F.col("review_timestamp").alias("review_timestamp"),
    ))
    w2 = Window.partitionBy("barcode", "gene_target", "chip").orderBy(F.desc("id"))
    pa_updates = (
        known.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .join(samples.select(sample_key.alias("uuid"), "sample_id"), "uuid")
        .join(
            F.broadcast(targets.select(F.col("identifier").alias("gene_target"), "target_id")),
            "gene_target",
        )
        .select(
            pa_identifier.alias("identifier"),
            "sample_id",
            "target_id",
            target_present(F.col("target_status")).alias("present"),
            pa_details.alias("details"),
        )
    )
    warehouse.upsert_presence_absence(pa_updates)

    return {
        "results": n["rows"],
        "unknown_barcodes": n["rows"] - n["known"],
        "targets": warehouse.num_rows("target"),
        "samples": warehouse.num_rows("sample"),
        "presence_absence": warehouse.num_rows("presence_absence"),
    }
