"""Kit ETL (reference: lib/id3c/cli/command/etl/kit.py).

Kits link an at-home test kit barcode to an encounter and to rdt/utm
sample slots (kit.py:152-228, 381-539). The ordering hazard: a kit
document can arrive before its enrollment — the reference *raises*
``EncounterNotFoundError`` so the record retries on the next run
(kit.py:70-77, 279-287).

Spark shape: the batch splits into ready (encounter exists) and deferred
(no encounter yet). Ready rows upsert into ``kit`` through the
warehouse's one upsert path, and the samples slotted into those kits
upsert their encounter into ``sample``; an empty batch writes nothing and
no table is republished whole. Deferred rows are returned so the
incremental layer leaves them unmarked — they re-enter the next batch,
which is the retry-on-next-trigger design SURVEY §7.3 item 7 calls for,
without any exception control flow. Stats are counts observed while the
batch is materialised, not recounts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import Warehouse, transactional
from id3c_spark.operators.merge import materialise

DOCUMENT_SCHEMA = T.StructType([
    T.StructField("kit", T.StringType()),                # kit barcode
    T.StructField("encounter", T.StringType()),          # encounter identifier
    T.StructField("rdt_sample", T.StringType()),         # sample barcode
    T.StructField("utm_sample", T.StringType()),
])


@dataclass
class KitRunResult:
    stats: dict
    deferred_ids: DataFrame   # receiving ids whose encounter is missing


# expected identifier sets per slot (kit.py:36-41)
EXPECTED_SETS = {
    "kits": {"kits-fluathome.org"},
    "samples": {"samples", "collections-fluathome.org"},
    "test-strips": {"test-strips-fluathome.org"},
}
KIT_BARCODE_TYPES = {"ScannedSelfSwab", "ManualSelfSwab"}  # kit.py:52
# manifest keys never stored in kit details (kit.py:313-317)
KIT_DETAILS_DROP = ["sample", "kit", "collection", "sample_type", "aliquot_date", "aliquots", "racks"]


def _ids_with_sets(identifiers: DataFrame, set_names: dict[int, str] | None):
    name_map = F.create_map(
        *[x for kv in (set_names or {}).items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    ) if set_names else F.lit(None)
    return F.broadcast(identifiers.select(
        F.lower("barcode").alias("barcode"), "uuid",
        (name_map[F.col("identifier_set_id")] if set_names else F.lit(None).cast("string")).alias("set_name"),
    ))


@transactional
def run_enrollments(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
    set_names: dict[int, str] | None = None,
) -> KitRunResult:
    """kit_enrollments flow (kit.py:49-127): kits for SELF-TEST enrollment
    encounters from ScannedSelfSwab/ManualSelfSwab codes.

    Ordering parity: enrollments whose encounter doesn't exist yet are
    DEFERRED (the reference raises EncounterNotFoundError to retry);
    non-self-test encounters are processed-but-skipped; unknown kit
    barcodes and wrong identifier sets are warn-skips."""
    enr_schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("sampleCodes", T.ArrayType(T.StructType([
            T.StructField("type", T.StringType()),
            T.StructField("code", T.StringType()),
        ]))),
    ])
    docs = receiving.select("id", F.from_json("document", enr_schema).alias("d")).select(
        "id", F.col("d.id").alias("encounter_identifier"), F.col("d.sampleCodes").alias("codes")
    )
    encounters = warehouse.read("encounter").select(
        F.col("identifier").alias("encounter_identifier"), "encounter_id", "site_id"
    )
    sites = warehouse.read("site").select("site_id", F.col("identifier").alias("site"))
    ready = F.col("encounter_id").isNotNull()
    self_test = ready & (F.col("site") == "self-test")
    with_enc, n = materialise(
        docs.join(encounters, "encounter_identifier", "left").join(
            F.broadcast(sites), "site_id", "left"
        ),
        ready=F.count_if(ready), self_test=F.count_if(self_test),
    )

    ids = _ids_with_sets(identifiers, set_names)
    codes = (
        with_enc.filter(self_test).select("encounter_id", F.explode("codes").alias("c"))
        .filter(F.col("c.code").isNotNull() & F.col("c.type").isin(*KIT_BARCODE_TYPES))
        .select("encounter_id", F.lower("c.code").alias("barcode"),
                F.col("c.type").alias("code_type"))
        .join(ids, "barcode", "inner")                 # unknown barcode → skip
    )
    if set_names:
        codes = codes.filter(F.col("set_name").isin(*EXPECTED_SETS["kits"]))
    kit_updates, k = materialise(codes.select(
        F.col("uuid").alias("identifier"),
        "encounter_id",
        F.to_json(F.struct(F.col("code_type").alias("type"))).alias("details"),
    ).dropDuplicates(["identifier"]))
    kits = warehouse.upsert(
        "kit", kit_updates, [["identifier"]], "kit_id", update_cols=["encounter_id"]
    )
    _update_kit_samples(warehouse, kits, kit_updates)

    return KitRunResult(
        stats={
            "enrollments": n["rows"],
            "deferred": n["rows"] - n["ready"],
            "non_self_test": n["ready"] - n["self_test"],
            "kits": k["rows"],
        },
        deferred_ids=with_enc.filter(~ready).select("id"),
    )


def _update_kit_samples(warehouse: Warehouse, kits: DataFrame, batch: DataFrame) -> None:
    """update_kit_samples parity (kit.py:503-524): the samples slotted into
    the kits *batch* upserted inherit their kit's encounter, upserted by
    sample identifier."""
    slots = (
        kits.join(batch.select("identifier"), "identifier")
        .select(F.explode(F.array("rdt_sample_id", "utm_sample_id")).alias("sample_id"),
                "encounter_id")
        .filter(F.col("sample_id").isNotNull() & F.col("encounter_id").isNotNull())
    )
    warehouse.upsert_sample(
        warehouse.read("sample").select("sample_id", "identifier")
        .join(slots, "sample_id")
        .select("identifier", "encounter_id")
        .dropDuplicates(["identifier"])
    )


@transactional
def run_manifests(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
    set_names: dict[int, str] | None = None,
) -> KitRunResult:
    """kit_manifests flow (kit.py:232-345): manifest records carrying a
    "kit" key attach their (already-ETL'd) sample into the kit's
    rdt/utm slot, with the manifest document (minus bookkeeping keys, plus
    the resolved test-strip identifier for rdt samples) merged into kit
    details; the sample then inherits the kit's encounter.

    Skips mirror the reference: no kit key / unknown or wrong-set sample
    barcode / unknown sample type / unknown or wrong-set kit barcode.
    Missing warehouse sample → DEFERRED (reference raises
    SampleNotFoundError to retry)."""
    from id3c_spark.functions.json_ops import json_remove_keys

    docs = receiving.select(
        "id", "document",
        F.lower(F.get_json_object("document", "$.kit")).alias("kit_barcode"),
        F.lower(F.get_json_object("document", "$.sample")).alias("sample_barcode"),
        F.lower(F.get_json_object("document", "$.test_strip")).alias("strip_barcode"),
    )
    with_kit = F.col("kit_barcode").isNotNull()        # no kit data → skip
    known_sample = with_kit & F.col("sample_uuid").isNotNull()
    if set_names:
        known_sample &= F.col("sample_set").isin(*EXPECTED_SETS["samples"])
    missing = known_sample & F.col("sample_id").isNull()

    ids = _ids_with_sets(identifiers, set_names)
    samples = warehouse.read("sample").select(
        "sample_id", F.col("identifier").alias("sample_uuid"),
        F.get_json_object("details", "$.sample_type").alias("sample_type"),
    )
    located, n = materialise(
        docs.join(
            ids.withColumnsRenamed({"barcode": "sample_barcode", "uuid": "sample_uuid",
                                    "set_name": "sample_set"}),
            "sample_barcode", "left",
        ).join(samples, "sample_uuid", "left"),
        with_kit=F.count_if(with_kit), deferred=F.count_if(missing),
    )
    deferred = located.filter(missing)
    ready = located.filter(
        known_sample & F.col("sample_id").isNotNull() & F.col("sample_type").isin("utm", "rdt")
    )

    ready = ready.join(
        ids.withColumnsRenamed({"barcode": "kit_barcode", "uuid": "kit_uuid",
                                "set_name": "kit_set"}),
        "kit_barcode", "inner",                        # unknown kit barcode → skip
    )
    if set_names:
        ready = ready.filter(F.col("kit_set").isin(*EXPECTED_SETS["kits"]))

    # details: the manifest document minus bookkeeping keys, with the
    # test-strip identifier resolved for rdt samples (kit.py:313-331,
    # 359-380: unknown/wrong-set strips keep uuid null)
    strip_ids = ids.withColumnsRenamed({"barcode": "strip_barcode", "uuid": "strip_uuid",
                                        "set_name": "strip_set"})
    ready = ready.join(strip_ids, "strip_barcode", "left")
    if set_names:
        ready = ready.withColumn(
            "strip_uuid",
            F.when(F.col("strip_set").isin(*EXPECTED_SETS["test-strips"]), F.col("strip_uuid")),
        )
    base_details = json_remove_keys(F.col("document"), KIT_DETAILS_DROP + ["test_strip"])
    # barcodes/uuids are identifier-safe (hex/uuid charset) → plain splice
    strip_obj = F.concat(
        F.lit('{"barcode":"'), F.col("strip_barcode"), F.lit('","uuid":'),
        F.when(F.col("strip_uuid").isNotNull(),
               F.concat(F.lit('"'), F.col("strip_uuid"), F.lit('"'))).otherwise(F.lit("null")),
        F.lit("}"),
    )
    details = F.when(
        (F.col("sample_type") == "rdt") & F.col("strip_barcode").isNotNull(),
        F.concat(
            F.when(base_details == "{}", F.lit('{"test_strip":')).otherwise(
                F.concat(F.substring(base_details, F.lit(1), F.length(base_details) - 1),
                         F.lit(',"test_strip":'))
            ),
            strip_obj, F.lit("}"),
        ),
    ).otherwise(base_details)

    kit_updates, k = materialise(
        ready.select(
            F.col("kit_uuid").alias("identifier"),
            F.when(F.col("sample_type") == "rdt", F.col("sample_id")).alias("rdt_sample_id"),
            F.when(F.col("sample_type") == "utm", F.col("sample_id")).alias("utm_sample_id"),
            details.alias("details"),
        )
        .dropDuplicates(["identifier"])
    )
    kits = warehouse.upsert(
        "kit", kit_updates, [["identifier"]], "kit_id",
        update_cols=["rdt_sample_id", "utm_sample_id"],
    )
    _update_kit_samples(warehouse, kits, kit_updates)

    return KitRunResult(
        stats={
            "manifests": n["rows"],
            "with_kit": n["with_kit"],
            "deferred": n["deferred"],
            "kits": k["rows"],
        },
        deferred_ids=deferred.select("id"),
    )


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
) -> KitRunResult:
    docs = receiving.select("id", F.from_json("document", DOCUMENT_SCHEMA).alias("d")).select(
        "id",
        F.lower("d.kit").alias("kit_barcode"),
        F.col("d.encounter").alias("encounter_identifier"),
        F.lower("d.rdt_sample").alias("rdt_barcode"),
        F.lower("d.utm_sample").alias("utm_barcode"),
    ).filter(F.col("kit_barcode").isNotNull())

    encounters = warehouse.read("encounter").select(
        F.col("identifier").alias("encounter_identifier"), "encounter_id"
    )
    found = F.col("encounter_id").isNotNull()
    located, n = materialise(
        docs.join(encounters, "encounter_identifier", "left"), ready=F.count_if(found)
    )
    ready = located.filter(found)

    ids = F.broadcast(identifiers.select(F.lower("barcode").alias("barcode"), "uuid"))
    samples = warehouse.read("sample").select(F.col("identifier").alias("uuid"), "sample_id")

    def sample_slot(df: DataFrame, barcode_col: str, out: str) -> DataFrame:
        return (
            df.join(ids.withColumnsRenamed({"barcode": barcode_col}), barcode_col, "left")
            .join(samples, "uuid", "left")
            .withColumnsRenamed({"sample_id": out})
            .drop("uuid")
        )

    staged = sample_slot(sample_slot(ready, "rdt_barcode", "rdt_sample_id"),
                         "utm_barcode", "utm_sample_id")
    kit_updates = (
        staged.join(ids.withColumnsRenamed({"barcode": "kit_barcode"}), "kit_barcode", "inner")
        .select(
            F.col("uuid").alias("identifier"),
            "encounter_id", "rdt_sample_id", "utm_sample_id",
        )
        .dropDuplicates(["identifier"])
    )
    warehouse.upsert(
        "kit", kit_updates, [["identifier"]], "kit_id",
        update_cols=["encounter_id", "rdt_sample_id", "utm_sample_id"], details_col=None,
    )

    return KitRunResult(
        stats={
            "kits_seen": n["rows"],
            "ready": n["ready"],
            "deferred": n["rows"] - n["ready"],
            "kits": warehouse.num_rows("kit"),
        },
        deferred_ids=located.filter(~found).select("id"),
    )
