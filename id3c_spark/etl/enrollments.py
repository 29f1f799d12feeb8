"""Enrollment ETL (reference: lib/id3c/cli/command/etl/enrollments.py).

Audere enrollment documents (schemaVersion 1.0.0/1.1.0, FIXTURES §2.2):
{id, schemaVersion, participant, startTimestamp, site{name,type},
 age{value, ninetyOrAbove}, locations[{use, region}],
 sampleCodes[{type, code}], responses[{question{token},
 answer{type, chosenOptions|value}, options[{token}]}]}.

Reference flow per record: assert known schemaVersion
(enrollments.py:89-92), upsert individual (sex from AssignedSex
response), find-or-create site, upsert encounter (age capped at 90y,
etl/__init__.py:313-329), skeletal samples from sampleCodes
(enrollments.py:125-135), locations by use. Here: one plan per entity,
`decode_answer` (enrollments.py:370-399) as a when/otherwise expression
over the parsed responses array — no Python in the row path.

Checks before the first write; one writer per table. The batch is
materialised once with the location checks (duplicate use, unknown use,
unknown tract), so a rejected batch writes no table. The upserts then
run in three waves, each wave's tables written concurrently
(warehouse.concurrently) and every wave started only after the one
before it has finished:

  1. site, individual, address location
  2. encounter (site and individual ids)
  3. encounter_location (encounter and location ids), sample (encounter ids)

A failure in one upsert of a wave lets the others of that wave finish
and starts no later wave.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import MERGE_KEYS, Warehouse, concurrently, transactional
from id3c_spark.operators.merge import checks, materialise
from id3c_spark.sources.store import prune_keys

KNOWN_VERSIONS = {"1.0.0", "1.1.0"}   # enrollments.py:89-92
AGE_CAP_MONTHS = 90 * 12              # min(ceil(age), 90) etl/__init__.py:313-329

DOCUMENT_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("schemaVersion", T.StringType()),
    T.StructField("participant", T.StringType()),
    T.StructField("startTimestamp", T.StringType()),
    T.StructField("localeLanguageCode", T.StringType()),
    T.StructField("site", T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
    ])),
    T.StructField("age", T.StructType([
        T.StructField("value", T.DoubleType()),
        T.StructField("ninetyOrAbove", T.BooleanType()),
    ])),
    T.StructField("locations", T.ArrayType(T.StructType([
        T.StructField("use", T.StringType()),
        T.StructField("region", T.StringType()),      # tract identifier
        T.StructField("id", T.StringType()),          # address/"household" id
    ]))),
    T.StructField("sampleCodes", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("code", T.StringType()),
    ]))),
    T.StructField("responses", T.ArrayType(T.StructType([
        T.StructField("question", T.StructType([T.StructField("token", T.StringType())])),
        T.StructField("answer", T.StructType([
            T.StructField("type", T.StringType()),
            T.StructField("chosenOptions", T.ArrayType(T.IntegerType())),
            # String AND Number answers land here; JSON scalars coerce to
            # their literal text under a string schema field
            T.StructField("value", T.StringType()),
        ])),
        T.StructField("options", T.ArrayType(T.StructType([T.StructField("token", T.StringType())]))),
    ]))),
])

SAMPLE_CODE_TYPES = {"ClinicSwab": "collection", "ScannedSelfSwab": "collection"}

# Audere "use" → preferred FHIR-ish relation (enrollments.py:222-227);
# an unrecognized use is a hard KeyError in the reference
LOCATION_RELATION = {"home": "residence", "work": "workplace", "temp": "lodging"}


def decode_option_answer(responses: Column, token: str) -> Column:
    """First chosen-option token for question ``token`` — decode_answer
    parity (enrollments.py:370-399) as a pure expression: find the
    response, index its options by chosenOptions[0]."""
    resp = F.get(F.filter(responses, lambda r: r["question"]["token"] == F.lit(token)), 0)
    return F.when(
        resp["answer"]["type"] == "Option",
        F.get(resp["options"],
              F.coalesce(F.get(resp["answer"]["chosenOptions"], 0), F.lit(0)))["token"],
    )


def decoded_responses(responses: Column) -> Column:
    """token → decoded answer map (encounter_details parity,
    enrollments.py:262-278 / decode_answer 373-399). Decoded values are
    uniformly ``array<string>`` — [value] for String/Number, the chosen
    option tokens for Option, null for Declined — a typed-column rendering
    of the reference's string|number|tuple|None union."""
    def decode(r: Column) -> Column:
        return (
            F.when(r["answer"]["type"].isin("String", "Number"), F.array(r["answer"]["value"]))
            .when(
                r["answer"]["type"] == "Option",
                F.transform(
                    r["answer"]["chosenOptions"],
                    lambda i: F.get(r["options"], i)["token"],
                ),
            )
            .when(r["answer"]["type"] == "Declined", F.lit(None).cast("array<string>"))
        )

    return F.map_from_entries(
        F.transform(responses, lambda r: F.struct(r["question"]["token"], decode(r)))
    )


def parse(receiving: DataFrame) -> DataFrame:
    parsed = receiving.select("id", F.from_json("document", DOCUMENT_SCHEMA).alias("d"))
    known = parsed.filter(F.col("d.schemaVersion").isin(*KNOWN_VERSIONS))
    age_months = F.least(
        F.when(
            F.coalesce(F.col("d.age.ninetyOrAbove"), F.lit(False)), F.lit(AGE_CAP_MONTHS)
        ).otherwise(F.floor(F.col("d.age.value") * 12).cast("int")),
        F.lit(AGE_CAP_MONTHS),
    )
    # encounter details (enrollments.py:262-278): age, locations keyed by
    # use, localeLanguageCode, decoded responses — alphabetical field order
    # so first writes match the MERGE's canonical (sort_keys) details format
    details = F.to_json(F.struct(
        F.col("d.age").alias("age"),
        F.col("d.localeLanguageCode").alias("language"),
        F.map_from_entries(
            F.transform(
                F.coalesce(F.col("d.locations"), F.array()),
                lambda l: F.struct(F.lower(l["use"]), l),
            )
        ).alias("locations"),
        decoded_responses(F.col("d.responses")).alias("responses"),
    ))
    return known.select(
        "id",
        F.col("d.id").alias("encounter_identifier"),
        F.col("d.participant").alias("individual_identifier"),
        F.to_timestamp("d.startTimestamp").alias("encountered"),
        F.lower("d.site.name").alias("site_identifier"),
        F.col("d.site.type").alias("site_type"),
        age_months.cast("int").alias("age_months"),
        # AssignedSex with the AssignedSexAirport fallback (py:329-344)
        F.coalesce(
            decode_option_answer(F.col("d.responses"), "AssignedSex"),
            decode_option_answer(F.col("d.responses"), "AssignedSexAirport"),
        ).alias("sex"),
        F.col("d.locations").alias("locations"),
        F.col("d.sampleCodes").alias("sample_codes"),
        details.alias("details"),
    )


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame | None = None,
) -> dict[str, int]:
    """``identifiers`` (uuid, barcode): when provided, sampleCodes resolve
    barcode → uuid before storage (find_identifier parity,
    db/__init__.py:79-101) and unknown barcodes are skipped."""
    # the batch's one pass: every later frame reads this copy
    enr, n = materialise(parse(receiving))

    # encounter locations (enrollments.py:187-232): tracts must already
    # exist (they're enumerable); addresses upsert under the tract
    # hierarchy; relation comes from the Audere "use" vocabulary. The
    # reference's hard errors fire while the located rows are materialised,
    # before the first write: duplicate uses per document (py:281-305),
    # unknown use (py:222-231 KeyError), unknown tract (py:198-200 assert)
    locs = (
        enr.select("encounter_identifier", F.explode("locations").alias("l"))
        .select(
            "encounter_identifier",
            F.lower("l.use").alias("use"),
            F.col("l.region").alias("tract_identifier"),
            F.col("l.id").alias("address_identifier"),
        )
    )
    known_tracts = warehouse.read("location").filter(F.col("scale") == "tract")
    with_tract, _ = materialise(
        locs.join(
            F.broadcast(known_tracts.select(
                F.col("identifier").alias("tract_identifier"),
                F.col("location_id").alias("tract_location_id"),
                F.col("hierarchy").alias("tract_hierarchy"),
            )),
            "tract_identifier", "left",
        )
        .withColumn("uses", F.count("*").over(Window.partitionBy("encounter_identifier", "use")))
        .filter(checks(
            (F.col("uses") > 1,
             F.concat_ws("", F.lit("duplicate location use "), "use"), AssertionError),
            (~F.col("use").isin(*LOCATION_RELATION),
             F.concat(F.lit("unknown location use "), "use"), AssertionError),
            (F.col("tract_identifier").isNotNull() & F.col("tract_location_id").isNull(),
             F.concat(F.lit("unknown tract "), "tract_identifier"), AssertionError),
        ))
        .drop("uses")
    )

    # wave 1: site, individual and address location depend on nothing
    # the batch writes
    site_rows = enr.select(
        F.col("site_identifier").alias("identifier"),
        F.to_json(F.struct(F.col("site_type").alias("type"))).alias("details"),
    ).dropDuplicates(["identifier"])
    individual_rows = enr.select(
        F.col("individual_identifier").alias("identifier"),
        F.col("sex"),
        F.lit(None).cast("string").alias("details"),
    ).dropDuplicates(["identifier"])
    addr_wanted = (
        with_tract.filter(F.col("address_identifier").isNotNull())
        .select(
            F.lit("address").alias("scale"),
            F.col("address_identifier").alias("identifier"),
            F.col("tract_hierarchy").alias("hierarchy"),
        )
        .dropDuplicates(["identifier"])
    )
    sites, individuals, locations = concurrently(
        lambda: warehouse.find_or_create_site(site_rows),
        lambda: warehouse.upsert_individual(individual_rows),
        lambda: warehouse.upsert_location(addr_wanted),
    )

    # wave 2: the encounter takes its site and individual ids
    encounters = warehouse.upsert_encounter(
        enr.join(
            F.broadcast(sites.select(F.col("identifier").alias("site_identifier"), "site_id")),
            "site_identifier",
        )
        .join(
            individuals.select(
                F.col("identifier").alias("individual_identifier"), "individual_id"
            ),
            "individual_identifier",
        )
        .select(
            F.col("encounter_identifier").alias("identifier"),
            "individual_id", "site_id", "encountered", "age_months", "details",
        )
        .dropDuplicates(["identifier"])
    )
    encounter_ids = encounters.select(
        F.col("identifier").alias("encounter_identifier"), "encounter_id"
    )

    # wave 3: encounter locations and samples hang off the encounters
    def upsert_encounter_locations() -> int:
        addr_ids = locations.filter(F.col("scale") == "address").select(
            F.col("identifier").alias("address_identifier"),
            F.col("location_id").alias("address_location_id"),
        )
        rel_map = F.create_map(
            *[F.lit(x) for kv in LOCATION_RELATION.items() for x in kv]
        )
        el_rows = (
            with_tract.join(F.broadcast(addr_ids), "address_identifier", "left")
            .join(encounter_ids, "encounter_identifier")
            .select(
                "encounter_id",
                F.element_at(rel_map, F.col("use")).alias("relation"),
                F.coalesce("address_location_id", "tract_location_id").alias("location_id"),
            )
            # neither tract nor address → warn-and-skip in the reference
            .filter(F.col("location_id").isNotNull())
            .groupBy("encounter_id", "relation")
            .agg(F.min("location_id").alias("location_id"))
            .withColumn("details", F.lit(None).cast("string"))
        )
        # observe the prune keys here, so that Warehouse.upsert reuses this copy
        el_rows, el = materialise(
            el_rows, **prune_keys(MERGE_KEYS["encounter_location"], el_rows.columns)
        )
        warehouse.upsert_encounter_location(el_rows)
        return el["rows"]

    # skeletal samples: collection identifier only (enrollments.py:125-135)
    codes = (
        enr.select("encounter_identifier", F.explode("sample_codes").alias("sc"))
        .filter(F.col("sc.type").isin(*SAMPLE_CODE_TYPES))
        .join(encounter_ids, "encounter_identifier")
        .select("encounter_id", F.lower("sc.code").alias("barcode"))
    )
    if identifiers is not None:
        codes = codes.join(
            F.broadcast(identifiers.select(F.lower("barcode").alias("barcode"), "uuid")),
            "barcode",
        ).select("encounter_id", F.col("uuid").alias("collection_identifier"))
    else:
        codes = codes.select("encounter_id", F.col("barcode").alias("collection_identifier"))
    sample_rows = codes.select(
        F.lit(None).cast("string").alias("identifier"),
        "collection_identifier",
        "encounter_id",
    ).dropDuplicates(["collection_identifier"])
    encounter_locations, _ = concurrently(
        upsert_encounter_locations,
        lambda: warehouse.upsert_sample(sample_rows),
    )

    return {
        "enrollments": n["rows"],
        "sites": warehouse.num_rows("site"),
        "individuals": warehouse.num_rows("individual"),
        "encounters": warehouse.num_rows("encounter"),
        "encounter_locations": encounter_locations,
        "samples": warehouse.num_rows("sample"),
    }
