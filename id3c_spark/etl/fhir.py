"""FHIR ETL (reference: lib/id3c/cli/command/etl/fhir.py — its largest ETL).

Bundles (type=collection, FIXTURES §2.5) carry heterogeneous resources
linked by ``urn:uuid`` references. The reference walks each bundle with
fhir.resources classes in Python; here the walk IS the plan:

  parse (one permissive struct covering the fields we consume) →
  explode entries → split by resourceType into per-resource frames →
  resolve references with equi-joins on (receiving id, fullUrl) →
  staged entity frames → MERGEs.

Reference-parity rules kept:
  - bundle skip rules (fhir.py:346-371): no Patient and no
    DiagnosticReport → skip; Patient without Encounter → skip.
  - urn:uuid scrubbing before change-compare happens inside the MERGE's
    details comparison (etl/__init__.py:184-190 analog).
  - SNOMED result code map (fhir.py:912-923): 10828004 → present,
    260385009 → absent, 82334004 → indeterminate(null),
    911000124104 inconclusive → skipped.
  - Encounter.location: identifier-system sites attach the encounter's
    site; resource refs resolve to Location resources (tract hierarchy).
  - QuestionnaireResponse item ``age_months``/``age`` → encounter age
    (fhir.py QR handling), capped at 90 years.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.etl.warehouse import MERGE_KEYS, Warehouse, transactional
from id3c_spark.operators.merge import materialise
from id3c_spark.sources.store import prune_keys

AGE_CAP_MONTHS = 90 * 12

_IDENT = T.ArrayType(T.StructType([
    T.StructField("system", T.StringType()),
    T.StructField("value", T.StringType()),
]))
_CODING = T.StructType([T.StructField("coding", T.ArrayType(T.StructType([
    T.StructField("system", T.StringType()),
    T.StructField("code", T.StringType()),
])))])

RESOURCE_SCHEMA = T.StructType([
    T.StructField("resourceType", T.StringType()),
    T.StructField("identifier", _IDENT),
    T.StructField("gender", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("period", T.StructType([T.StructField("start", T.StringType())])),
    T.StructField("subject", T.StructType([T.StructField("reference", T.StringType())])),
    T.StructField("encounter", T.StructType([T.StructField("reference", T.StringType())])),
    T.StructField("specimen", T.StructType([T.StructField("reference", T.StringType())])),
    T.StructField("location", T.ArrayType(T.StructType([
        T.StructField("location", T.StructType([
            T.StructField("reference", T.StringType()),
            T.StructField("identifier", T.StructType([
                T.StructField("system", T.StringType()),
                T.StructField("value", T.StringType()),
            ])),
        ])),
    ]))),
    T.StructField("type", T.ArrayType(_CODING)),
    T.StructField("collection", T.StructType([
        T.StructField("collectedDateTime", T.StringType()),
    ])),
    T.StructField("code", _CODING),
    T.StructField("valueBoolean", T.BooleanType()),
    T.StructField("device", T.StructType([T.StructField("identifier", T.StructType([
        T.StructField("value", T.StringType()),
    ]))])),
    T.StructField("item", T.ArrayType(T.StructType([
        T.StructField("linkId", T.StringType()),
        T.StructField("answer", T.ArrayType(T.StructType([
            T.StructField("valueInteger", T.IntegerType()),
        ]))),
    ]))),
    # Patient.communication → preferred language (fhir.py:562-572)
    T.StructField("communication", T.ArrayType(T.StructType([
        T.StructField("language", _CODING),
        T.StructField("preferred", T.BooleanType()),
    ]))),
    # Encounter.reasonCode codings (fhir.py:575-585)
    T.StructField("reasonCode", T.ArrayType(T.StructType([
        T.StructField("coding", T.ArrayType(T.StructType([
            T.StructField("system", T.StringType()),
            T.StructField("code", T.StringType()),
            T.StructField("display", T.StringType()),
        ]))),
    ]))),
    # Encounter.meta.source data URI (fhir.py:506-559)
    T.StructField("meta", T.StructType([T.StructField("source", T.StringType())])),
    # Encounter.partOf / Location.partOf resolution (fhir.py:479-483, 849-851)
    T.StructField("partOf", T.StructType([T.StructField("reference", T.StringType())])),
])

BUNDLE_SCHEMA = T.StructType([
    T.StructField("resourceType", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("id", T.StringType()),
    T.StructField("entry", T.ArrayType(T.StructType([
        T.StructField("fullUrl", T.StringType()),
        T.StructField("resource", RESOURCE_SCHEMA),
    ]))),
])

SNOMED_PRESENT = {"10828004": True, "260385009": False, "82334004": None}
SNOMED_SKIP = {"911000124104"}  # inconclusive

LANGUAGE_SYSTEM = "urn:ietf:bcp:47"                                   # fhir.py:64
LOCATION_RELATION_SYSTEM = "http://terminology.hl7.org/CodeSystem/v3-RoleCode"  # fhir.py:61
# FHIR V3 RoleCode → internal location relation (fhir.py:433-451)
LOCATION_RELATION_MAP = {
    "HUSCS": "site",
    "PTRES": "residence",
    "PTLDG": "lodging",
    "WORK": "work",
    "SCHOOL": "school",
}


def parse_data_uri_json(source: str | None):
    """Encounter.meta.source handling (fhir.py:506-559 doctests): a
    ``data:application/json`` URI (plain, urlencoded or base64) deserializes;
    anything else — or a parse failure — passes through as the raw string.
    Returns canonical JSON text either way (string values JSON-quoted)."""
    import base64
    import json as _json
    import urllib.parse

    def quoted(s: str) -> str:
        return _json.dumps(s)

    if source is None:
        return None
    try:
        if source.startswith("data:application/json;base64,"):
            payload = base64.b64decode(source.split(",", 1)[1]).decode()
        elif source.startswith("data:application/json,"):
            payload = urllib.parse.unquote(source.split(",", 1)[1])
        else:
            return quoted(source)
        return _json.dumps(_json.loads(payload), sort_keys=True, separators=(",", ":"))
    except Exception:
        return quoted(source)


def _ident_value(identifier_col, system_suffix: str):
    """First identifier value whose system ends with the suffix."""
    match = F.filter(identifier_col, lambda i: i["system"].endswith(system_suffix))
    return F.get(match, 0)["value"]


@F.pandas_udf(T.StringType())
def _provenance_udf(src):
    import pandas as pd

    return pd.Series([parse_data_uri_json(s) for s in src])


def parse_resources(receiving: DataFrame) -> DataFrame:
    """receiving(id, document) → (id, fullUrl, resource) rows for valid
    collection bundles."""
    parsed = receiving.select("id", F.from_json("document", BUNDLE_SCHEMA).alias("b"))
    bundles = parsed.filter(
        (F.col("b.resourceType") == "Bundle") & (F.col("b.type") == "collection")
    )
    return bundles.select("id", F.explode("b.entry").alias("e")).select(
        "id", F.col("e.fullUrl").alias("fullUrl"), F.col("e.resource").alias("r")
    )


def _of_type(res: DataFrame, rtype: str) -> DataFrame:
    return res.filter(F.col("r.resourceType") == rtype)


@transactional
def run(
    spark: SparkSession,
    receiving: DataFrame,
    warehouse: Warehouse,
    identifiers: DataFrame,
) -> dict[str, int]:
    # the batch (under run_incremental, already a copy: no job) and its
    # resources, each computed once
    receiving, batch = materialise(receiving)
    res, _ = materialise(parse_resources(receiving))

    # preferred-language extraction (fhir.py:562-572): the preferred
    # communication entry's bcp-47 coding
    preferred_comm = F.get(
        F.filter(F.col("r.communication"), lambda c: c["preferred"]), 0
    )
    language = F.get(
        F.filter(
            preferred_comm["language"]["coding"],
            lambda c: c["system"] == LANGUAGE_SYSTEM,
        ),
        0,
    )["code"]
    patients = _of_type(res, "Patient").select(
        "id", F.col("fullUrl").alias("patient_url"),
        _ident_value(F.col("r.identifier"), "/individual").alias("individual_identifier"),
        # gender 'unknown' → null (fhir.py:401-405)
        F.when(F.col("r.gender") == "unknown", F.lit(None).cast("string"))
         .otherwise(F.col("r.gender")).alias("sex"),
        language.alias("language"),
    )
    encounters_r = _of_type(res, "Encounter").select(
        "id", F.col("fullUrl").alias("encounter_url"),
        _ident_value(F.col("r.identifier"), "/encounter").alias("encounter_identifier"),
        F.to_timestamp("r.period.start").alias("encountered"),
        F.col("r.subject.reference").alias("patient_ref"),
        F.col("r.location").alias("locations"),
        # reason codings flattened across concepts (fhir.py:575-585)
        F.flatten(F.transform(F.col("r.reasonCode"), lambda c: c["coding"])).alias("reason"),
        F.col("r.meta.source").alias("meta_source"),
        F.col("r.partOf.reference").alias("part_of_ref"),
    )
    diagnostics = _of_type(res, "DiagnosticReport").select("id").distinct()

    # bundle skip rules: need (Patient AND Encounter) or a DiagnosticReport
    has_patient_encounter = (
        patients.select("id").distinct().join(encounters_r.select("id").distinct(), "id")
    )
    valid_ids = has_patient_encounter.unionByName(diagnostics).distinct()
    n_valid = valid_ids.count()

    patients = patients.join(valid_ids, "id")
    encounters_r = encounters_r.join(valid_ids, "id")

    individuals = warehouse.upsert_individual(
        patients.select(
            F.col("individual_identifier").alias("identifier"),
            "sex",
        ).dropDuplicates(["identifier"]).withColumn("details", F.lit(None).cast("string"))
    )

    # encounter sites: location entries carrying an identifier with /site system
    site_ident = F.get(
        F.filter(
            F.col("locations"),
            lambda l: l["location"]["identifier"]["system"].endswith("/site"),
        ),
        0,
    )["location"]["identifier"]["value"]
    enc_sites = encounters_r.select("encounter_identifier", F.lower(site_ident).alias("site_identifier"))
    sites = warehouse.find_or_create_site(
        enc_sites.filter(F.col("site_identifier").isNotNull())
        .select(F.col("site_identifier").alias("identifier"))
        .dropDuplicates(["identifier"])
        .withColumn("details", F.lit(None).cast("string"))
    )

    # ages from QuestionnaireResponse items (age_months preferred)
    qr = _of_type(res, "QuestionnaireResponse").select(
        "id", F.col("r.encounter.reference").alias("encounter_ref"), F.explode("r.item").alias("item")
    )
    ages = (
        qr.filter(F.col("item.linkId").isin("age", "age_months"))
        .select(
            "id", "encounter_ref",
            F.when(F.col("item.linkId") == "age_months", F.get(F.col("item.answer"), 0)["valueInteger"])
             .otherwise(F.get(F.col("item.answer"), 0)["valueInteger"] * 12).alias("months"),
            (F.col("item.linkId") == "age_months").cast("int").alias("pref"),
        )
        .groupBy("id", "encounter_ref")
        .agg(F.max_by("months", "pref").alias("age_months"))
        .select("id", "encounter_ref", F.least(F.col("age_months"), F.lit(AGE_CAP_MONTHS)).alias("age_months"))
    )

    # Encounter.partOf → parent encounter identifier (fhir.py:479-483):
    # resolved with a self-join on fullUrl within the same bundle
    parents = encounters_r.select(
        F.col("id").alias("pid"), F.col("encounter_url").alias("p_url"),
        F.col("encounter_identifier").alias("part_of"),
    )
    # Encounter.meta.source data-URI → details._provenance (fhir.py:506-559);
    # pandas UDF gated to rows that carry a source at all
    enc_prov = encounters_r.withColumn(
        "prov_json",
        F.when(F.col("meta_source").isNull(), F.lit(None).cast("string")).otherwise(
            _provenance_udf(F.col("meta_source"))
        ),
    )
    enc_prov = enc_prov.join(
        parents,
        (enc_prov.id == parents.pid) & (enc_prov.part_of_ref == parents.p_url),
        "left",
    ).drop("pid", "p_url")

    base_details = F.to_json(F.struct(
        F.col("language").alias("language"),
        F.col("reason").alias("reason"),
        F.col("part_of").alias("part_of"),
    ))
    # splice the pre-serialized provenance JSON into the details object
    # (to_json can't embed raw JSON text; the fragments are both canonical)
    details_col = F.when(
        F.col("prov_json").isNull(),
        F.when(base_details == "{}", F.lit(None).cast("string")).otherwise(base_details),
    ).otherwise(
        F.when(
            base_details == "{}",
            F.concat(F.lit('{"_provenance":'), F.col("prov_json"), F.lit("}")),
        ).otherwise(
            F.concat(
                F.substring(base_details, F.lit(1), F.length(base_details) - 1),
                F.lit(',"_provenance":'), F.col("prov_json"), F.lit("}"),
            )
        )
    )

    enc_full = (
        enc_prov
        .join(patients.select("id", "patient_url", "individual_identifier", "language"),
              (enc_prov.id == patients.id) & (enc_prov.patient_ref == patients.patient_url))
        .drop(patients.id)
        .join(individuals.select(F.col("identifier").alias("individual_identifier"), "individual_id"),
              "individual_identifier")
        .join(enc_sites.join(sites.select(F.col("identifier").alias("site_identifier"), "site_id"),
                             "site_identifier").select("encounter_identifier", "site_id"),
              "encounter_identifier", "left")
        .join(ages.withColumnsRenamed({"encounter_ref": "enc_url"}),
              (enc_prov.id == ages.id) & (F.col("encounter_url") == F.col("enc_url")), "left")
        .select(
            F.col("encounter_identifier").alias("identifier"),
            "individual_id",
            F.coalesce("site_id", F.lit(-1)).alias("site_id"),
            "encountered",
            F.col("age_months").cast("int").alias("age_months"),
            details_col.alias("details"),
        )
        .dropDuplicates(["identifier"])
    )
    encounters = warehouse.upsert_encounter(enc_full)

    # non-site encounter locations (fhir.py:776-891): resolve Location
    # resources by fullUrl, map the V3 RoleCode to our relation, find the
    # tract (parent partOf first, else the location itself), upsert address
    # locations under the tract hierarchy, and attach encounter_location
    # rows pointing at the address if present else the tract.
    locations_r = _of_type(res, "Location").select(
        "id", F.col("fullUrl").alias("location_url"),
        _ident_value(F.col("r.identifier"), "/location/tract").alias("own_tract"),
        _ident_value(F.col("r.identifier"), "/location/address").alias("own_address"),
        F.get(
            F.filter(
                F.flatten(F.transform(F.col("r.type"), lambda t: t["coding"])),
                lambda c: c["system"] == LOCATION_RELATION_SYSTEM,
            ),
            0,
        )["code"].alias("role_code"),
        F.col("r.partOf.reference").alias("parent_ref"),
    )
    enc_locs = (
        encounters_r.select("id", "encounter_identifier", F.explode("locations").alias("lr"))
        .select(
            "id", "encounter_identifier",
            F.col("lr.location.reference").alias("loc_ref"),
            F.col("lr.location.identifier.system").alias("ident_system"),
        )
        # site-identifier entries are processed separately (fhir.py:783-786)
        .filter(
            F.col("loc_ref").isNotNull()
            & (F.col("ident_system").isNull() | ~F.col("ident_system").endswith("/site"))
        )
    )
    rel_map = F.create_map(
        *[F.lit(x) for kv in LOCATION_RELATION_MAP.items() for x in kv]
    )
    loc_joined = (
        enc_locs
        .join(locations_r,
              (enc_locs.id == locations_r.id) & (F.col("loc_ref") == F.col("location_url")))
        .drop(locations_r.id)
        .join(
            locations_r.select(
                F.col("id").alias("pid"), F.col("location_url").alias("p_url"),
                F.col("own_tract").alias("parent_tract"),
            ),
            (F.col("id") == F.col("pid")) & (F.col("parent_ref") == F.col("p_url")),
            "left",
        )
        .select(
            "encounter_identifier",
            F.element_at(rel_map, F.col("role_code")).alias("relation"),
            F.coalesce("parent_tract", "own_tract").alias("tract_identifier"),
            "own_address",
        )
        .filter(F.col("relation").isNotNull())
    )
    wh_tracts = (
        warehouse.read("location").filter(F.col("scale") == "tract")
        .select(
            F.col("identifier").alias("tract_identifier"),
            F.col("location_id").alias("tract_location_id"),
            F.col("hierarchy").alias("tract_hierarchy"),
        )
    )
    with_tract = loc_joined.join(F.broadcast(wh_tracts), "tract_identifier", "left")

    addr_wanted = (
        with_tract.filter(F.col("own_address").isNotNull())
        .select(
            F.lit("address").alias("scale"),
            F.col("own_address").alias("identifier"),
            F.col("tract_hierarchy").alias("hierarchy"),
        )
        .dropDuplicates(["identifier"])
    )
    loc_table = warehouse.upsert_location(addr_wanted)
    addr_ids = loc_table.filter(F.col("scale") == "address").select(
        F.col("identifier").alias("own_address"),
        F.col("location_id").alias("address_location_id"),
    )
    el_rows = (
        with_tract.join(F.broadcast(addr_ids), "own_address", "left")
        .join(encounters.select(F.col("identifier").alias("encounter_identifier"),
                                "encounter_id"),
              "encounter_identifier")
        .select(
            "encounter_id", "relation",
            F.coalesce("address_location_id", "tract_location_id").alias("location_id"),
        )
        .filter(F.col("location_id").isNotNull())
        # deterministic winner per (encounter, relation) composite key
        .groupBy("encounter_id", "relation")
        .agg(F.min("location_id").alias("location_id"))
        .withColumn("details", F.lit(None).cast("string"))
    )
    # observe the prune keys here, so that Warehouse.upsert reuses this copy
    el_rows, el = materialise(
        el_rows, **prune_keys(MERGE_KEYS["encounter_location"], el_rows.columns)
    )
    warehouse.upsert_encounter_location(el_rows)

    # specimens → samples (barcode resolved through the identifier table)
    specimens = _of_type(res, "Specimen").select(
        "id", F.col("fullUrl").alias("specimen_url"),
        F.lower(_ident_value(F.col("r.identifier"), "/sample")).alias("barcode"),
        F.to_date(F.col("r.collection.collectedDateTime")).alias("collected"),
    )
    obs_links = _of_type(res, "Observation").select(
        "id",
        F.col("r.encounter.reference").alias("encounter_ref"),
        F.col("r.specimen.reference").alias("specimen_ref"),
    ).filter(F.col("specimen_ref").isNotNull() & F.col("encounter_ref").isNotNull())

    spec_enc = (
        specimens
        .join(obs_links, (specimens.id == obs_links.id)
              & (specimens.specimen_url == obs_links.specimen_ref))
        .drop(obs_links.id)
        .join(encounters_r.select("id", "encounter_url", "encounter_identifier"),
              (specimens.id == encounters_r.id) & (F.col("encounter_ref") == F.col("encounter_url")))
        .join(encounters.select(F.col("identifier").alias("encounter_identifier"), "encounter_id"),
              "encounter_identifier")
        .select("barcode", "collected", "encounter_id")
    )
    resolved = spec_enc.join(
        F.broadcast(identifiers.select(F.lower("barcode").alias("barcode"), "uuid")), "barcode"
    )
    samples = warehouse.upsert_sample(
        resolved.select(
            F.col("uuid").alias("identifier"), "collected", "encounter_id"
        ).dropDuplicates(["identifier"])
    )

    # diagnostic results → presence_absence (SNOMED map)
    results = _of_type(res, "Observation").select(
        "id",
        F.get(F.col("r.code.coding"), 0)["code"].alias("snomed"),
        F.col("r.valueBoolean").alias("value_bool"),
        F.col("r.device.identifier.value").alias("device"),
        F.col("r.specimen.reference").alias("specimen_ref"),
    ).filter(F.col("snomed").isNotNull() & ~F.col("snomed").isin(*SNOMED_SKIP))
    present = (
        F.when(F.col("snomed") == "10828004", F.col("value_bool"))
        .when(F.col("snomed") == "260385009", F.lit(False))
        .when(F.col("snomed") == "82334004", F.lit(None).cast("boolean"))
    )
    pa_rows = (
        results.filter(F.col("specimen_ref").isNotNull())
        .join(specimens, (results.id == specimens.id)
              & (results.specimen_ref == specimens.specimen_url))
        .drop(specimens.id)
        .join(F.broadcast(identifiers.select(F.lower("barcode").alias("barcode"), "uuid")), "barcode")
        .join(samples.select(F.col("identifier").alias("uuid"), "sample_id"), "uuid")
    )
    targets = warehouse.find_or_create_target(
        pa_rows.select(F.concat(F.lit("snomed/"), "snomed").alias("identifier"))
        .dropDuplicates(["identifier"]).withColumn("control", F.lit(False))
    )
    warehouse.upsert_presence_absence(
        pa_rows.join(
            F.broadcast(targets.select(
                F.concat(F.lit("snomed/"), F.regexp_replace("identifier", "snomed/", "")).alias("tkey"),
                "target_id", F.col("identifier").alias("t_ident"))),
            F.concat(F.lit("snomed/"), F.col("snomed")) == F.col("tkey"),
        )
        .select(
            F.concat_ws("/", "uuid", "snomed", F.coalesce("device", F.lit(""))).alias("identifier"),
            "sample_id", "target_id",
            present.alias("present"),
        )
        .dropDuplicates(["identifier"])
    )

    return {
        "bundles": batch["rows"],
        "valid_bundles": n_valid,
        "individuals": warehouse.num_rows("individual"),
        "encounters": warehouse.num_rows("encounter"),
        "encounter_locations": el["rows"],
        "samples": warehouse.num_rows("sample"),
    }
