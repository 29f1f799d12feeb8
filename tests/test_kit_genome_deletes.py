"""Kit ETL retry semantics, consensus-genome path, delete cascade."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from id3c_spark.etl import consensus_genome, enrollments, kit
from id3c_spark.etl.warehouse import Warehouse
from id3c_spark.operators import deletes
from tests import fixtures


@pytest.fixture()
def warehouse(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    fixtures.seed_tract(wh)
    return wh


@pytest.fixture()
def identifiers(spark):
    rows = fixtures.identifier_rows() + [
        ("cccccccc-0000-0000-0000-0000deadbee1", "deadbee1", 3),  # kit barcode set
    ]
    return spark.createDataFrame(rows, "uuid string, barcode string, identifier_set_id long")


def receiving_df(spark, docs):
    return spark.createDataFrame(
        [(i + 1, json.dumps(d)) for i, d in enumerate(docs)], "id long, document string"
    ).withColumn("received", F.current_timestamp())


def test_kit_defers_until_encounter_exists(spark, warehouse, identifiers):
    kit_doc = {"kit": "DEADBEE1", "encounter": "enc-1", "rdt_sample": "11112222"}
    # enrollment not loaded yet → kit deferred, nothing written
    r1 = kit.run(spark, receiving_df(spark, [kit_doc]), warehouse, identifiers)
    assert r1.stats["ready"] == 0 and r1.stats["deferred"] == 1
    assert [row.id for row in r1.deferred_ids.collect()] == [1]
    assert warehouse.read("kit").count() == 0
    assert warehouse.tables["kit"].current_version() is None  # no empty bootstrap

    # load enrollments, retry the same document → now links
    enrollments.run(spark, receiving_df(spark, [json.loads(d) for _, d in fixtures.enrollment_documents()][:2]),
                    warehouse, identifiers)
    r2 = kit.run(spark, receiving_df(spark, [kit_doc]), warehouse, identifiers)
    assert r2.stats["ready"] == 1 and r2.stats["deferred"] == 0
    kits = warehouse.read("kit").collect()
    assert len(kits) == 1
    assert kits[0].identifier == "cccccccc-0000-0000-0000-0000deadbee1"
    assert kits[0].encounter_id is not None


def test_kit_enrollment_and_manifest_flows(spark, warehouse):
    """Reference kit_enrollments + kit_manifests parity (kit.py:49-345)."""
    ids = spark.createDataFrame(
        fixtures.identifier_rows() + [
            ("dddddddd-0000-0000-0000-0000deadbee2", "deadbee2", 3),  # kits set
            ("eeeeeeee-0000-0000-0000-0000feedbca1", "feedbca1", 4),  # test-strips set
        ],
        "uuid string, barcode string, identifier_set_id long",
    )
    set_names = {1: "samples", 2: "collections-fluathome.org",
                 3: "kits-fluathome.org", 4: "test-strips-fluathome.org"}

    # seed encounters: one at a self-test site, one at a clinic
    warehouse.publish("site", spark.createDataFrame(
        [(1, "self-test", None), (2, "clinic", None)], warehouse.read("site").schema))
    import datetime as dt

    warehouse.publish("encounter", spark.createDataFrame(
        [(10, "enc-st", 100, 1, dt.datetime(2020, 5, 1), None, None),
         (11, "enc-cl", 101, 2, dt.datetime(2020, 5, 2), None, None)],
        "encounter_id long, identifier string, individual_id long, site_id long, "
        "encountered timestamp, age_months int, details string"))

    def enr(doc_id, codes):
        return {"id": doc_id, "sampleCodes": codes}

    docs = [
        enr("enc-st", [{"type": "ScannedSelfSwab", "code": "DEADBEE2"},
                       {"type": "ClinicSwab", "code": "11112222"}]),   # type skipped
        enr("enc-cl", [{"type": "ScannedSelfSwab", "code": "DEADBEE2"}]),  # not self-test
        enr("enc-missing", [{"type": "ManualSelfSwab", "code": "DEADBEE2"}]),  # deferred
    ]
    res = kit.run_enrollments(spark, receiving_df(spark, docs), warehouse, ids, set_names)
    assert res.stats["deferred"] == 1
    assert res.stats["non_self_test"] == 1
    assert res.stats["kits"] == 1
    assert [r.id for r in res.deferred_ids.collect()] == [3]
    kits = warehouse.read("kit").collect()
    assert len(kits) == 1
    assert kits[0].identifier == "dddddddd-0000-0000-0000-0000deadbee2"
    assert kits[0].encounter_id == 10
    assert json.loads(kits[0].details) == {"type": "ScannedSelfSwab"}

    # manifest flow: rdt sample slots into the kit with test-strip details
    warehouse.upsert_sample(spark.createDataFrame(
        [(fixtures.SAMPLE_BARCODES["11112222"], None, '{"sample_type":"rdt"}')],
        "identifier string, collection_identifier string, details string"))
    manifest_docs = [
        {"kit": "DEADBEE2", "sample": "11112222", "sample_type": "rdt",
         "test_strip": "FEEDBCA1", "fluathome_batch": "B7",
         "aliquots": ["a1"]},
        {"sample": "33334444"},                        # no kit key → skipped
        {"kit": "DEADBEE2", "sample": "99990000"},     # unknown barcode → skipped
    ]
    res2 = kit.run_manifests(
        spark, receiving_df(spark, manifest_docs), warehouse, ids, set_names)
    assert res2.stats["with_kit"] == 2
    assert res2.stats["kits"] == 1
    k = warehouse.read("kit").collect()[0]
    sample_row = warehouse.read("sample").filter(
        F.col("identifier") == fixtures.SAMPLE_BARCODES["11112222"]).collect()[0]
    assert k.rdt_sample_id == sample_row.sample_id
    details = json.loads(k.details)
    assert details["type"] == "ScannedSelfSwab"        # enrollment detail kept
    assert details["fluathome_batch"] == "B7"          # manifest extras kept
    assert "aliquots" not in details                   # bookkeeping keys dropped
    assert details["test_strip"] == {
        "barcode": "feedbca1", "uuid": "eeeeeeee-0000-0000-0000-0000feedbca1"}
    # the slotted sample inherited the kit's encounter (update_kit_samples)
    assert sample_row.encounter_id == 10

    # known sample barcode whose warehouse row is missing → deferred
    res3 = kit.run_manifests(
        spark, receiving_df(spark, [{"kit": "DEADBEE2", "sample": "33334444"}]),
        warehouse, ids, set_names)
    assert res3.stats["deferred"] == 1


ORGANISMS = [
    (1, "Influenza.A.H1N1", None, None),
    (2, "Influenza.A.H3N2", None, None),
    (3, "Influenza.B", None, None),
]


def test_consensus_genome_etl(spark, warehouse, identifiers):
    # seed a sample to attach the genome to
    warehouse.upsert_sample(spark.createDataFrame(
        [(fixtures.SAMPLE_BARCODES["11112222"], None)],
        "identifier string, collection_identifier string",
    ))
    organisms = spark.createDataFrame(
        ORGANISMS, "organism_id long, lineage string, identifiers map<string,string>, details string"
    )
    doc = {
        "sample_identifier": fixtures.SAMPLE_BARCODES["11112222"],
        "reference_organism": "h3n2", "status": "complete",
        "metadata": {"urls": ["s3://b/reads2.fq.gz", "s3://b/reads1.fq.gz"]},
        "masked_consensus": [
            {"genomic_sequence": "ACGT", "sequence_segment": "PB2", "sequence_identifier": "seq-1"},
            {"genomic_sequence": "GGCC", "sequence_segment": "NA", "sequence_identifier": "seq-2"},
        ],
    }
    stats = consensus_genome.run(spark, receiving_df(spark, [doc]), warehouse, organisms)
    assert stats == {"documents": 1, "read_sets": 1, "genomes": 1, "sequences": 2}

    srs = warehouse.read("sequence_read_set").collect()[0]
    assert srs.urls == ["s3://b/reads1.fq.gz", "s3://b/reads2.fq.gz"]  # sorted

    genome = warehouse.read("consensus_genome").collect()[0]
    assert genome.organism_id == 2                     # h3n2 → H3N2 lineage
    seqs = {r.segment: r.seq for r in warehouse.read("genomic_sequence").collect()}
    assert seqs == {"pb2": "ACGT", "na": "GGCC"}

    # idempotent: same document again changes nothing and, as every row
    # matches unchanged, writes no table version
    tables = ["sequence_read_set", "consensus_genome", "genomic_sequence"]
    versions = {t: warehouse.tables[t].current_version() for t in tables}
    stats2 = consensus_genome.run(spark, receiving_df(spark, [doc]), warehouse, organisms)
    assert stats2 == stats
    assert {t: warehouse.tables[t].current_version() for t in tables} == versions

    # a batch whose samples are all unknown writes no table version
    unknown = dict(doc, sample_identifier="no-such-sample")
    consensus_genome.run(spark, receiving_df(spark, [unknown]), warehouse, organisms)
    assert {t: warehouse.tables[t].current_version() for t in tables} == versions


def test_consensus_genome_without_read_set_is_not_duplicated(spark, warehouse):
    """A genome with no read set is one row however often its document is
    re-run: the reference's partial unique index on (sample, organism)
    where the read set is null (consensus-genome.sql:33)."""
    warehouse.upsert_sample(spark.createDataFrame(
        [(fixtures.SAMPLE_BARCODES["11112222"], None)],
        "identifier string, collection_identifier string",
    ))
    organisms = spark.createDataFrame(
        ORGANISMS, "organism_id long, lineage string, identifiers map<string,string>, details string"
    )
    doc = {"sample_identifier": fixtures.SAMPLE_BARCODES["11112222"],
           "reference_organism": "h1n1", "status": "notMapped"}
    for _ in range(2):
        consensus_genome.run(spark, receiving_df(spark, [doc]), warehouse, organisms)
    genomes = warehouse.read("consensus_genome").collect()
    assert len(genomes) == 1
    assert genomes[0].sequence_read_set_id is None


def test_sequence_read_set_upload(spark, warehouse):
    """sequence_read_set.py:81-155 parity: samples resolved through
    details.nwgc_id, unknown ids surfaced, re-upload idempotent."""
    warehouse.upsert_sample(spark.createDataFrame(
        [(fixtures.SAMPLE_BARCODES["11112222"], None, '{"nwgc_id":[101,105]}'),
         (fixtures.SAMPLE_BARCODES["33334444"], None, '{"nwgc_id":102}')],  # legacy scalar
        "identifier string, collection_identifier string, details string",
    ))
    read_sets = spark.createDataFrame(
        [("105", ["file:/b/105_R2.fq.gz", "file:/b/105_R1.fq.gz"]),
         ("102", ["file:/b/102_R1.fq.gz"]),
         ("999", ["file:/b/999_R1.fq.gz"])],          # unknown NWGC id
        "sample string, urls array<string>",
    )
    from id3c_spark.etl.consensus_genome import upload_read_sets

    unknown, stats = upload_read_sets(spark, read_sets, warehouse)
    assert stats == {"uploaded": 2, "unknown": 1}
    assert [r.sample for r in unknown.collect()] == ["999"]
    srs = {tuple(r.urls) for r in warehouse.read("sequence_read_set").collect()}
    assert ("file:/b/105_R1.fq.gz", "file:/b/105_R2.fq.gz") in srs  # sorted
    assert ("file:/b/102_R1.fq.gz",) in srs

    # idempotent re-upload: same sets, no new rows
    _, stats2 = upload_read_sets(spark, read_sets, warehouse)
    assert warehouse.read("sequence_read_set").count() == 2


def test_cascade_delete_reference_semantics(spark):
    """Full redcap_sync parity: REDCap-provenance samples deleted with their
    presence_absences, lab samples unlinked with details.note dropped,
    locations/individuals deleted only when unique to doomed encounters."""
    frames = {
        "encounter": spark.createDataFrame(
            [(1, "enc-1", 10), (2, "enc-2", 11)],
            "encounter_id long, identifier string, individual_id long"),
        "encounter_location": spark.createDataFrame(
            [(1, 100), (1, 101), (2, 101)], "encounter_id long, location_id long"),
        "location": spark.createDataFrame([(100,), (101,), (102,)], "location_id long"),
        "sample": spark.createDataFrame(
            [(1000, 1, '{"coding": [], "note": "x"}'),   # REDCap provenance
             (1001, 1, '{"note": "x", "lims": true}'),   # lab provenance
             (1002, 2, '{"note": "y"}')],                # different encounter
            "sample_id long, encounter_id long, details string"),
        "presence_absence": spark.createDataFrame(
            [(1, 1000), (2, 1001)], "pa_id long, sample_id long"),
        # individual 12 has no encounter at all — pre-existing, must survive
        "individual": spark.createDataFrame([(10,), (11,), (12,)], "individual_id long"),
    }
    doomed = frames["encounter"].filter(F.col("identifier") == "enc-1")
    out, stats = deletes.cascade_delete_encounters(frames, doomed)

    assert stats["encounter"] == 1
    # location 100 unique to enc-1 → deleted; 101 shared with enc-2 and 102
    # never referenced → both survive
    assert stats["location"] == 1
    assert {r.location_id for r in out["location"].collect()} == {101, 102}
    # sample 1000 (details exactly {coding, note}) deleted + its pa rows;
    # sample 1001 keeps lab results: unlinked, note dropped
    assert stats["sample"] == 1
    assert stats["presence_absence"] == 1
    assert stats["sample_unlinked"] == 1
    samples = {r.sample_id: r for r in out["sample"].collect()}
    assert set(samples) == {1001, 1002}
    assert samples[1001].encounter_id is None
    assert json.loads(samples[1001].details) == {"lims": True}
    assert samples[1002].encounter_id == 2
    assert json.loads(samples[1002].details) == {"note": "y"}
    assert {r.pa_id for r in out["presence_absence"].collect()} == {2}
    # individual 10 unique to enc-1 → deleted; 11 still referenced; 12
    # encounter-less pre-existing → both survive
    assert stats["individual_orphans"] == 1
    assert {r.individual_id for r in out["individual"].collect()} == {11, 12}


def test_cascade_delete(spark, warehouse, identifiers):
    enrollments.run(
        spark, receiving_df(spark, [json.loads(d) for _, d in fixtures.enrollment_documents()]),
        warehouse, identifiers,
    )
    frames = {n: warehouse.read(n) for n in ("encounter", "sample", "individual")}
    doomed = deletes.find_encounters_like_any(frames["encounter"], ["enc-1%"])
    assert doomed.count() == 1

    out, stats = deletes.cascade_delete_encounters(frames, doomed)
    assert stats["encounter"] == 1
    assert stats["sample_unlinked"] == 1
    assert stats["individual_orphans"] == 1            # indiv-1 orphaned

    assert {r.identifier for r in out["encounter"].collect()} == {"enc-2"}
    assert {r.identifier for r in out["individual"].collect()} == {"indiv-2"}
    # unlinked sample retained but detached
    s = {r.collection_identifier: r.encounter_id for r in out["sample"].collect()}
    assert s[fixtures.COLLECTION_BARCODES["aabbccdd"]] is None
    assert s[fixtures.COLLECTION_BARCODES["bbccddee"]] is not None
