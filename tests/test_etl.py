"""End-to-end domain ETL tests: receiving documents → warehouse MERGEs →
shipping views, with a DuckDB oracle on the view stack.

Pipeline order mirrors production: enrollment (skeletal collection
samples) → manifest (links sample↔collection barcodes via OR-key MERGE) →
presence-absence (results by sample identifier)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from id3c_spark.etl import enrollments, manifest, presence_absence
from id3c_spark.etl.warehouse import Warehouse
from id3c_spark.plans import shipping
from tests import fixtures


@pytest.fixture()
def warehouse(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "warehouse"))
    fixtures.seed_tract(wh)
    return wh


@pytest.fixture()
def identifiers(spark):
    return spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    )


def receiving_df(spark, rows):
    return spark.createDataFrame(rows, "id long, document string").withColumn(
        "received", F.current_timestamp()
    )


def run_pipeline(spark, warehouse, identifiers):
    s1 = enrollments.run(spark, receiving_df(spark, fixtures.enrollment_documents()),
                         warehouse, identifiers)
    s2 = manifest.run(spark, receiving_df(spark, fixtures.manifest_documents()),
                      warehouse, identifiers)
    s3 = presence_absence.run(spark, receiving_df(spark, fixtures.pa_documents()),
                              warehouse, identifiers)
    return s1, s2, s3


def table_versions(warehouse):
    return {name: tbl.current_version() for name, tbl in warehouse.tables.items()}


def table_files(warehouse):
    return {name: tbl.files() for name, tbl in warehouse.tables.items()}


@pytest.fixture(scope="module")
def enrolled(spark, tmp_path_factory):
    """A warehouse after one clean enrollment run of the fixture batch,
    and the run's stats; shared read-only by the tests that check it or
    compare against it."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("enrolled")))
    fixtures.seed_tract(wh)
    identifiers = spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    )
    batch = receiving_df(spark, fixtures.enrollment_documents())
    return wh, enrollments.run(spark, batch, wh, identifiers)


def test_enrollment_etl(enrolled):
    warehouse, stats = enrolled
    assert stats["enrollments"] == 2               # unknown version skipped

    ind = {r.identifier: r.sex for r in warehouse.read("individual").collect()}
    assert ind == {"indiv-1": "female", "indiv-2": "male"}

    enc = {r.identifier: r for r in warehouse.read("encounter").collect()}
    assert enc["enc-1"].age_months == 414           # floor(34.5 * 12)
    assert enc["enc-2"].age_months == 1080          # ninetyOrAbove cap
    assert {r.identifier for r in warehouse.read("site").collect()} == {"hmc", "uw-club"}

    samples = {r.collection_identifier for r in warehouse.read("sample").collect()}
    # codes resolved to collection uuids; unknown type + unknown barcode skipped
    assert samples == {
        fixtures.COLLECTION_BARCODES["aabbccdd"],
        fixtures.COLLECTION_BARCODES["bbccddee"],
    }


def test_enrollment_details_and_locations(spark, warehouse, identifiers):
    """Reference long tail (enrollments.py:187-305): encounter details with
    language + decoded responses, tract/address location attachment."""
    import json

    doc = {
        "id": "enc-loc", "schemaVersion": "1.1.0", "participant": "indiv-9",
        "startTimestamp": "2020-02-02T10:00:00Z",
        "localeLanguageCode": "es",
        "site": {"name": "HMC", "type": "clinic"},
        "age": {"value": 40.0, "ninetyOrAbove": False},
        "locations": [
            {"use": "home", "region": "53033000100", "id": "household-7"},
            {"use": "work", "region": "53033000100"},
        ],
        "sampleCodes": [],
        "responses": [
            {"question": {"token": "AssignedSexAirport"},
             "answer": {"type": "Option", "chosenOptions": [1]},
             "options": [{"token": "male"}, {"token": "female"}]},
            {"question": {"token": "Symptoms"},
             "answer": {"type": "Option", "chosenOptions": [0, 2]},
             "options": [{"token": "cough"}, {"token": "fever"}, {"token": "ache"}]},
            {"question": {"token": "HowLong"},
             "answer": {"type": "Number", "value": 3}, "options": []},
            {"question": {"token": "Private"},
             "answer": {"type": "Declined"}, "options": []},
        ],
    }
    stats = enrollments.run(
        spark, receiving_df(spark, [(1, json.dumps(doc))]), warehouse, identifiers
    )
    assert stats["encounter_locations"] == 2

    enc = warehouse.read("encounter").collect()[0]
    assert enc.identifier == "enc-loc"
    ind = {r.identifier: r.sex for r in warehouse.read("individual").collect()}
    assert ind["indiv-9"] == "female"                # AssignedSexAirport fallback
    details = json.loads(enc.details)
    assert details["language"] == "es"
    assert details["age"] == {"ninetyOrAbove": False, "value": 40.0}
    assert details["locations"]["home"]["region"] == "53033000100"
    assert details["responses"]["Symptoms"] == ["cough", "ache"]
    assert details["responses"]["HowLong"] == ["3"]
    assert details["responses"]["Private"] is None   # Declined → null (py:395-396)

    # household address upserted under the tract hierarchy; encounter
    # locations point at the address for home, the tract for work
    locs = {(r.scale, r.identifier): r for r in warehouse.read("location").collect()}
    assert locs[("address", "household-7")].hierarchy == fixtures.TRACT_HIERARCHY
    els = {r.relation: r.location_id for r in warehouse.read("encounter_location").collect()}
    assert els["residence"] == locs[("address", "household-7")].location_id
    assert els["workplace"] == locs[("tract", "53033000100")].location_id

    # unknown tract aborts like the reference's assert (py:198-200), and
    # a rejected batch writes no table
    versions = table_versions(warehouse)
    bad = dict(doc, id="enc-bad",
               locations=[{"use": "home", "region": "99999999999"}])
    with pytest.raises(AssertionError, match="unknown tract"):
        enrollments.run(spark, receiving_df(spark, [(2, json.dumps(bad))]),
                        warehouse, identifiers)
    assert table_versions(warehouse) == versions
    # unknown use aborts (relation KeyError, py:222-231)
    bad2 = dict(doc, id="enc-bad2", locations=[{"use": "vacation"}])
    with pytest.raises(AssertionError, match="unknown location use"):
        enrollments.run(spark, receiving_df(spark, [(3, json.dumps(bad2))]),
                        warehouse, identifiers)
    assert table_versions(warehouse) == versions
    assert {r.identifier for r in warehouse.read("encounter").collect()} == {"enc-loc"}


def test_manifest_links_sample_to_collection(spark, warehouse, identifiers):
    enrollments.run(spark, receiving_df(spark, fixtures.enrollment_documents()),
                    warehouse, identifiers)
    stats = manifest.run(spark, receiving_df(spark, fixtures.manifest_documents()),
                         warehouse, identifiers)
    assert stats["unknown_barcodes"] == 1

    rows = {r.collection_identifier: r for r in warehouse.read("sample").collect()}
    linked = rows[fixtures.COLLECTION_BARCODES["aabbccdd"]]
    # OR-key MERGE fused the skeletal enrollment row with the manifest row
    assert linked.identifier == fixtures.SAMPLE_BARCODES["11112222"]
    assert str(linked.collected) == "2020-03-15"     # M/d/yyyy parsed
    assert linked.encounter_id is not None           # enrollment link survived
    assert len(rows) == 2                             # no duplicate rows created


def test_presence_absence_etl(spark, warehouse, identifiers):
    _, _, stats = run_pipeline(spark, warehouse, identifiers)
    assert stats["unknown_barcodes"] == 1          # UNKNOWN1

    targets = {r.identifier: r.control for r in warehouse.read("target").collect()}
    assert targets == {
        "Flu_A_pan": False, "RSV": False, "PhiX_Control": True, "Flu_B_pan": False,
    }

    pa = warehouse.read("presence_absence")
    joined = {
        (r.sample_identifier, r.target): r.present
        for r in pa.join(
            warehouse.read("target").select("target_id", F.col("identifier").alias("target")),
            "target_id",
        )
        .join(
            warehouse.read("sample").select(
                "sample_id", F.col("identifier").alias("sample_identifier")),
            "sample_id",
        )
        .collect()
    }
    u1 = fixtures.SAMPLE_BARCODES["11112222"]
    u2 = fixtures.SAMPLE_BARCODES["33334444"]
    assert joined[(u1, "Flu_A_pan")] is False      # re-test correction flipped it
    assert joined[(u1, "RSV")] is False
    assert joined[(u1, "PhiX_Control")] is True
    assert joined[(u1, "Flu_B_pan")] is None       # Indeterminate → null
    assert joined[(u2, "Flu_A_pan")] is False      # Negative
    assert "Adeno" not in {t for _, t in joined}   # Fail skipped

    # results attached to the SAME fused sample rows the manifest linked
    assert warehouse.read("sample").count() == 2

    # idempotence: re-running the same batch changes nothing
    before = sorted(map(str, warehouse.read("presence_absence").collect()))
    presence_absence.run(spark, receiving_df(spark, fixtures.pa_documents()),
                         warehouse, identifiers)
    after = sorted(map(str, warehouse.read("presence_absence").collect()))
    assert before == after


def test_presence_absence_details_and_validation(spark, warehouse, identifiers):
    """Reference long tail: nwgc_id array union, rich PA details, dated
    assay-type heuristic, tiny-swab collection matching, hard errors."""
    import json

    def doc(samples):
        return receiving_df(spark, [(1, json.dumps({"samples": samples}))])

    base = {"investigatorId": "11112222", "sampleId": 201, "chip": "chip-Z9",
            "sampleFailed": False, "isCurrentExpressionResult": True,
            "assayName": "OpenArray", "assayDate": "2021-03-01",
            "extractionDate": "2021-02-28", "resultTimestamp": "2021-03-02T01:00:00Z",
            "sampleComment": "ok", "initialProceedToSequencingCall": True,
            "sampleProceedToSequencing": False,
            "targetResults": [
                {"geneTarget": "Flu_A_pan", "controlStatus": "NotControl",
                 "targetStatus": "Detected", "clinicalStatus": "Clia",
                 "wellResults": [{"w": "A1"}, {"w": "A2"}]},
            ]}
    presence_absence.run(spark, doc([base]), warehouse, identifiers)
    pa = warehouse.read("presence_absence").collect()
    assert len(pa) == 1
    assert pa[0].identifier == "NWGC/201/Flu_A_pan/chip-Z9"
    details = json.loads(pa[0].details)
    assert details["device"] == "OpenArray"
    assert details["assay_type"] == "Clia"                 # per-target clinicalStatus
    assert details["assay_date"] == "2021-03-01"
    assert details["replicates"] == [{"w": "A1"}, {"w": "A2"}]
    assert details["result_timestamp"] == "2021-03-02T01:00:00Z"
    sample = warehouse.read("sample").collect()[0]
    sdetails = json.loads(sample.details)
    assert sdetails["nwgc_id"] == [201]
    assert sdetails["sequencing_call"] == {"comment": "ok", "final": False, "initial": True}

    # second batch with a new nwgc id → array extends and dedupes
    base2 = dict(base, sampleId=202)
    presence_absence.run(spark, doc([base2]), warehouse, identifiers)
    sample = warehouse.read("sample").collect()[0]
    assert json.loads(sample.details)["nwgc_id"] == [201, 202]

    # tiny-swab set routes the match through collection_identifier
    presence_absence.run(
        spark,
        doc([dict(base, investigatorId="AABBCCDD", sampleId=300, chip=None)]),
        warehouse, identifiers,
        set_names={1: "samples", 2: "collections-uw-tiny-swabs"},
        valid_sets={"samples", "collections-uw-tiny-swabs"},
    )
    rows = {r.collection_identifier: r for r in warehouse.read("sample").collect()
            if r.collection_identifier}
    tiny = rows[fixtures.COLLECTION_BARCODES["aabbccdd"]]
    assert tiny.identifier is None                         # matched as collection
    assert json.loads(tiny.details)["nwgc_id"] == [300]

    # invalid identifier set aborts (presence_absence.py:158-159)
    with pytest.raises(AssertionError, match="invalid set"):
        presence_absence.run(
            spark, doc([dict(base, sampleId=400)]), warehouse, identifiers,
            set_names={1: "kits", 2: "collections"}, valid_sets={"collections"},
        )

    # hard errors: unknown status / control status / bogus chip; a
    # rejected batch writes no table
    versions = table_versions(warehouse)
    with pytest.raises(ValueError, match="target presence"):
        presence_absence.run(
            spark,
            doc([dict(base, targetResults=[
                {"geneTarget": "X", "controlStatus": "NotControl",
                 "targetStatus": "Maybe"}])]),
            warehouse, identifiers)
    assert table_versions(warehouse) == versions
    with pytest.raises(presence_absence.UnknownControlStatusError):
        presence_absence.run(
            spark,
            doc([dict(base, targetResults=[
                {"geneTarget": "X", "controlStatus": "NegativeControl",
                 "targetStatus": "Detected"}])]),
            warehouse, identifiers)
    with pytest.raises(ValueError, match="bogus chip"):
        presence_absence.run(spark, doc([dict(base, chip="")]), warehouse, identifiers)

    # dated assay-type heuristic: no type anywhere + old received date →
    # 4-well ⇒ Clia; modern date defaults to Research
    old = receiving_df(spark, [(1, json.dumps({"samples": [
        dict(base, sampleId=500, chip=None, assayName=None,
             targetResults=[{"geneTarget": "RSV", "controlStatus": "NotControl",
                             "targetStatus": "Detected",
                             "wellResults": [{"w": "1"}, {"w": "2"}, {"w": "3"}, {"w": "4"}]}])
    ]}))]).withColumn("received", F.lit("2020-06-01").cast("timestamp"))
    presence_absence.run(spark, old, warehouse, identifiers)
    by_id = {r.identifier: r for r in warehouse.read("presence_absence").collect()}
    assert json.loads(by_id["NWGC/500/RSV"].details)["assay_type"] == "Clia"


def test_shipping_views_vs_oracle(spark, warehouse, identifiers, tmp_path):
    """Full pipeline + view stack, Spark vs DuckDB on the same warehouse
    parquet, oracle SQL shaped like the reference views (views.sql:17-28)."""
    run_pipeline(spark, warehouse, identifiers)

    frames = {n: warehouse.read(n) for n in ("sample", "presence_absence", "target",
                                             "encounter", "individual", "site",
                                             "encounter_location", "location")}
    shipping.create_views(spark, frames)

    out = str(tmp_path / "wh_parquet")
    for n, df in frames.items():
        df.write.mode("overwrite").parquet(f"{out}/{n}")
    con = duckdb.connect()
    for n in frames:
        con.sql(f"CREATE VIEW {n} AS SELECT * FROM '{out}/{n}/*.parquet'")

    spark_pa = {
        tuple(r) for r in spark.sql(
            "SELECT sample, target, present FROM presence_absence_result_v1"
        ).collect()
    }
    duck_pa = {
        tuple(r) for r in con.sql("""
            SELECT coalesce(s.identifier, s.collection_identifier) AS sample,
                   t.identifier AS target, pa.present
            FROM sample s
            JOIN presence_absence pa USING (sample_id)
            JOIN target t USING (target_id)
            WHERE NOT t.control
        """).fetchall()
    }
    assert spark_pa == duck_pa
    assert len(spark_pa) == 4                      # 3 for sample 1 + 1 for sample 2

    obs = {r.encounter: r for r in spark.sql(
        "SELECT encounter, encountered_week, age_range_fine, age_range_coarse, sex, sample "
        "FROM incidence_model_observation_v2"
    ).collect()}
    assert obs["enc-1"].encountered_week == "2020-W01"   # 2019-12-30 → ISO 2020
    assert obs["enc-1"].age_range_fine == "[360,480)"    # 414 months
    assert obs["enc-2"].age_range_fine == "[1080,)"      # 90y cap, unbounded bin
    assert obs["enc-1"].sex == "female"
    # observation.sample = coalesce(identifier, collection) = sample uuid
    assert obs["enc-1"].sample == fixtures.SAMPLE_BARCODES["11112222"]

    # residence census tract: the least tract of the encounter's residence
    # or lodging locations (nulls first), null without one
    spark_tract = dict(spark.sql(
        "SELECT encounter, residence_census_tract FROM incidence_model_observation_v2"
    ).collect())
    duck_tract = dict(con.sql("""
        WITH tracts AS (
            SELECT el.encounter_id, element_at(l.hierarchy, 'tract')[1] AS tract,
                   row_number() OVER (PARTITION BY el.encounter_id
                                      ORDER BY element_at(l.hierarchy, 'tract')[1] NULLS FIRST) AS rn
            FROM encounter_location el JOIN location l USING (location_id)
            WHERE el.relation IN ('residence', 'lodging')
        )
        SELECT e.identifier, t.tract
        FROM encounter e
        JOIN individual i USING (individual_id)
        JOIN site st USING (site_id)
        LEFT JOIN tracts t ON t.encounter_id = e.encounter_id AND t.rn = 1
    """).fetchall())
    assert spark_tract == duck_tract
    assert any(duck_tract.values())

    joined = spark.sql(
        "SELECT encounter, target, present FROM observation_with_presence_absence_result_v1"
    ).collect()
    assert {(r.encounter, r.target) for r in joined} == {
        ("enc-1", "Flu_A_pan"), ("enc-1", "RSV"), ("enc-1", "Flu_B_pan"),
        ("enc-2", "Flu_A_pan"),
    }


def test_recorded_schemas_and_footer_counts_match_the_data(spark, warehouse, identifiers):
    """After an ETL run, every warehouse table's recorded schema is the one
    parquet infers from its version directory, and the footer row count
    is the table's row count."""
    import os

    run_pipeline(spark, warehouse, identifiers)
    fresh = Warehouse(spark, warehouse.root)  # no schema cached in memory
    written = [n for n, t in fresh.tables.items() if t.exists()]
    assert {"sample", "presence_absence", "encounter", "location"} <= set(written)
    for name in written:
        tbl = fresh.tables[name]
        version_dir = os.path.join(tbl.path, f"v{tbl.current_version()}")
        assert os.path.isfile(os.path.join(version_dir, "_schema.json")), name
        assert tbl.schema() == spark.read.parquet(version_dir).schema, name
        assert tbl.num_rows() == tbl.read().count(), name


def test_bootstrap_publish_is_clustered_so_first_merge_prunes(spark, tmp_path):
    """The FIRST publish of a warehouse table must range-cluster on the
    match key (etl/warehouse.py upsert): un-clustered bootstrap footers
    span the whole key range, so the first post-bootstrap merge cannot
    skip any file. With clustering, a single-key update touches a strict
    subset of files and every untouched file hard-links forward."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wanted = spark.createDataFrame(
        [(f"tgt-{i:04d}", False) for i in range(300)],
        "identifier string, control boolean",
    )
    # tiny fixture: stop AQE folding the range shuffle to one partition
    # so the clustered multi-file layout is observable
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        wh.find_or_create_target(wanted)
    finally:
        spark.conf.set(coalesce_key, prev)

    tbl = wh.tables["target"]
    files = tbl.files()
    assert len(files) > 1  # multi-file bootstrap layout
    # clustered footers: one key's value prunes to a strict file subset
    kept = tbl.pruned_files_in("identifier", ["tgt-0000"])
    assert set(kept) < set(files)

    # first merge after bootstrap: update one identifier; untouched
    # files must carry forward by hard link (same inode), proving the
    # bootstrap layout lets merge_publish prune
    before = {os.path.basename(f): os.stat(f).st_ino for f in files}
    wh.find_or_create_target(
        spark.createDataFrame(
            [("tgt-0000", False), ("tgt-9999", True)],
            "identifier string, control boolean",
        )
    )
    after = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    carried = sum(1 for b, ino in before.items() if after.get(b) == ino)
    assert carried >= len(before) - 2  # only the touched file(s) rewrote
    assert tbl.read().count() == 301


#: Spark jobs of one incremental manifest run over the fixture log: the
#: batch is computed once (scan + anti join), the ETL resolves it once,
#: the upsert materialises it with its prune keys and writes once, in one
#: task, and the markers append once. Adaptive execution submits the
#: receiving read's broadcast and shuffle stages on their own threads, so
#: the count moves by a job or two between runs (9-11 measured).
MANIFEST_RUN_JOBS = 12


def test_incremental_manifest_run_job_count(spark, warehouse, identifiers, tmp_path):
    """run_incremental + manifest.run re-derive no frame: every action
    after the batch's one materialisation reads a copy. Counted with a job
    group and the status tracker."""
    import json

    from id3c_spark.sources.readers import read_ndjson_receiving
    from id3c_spark.sources.store import ParquetTable
    from id3c_spark.streaming.incremental import run_incremental

    enrollments.run(spark, receiving_df(spark, fixtures.enrollment_documents()),
                    warehouse, identifiers)
    log = tmp_path / "receiving" / "manifest"
    log.mkdir(parents=True)
    docs = [doc for _, doc in fixtures.manifest_documents()]
    (log / "batch.ndjson").write_text("".join(d + "\n" for d in docs))
    receiving = read_ndjson_receiving(spark, str(log))
    status = ParquetTable(spark, str(tmp_path / "status"))
    out = {}

    sc = spark.sparkContext
    group = "incremental-manifest-run"
    sc.setJobGroup(group, group)
    try:
        seen = run_incremental(
            spark, receiving, status, "receiving.manifest", "manifest", 1,
            lambda batch: out.update(manifest.run(spark, batch, warehouse, identifiers)),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    assert seen.seen == len(docs)
    assert out["manifests"] == len(docs) - 1 and out["unknown_barcodes"] == 1
    assert status.num_rows() == len(docs)
    assert jobs <= MANIFEST_RUN_JOBS, jobs


def warehouse_rows(warehouse):
    """Every written table's rows, order-free and comparable."""
    import json

    return {
        name: sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in warehouse.read(name).collect()
        )
        for name, tbl in warehouse.tables.items() if tbl.exists()
    }


def test_concurrently_keeps_call_order_and_local_properties(spark):
    """Results come back in call order; the first failure in call order
    is raised only after every call has finished; each thread carries the
    caller's local properties in a copy of its own, so a property one
    call sets is seen neither by a sibling nor by the caller."""
    import threading
    import time

    from id3c_spark.etl.warehouse import concurrently

    sc = spark.sparkContext
    sc.setLocalProperty("id3c.test", "caller")
    try:
        assert concurrently(
            lambda: (time.sleep(0.2), 1)[1],
            lambda: sc.getLocalProperty("id3c.test"),
        ) == [1, "caller"]

        both = threading.Barrier(2, timeout=30)

        def sets():
            sc.setLocalProperty("id3c.test", "branch")
            both.wait()   # the sibling reads only after this set
            both.wait()
            return sc.getLocalProperty("id3c.test")

        def reads():
            both.wait()
            seen = sc.getLocalProperty("id3c.test")
            both.wait()
            return seen

        assert concurrently(sets, reads) == ["branch", "caller"]
        assert sc.getLocalProperty("id3c.test") == "caller"
    finally:
        sc.setLocalProperty("id3c.test", None)

    finished = threading.Event()

    def late_error():
        time.sleep(0.2)
        raise ValueError("first in call order")

    def slow_ok():
        time.sleep(0.4)
        finished.set()

    def early_error():
        raise KeyError("second in call order")

    with pytest.raises(ValueError, match="first in call order"):
        concurrently(late_error, early_error, slow_ok)
    assert finished.is_set()


def test_concurrent_upserts_of_one_table_are_refused(spark, warehouse, monkeypatch):
    """One writer per table: of eight upserts of one table started
    together, one writes and seven raise at once instead of waiting for
    it or racing it to the next version."""
    import sys
    import threading

    from id3c_spark.etl import warehouse as warehouse_mod
    from id3c_spark.etl.warehouse import concurrently

    n = 8
    refused = threading.Semaphore(0)
    materialise = warehouse_mod.materialise

    def held(df, **metrics):
        # the writer holds the table until every other upsert was refused
        for _ in range(n - 1):
            assert refused.acquire(timeout=30)
        return materialise(df, **metrics)

    monkeypatch.setattr(warehouse_mod, "materialise", held)
    rows = spark.createDataFrame([("kiosk", None)], "identifier string, details string")
    start = threading.Barrier(n, timeout=30)

    def attempt():
        start.wait()
        try:
            warehouse.find_or_create_site(rows)
        except RuntimeError as e:
            assert "already in flight" in str(e)
            refused.release()
            return "refused"
        return "wrote"

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        outcomes = concurrently(*[attempt] * n)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(outcomes) == ["refused"] * (n - 1) + ["wrote"]
    assert warehouse.tables["site"].current_version() == 1
    assert [r.identifier for r in warehouse.read("site").collect()] == ["kiosk"]


def test_enrollment_failed_branch_starts_no_later_wave(
    spark, warehouse, identifiers, enrolled, monkeypatch
):
    """A failing upsert in enrollments' first wave, and a fault after each
    later wave and between the last upsert and the commit: run raises it
    once the wave's other upserts have finished, no branch thread
    outlives run, and every table keeps its pre-run version and files,
    also for a second reader opened mid-run, with no staged version left
    on disk. Re-running the batch gives the warehouse a clean run gives."""
    import threading

    class Fault(RuntimeError):
        pass

    batch = receiving_df(spark, fixtures.enrollment_documents())
    wh = warehouse
    versions, files = table_versions(wh), table_files(wh)
    mid_run = []

    def fault(*args):
        # the run sees what it staged; another reader sees the old snapshot
        mid_run.append((table_versions(wh), Warehouse(spark, wh.root)))
        raise Fault("injected")

    # first-wave branch; after wave 1; after wave 2; after the last upsert
    for point in ("upsert_location", "upsert_encounter", "upsert_sample", "num_rows"):
        monkeypatch.setattr(wh, point, fault)
        with pytest.raises(Fault):
            enrollments.run(spark, batch, wh, identifiers)
        monkeypatch.undo()
        assert not [t for t in threading.enumerate() if t.name.startswith("concurrently")]
        assert table_versions(wh) == versions, point
        assert table_files(wh) == files, point
        staged, other = mid_run[-1]
        assert table_versions(other) == versions and table_files(other) == files, point
        for name, tbl in wh.tables.items():
            on_disk = sorted(int(d[1:]) for d in os.listdir(tbl.path) if d.startswith("v"))
            assert on_disk == tbl.versions(), (point, name)
    # what the run had staged when a fault fired after wave 1, and after
    # its last upsert: every table the clean run wrote
    clean, _ = enrolled

    def changed(seen):
        return {name for name, v in seen.items() if v != versions[name]}

    after_wave_1 = changed(mid_run[1][0])
    assert {"site", "individual"} <= after_wave_1 and "encounter" not in after_wave_1
    assert changed(mid_run[3][0]) == changed(table_versions(clean))

    enrollments.run(spark, batch, wh, identifiers)
    assert warehouse_rows(wh) == warehouse_rows(clean)


def test_presence_absence_fault_commits_nothing(spark, warehouse, identifiers, monkeypatch):
    """A fault after presence-absence's first wave, or after its last
    upsert (when the run has staged all three of its tables), leaves
    every table on its pre-run version and files and commits no
    snapshot."""
    batch = receiving_df(spark, fixtures.pa_documents())
    wh = warehouse
    versions, files = table_versions(wh), table_files(wh)
    snapshot = wh.snapshots.latest()[0]
    staged = []

    class Fault(RuntimeError):
        pass

    def fault(*args):
        staged.append({n for n, v in table_versions(wh).items() if v != versions[n]})
        raise Fault("injected")

    for point in ("upsert_presence_absence", "num_rows"):
        monkeypatch.setattr(wh, point, fault)
        with pytest.raises(Fault):
            presence_absence.run(spark, batch, wh, identifiers)
        monkeypatch.undo()
        assert table_versions(wh) == versions, point
        assert table_files(wh) == files, point
        assert wh.snapshots.latest()[0] == snapshot, point
    assert staged == [{"target", "sample"}, {"target", "sample", "presence_absence"}]


def test_one_of_two_committers_wins(spark, tmp_path):
    """Two transactions that start from one snapshot each stage a write
    to their own table: the first to commit wins, the other raises
    CommitConflict, publishes nothing and leaves no staged directory,
    also when more than one commit landed since it began."""
    from id3c_spark.sources.store import CommitConflict

    first, second = (Warehouse(spark, str(tmp_path / "wh")) for _ in range(2))
    one = spark.createDataFrame([("kiosk", None)], "identifier string, details string")
    with pytest.raises(CommitConflict):
        with second.transaction():
            second.tables["target"].publish(one)
            with first.transaction():
                first.tables["site"].publish(one)
            # first has committed snapshot 1; second's commit now loses
    assert first.snapshots.latest() == (1, {"site": 1})
    assert not second.tables["target"].exists()
    assert os.listdir(second.tables["target"].path) == []
    assert Warehouse(spark, first.root).read("site").count() == 1

    # a base two commits old loses too: snapshot 2 still exists when
    # second tries to create it
    with pytest.raises(CommitConflict):
        with second.transaction():
            second.tables["target"].publish(one)
            for _ in range(2):
                with first.transaction():
                    first.tables["site"].publish(one)
    assert Warehouse(spark, first.root).snapshots.latest() == (3, {"site": 3})
    assert not second.tables["target"].exists()
    assert os.listdir(second.tables["target"].path) == []
