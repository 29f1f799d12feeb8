"""Structured-Streaming ETL, CLI, and web-API surface tests."""

from __future__ import annotations

import json

from click.testing import CliRunner
from pyspark.sql import functions as F

from id3c_spark.api import create_app
from id3c_spark.cli import cli
from id3c_spark.etl import presence_absence
from id3c_spark.etl.warehouse import Warehouse
from id3c_spark.streaming.stream_etl import run_available_now
from tests import fixtures


def test_streaming_etl_checkpointed(spark, tmp_path):
    """availableNow streaming: each file processed exactly once across runs."""
    src = tmp_path / "receiving"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ids = spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    )
    batches = []

    def transform(receiving):
        batches.append(receiving.count())
        presence_absence.run(spark, receiving, wh, ids)

    docs = fixtures.pa_documents()
    (src / "a.ndjson").write_text(docs[0][1] + "\n")
    run_available_now(spark, str(src), ckpt, transform)
    assert batches == [1]
    pa_after_first = wh.read("presence_absence").count()
    assert pa_after_first > 0

    # second run, nothing new → no batch with rows
    run_available_now(spark, str(src), ckpt, transform)
    assert batches == [1]

    # new file → only it is processed; correction applies
    (src / "b.ndjson").write_text(docs[2][1] + "\n")
    run_available_now(spark, str(src), ckpt, transform)
    assert batches == [1, 1]
    flu = (
        wh.read("presence_absence")
        .join(wh.read("target").select("target_id", F.col("identifier").alias("t")), "target_id")
        .filter(F.col("t") == "Flu_A_pan")
        .collect()
    )
    assert any(r.present is False for r in flu)


def test_cli_etl_dry_run_prompt_commit(spark, tmp_path, monkeypatch):
    """Three-way transaction policy (reference cli/command/__init__.py:57-162):
    dry-run publishes nothing, prompt+no publishes nothing, prompt+yes and
    commit publish. Prompt+yes commits exactly what commit does: tables
    the ETL did not write keep their version, written tables keep their
    clustered files. No mode copies the warehouse."""
    import datetime
    import shutil

    import pyarrow.parquet as pq

    import id3c_spark.cli as cli_module
    from id3c_spark import schemas

    src = tmp_path / "pa.ndjson"
    src.write_text(fixtures.pa_documents()[0][1] + "\n")
    ids_path = str(tmp_path / "ids.parquet")
    spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    ).write.parquet(ids_path)
    runner = CliRunner()

    def seeded(name: str) -> Warehouse:
        # an encounter table, which the presence-absence ETL does not write
        wh = Warehouse(spark, str(tmp_path / name))
        wh.publish("encounter", spark.createDataFrame(
            [(1, "enc-1", 10, 1, datetime.datetime(2026, 1, 1), None, None)],
            schemas.WAREHOUSE_SCHEMAS["encounter"]))
        return wh

    def layout(wh: Warehouse) -> dict:
        return {
            name: (tbl.current_version(), [pq.read_metadata(f).num_rows for f in tbl.files()])
            for name, tbl in wh.tables.items()
        }

    wh, twin = seeded("wh"), seeded("twin")
    before = layout(wh)

    def run(*flags, wh_dir=wh.root):
        res = runner.invoke(cli_module.cli, [
            "etl", "presence-absence", "--input", str(src),
            "--warehouse", wh_dir, "--identifiers", ids_path, *flags,
        ])
        assert res.exit_code == 0, res.output
        return json.loads(res.output.strip().splitlines()[-1])

    def published() -> int:
        return Warehouse(spark, wh.root).read("presence_absence").count()

    def no_copy(*args, **kwargs):
        raise AssertionError("the warehouse must not be copied")

    monkeypatch.setattr(shutil, "copytree", no_copy)
    assert run()["committed"] is False                   # default = dry-run
    assert published() == 0
    assert layout(wh) == before

    monkeypatch.setattr(cli_module, "CONFIRM", lambda msg: False)
    assert run("--prompt")["committed"] is False          # prompt, answer no
    assert published() == 0
    assert layout(wh) == before

    monkeypatch.setattr(cli_module, "CONFIRM", lambda msg: True)
    out = run("--prompt")                                 # prompt, answer yes
    assert out["committed"] is True
    n = published()
    assert n > 0
    assert run("--commit", wh_dir=twin.root)["committed"] is True
    assert layout(wh) == layout(twin)
    assert layout(wh)["encounter"] == before["encounter"]

    assert run("--commit")["committed"] is True           # plain commit
    assert published() == n                               # idempotent upsert


def test_store_transaction_stages_until_commit(spark, tmp_path):
    """A version written inside a transaction is visible to the
    transaction and to no other reader until the transaction commits; a
    rolled-back transaction leaves neither the version nor its
    directory."""
    import os

    from id3c_spark.sources.store import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.publish(spark.createDataFrame([(1,)], "x long"))
    other = ParquetTable(spark, t.path)
    with t.snapshots.transaction():
        v = t.publish(spark.createDataFrame([(1,), (2,)], "x long"))
        assert t.read().count() == 2          # the writer sees its version
        assert other.read().count() == 1      # another reader does not
        assert other.current_version() == 1
    assert other.read().count() == 2
    assert other.current_version() == v == 2

    with t.snapshots.transaction() as txn:
        t.append(spark.createDataFrame([(3,)], "x long"))
        txn.rollback()
    assert t.current_version() == 2 and t.read().count() == 2
    assert sorted(os.listdir(t.path)) == ["_snapshot-1.json", "_snapshot-2.json", "v1", "v2"]


def test_store_takes_over_a_dead_writers_claim(spark, tmp_path):
    """A version claimed by a writer that died mid-write (its claim file
    names an exited process of this host) blocks no later write: the
    next publish takes it over and clears the leftovers. A claim whose
    owner still runs, or whose owner is a process of another host, is
    refused with a message naming the owner's host and the directory."""
    import os
    import socket
    import subprocess

    import pytest

    from id3c_spark.sources.store import ParquetTable, _owner

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.publish(spark.createDataFrame([(1,)], "x long"))
    dead = subprocess.Popen(["true"])
    dead.wait()
    os.mkdir(t._dir(2))
    for name in (f"_claim-{socket.gethostname()}-{dead.pid}-0", "part-0.parquet"):
        open(os.path.join(t._dir(2), name), "w").close()  # a torn write
    assert t.publish(spark.createDataFrame([(2,)], "x long")) == 2
    assert [r.x for r in t.read().collect()] == [2]
    assert [n for n in os.listdir(t._dir(2)) if n.startswith("_claim-")] == [f"_claim-{_owner()}"]

    os.mkdir(t._dir(3))
    for owner, host in ((_owner(), socket.gethostname()), ("db-2.example-1-0", "db-2.example")):
        claim = os.path.join(t._dir(3), f"_claim-{owner}")
        open(claim, "w").close()  # a live writer, then one on another host
        with pytest.raises(RuntimeError, match="already in flight") as err:
            t.publish(spark.createDataFrame([(3,)], "x long"))
        assert f"on host {host}" in str(err.value)
        assert f"delete {t._dir(3)} once" in str(err.value)
        assert t.current_version() == 2
        os.remove(claim)


def test_cli_upload_and_mint(tmp_path):
    runner = CliRunner()
    src = tmp_path / "up.ndjson"
    src.write_text('{"samples": []}\n{"store": "x"}\n')
    res = runner.invoke(cli, [
        "upload", str(src), "--receiving-dir", str(tmp_path / "recv"),
        "--table", "presence_absence",
    ])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output)["uploaded"] == 2

    res2 = runner.invoke(cli, ["mint", "--n", "3", "--set-id", "1", "--seed", "cli"])
    assert res2.exit_code == 0, res2.output
    lines = [json.loads(l) for l in res2.output.strip().splitlines()]
    assert len(lines) == 3
    for row in lines:
        assert row["uuid"].replace("-", "").endswith(row["barcode"])


def test_cli_manifest_parse_and_diff(tmp_path):
    from tests.test_geo_deidentify import _write_manifest_xlsx

    runner = CliRunner()
    wb = tmp_path / "m.xlsx"
    _write_manifest_xlsx(wb)
    out_a = tmp_path / "a.ndjson"
    res = runner.invoke(cli, [
        "manifest", "parse", str(wb), "--sheet", "Sheet1",
        "--sample-column", "Sample ID", "--collection-column", "Collection ID",
        "--date-column", "collection date", "--sample-type", "utm",
        "--extra-column", "notes:Notes",
        "--row-filter", "Notes != 'drop me'",
        "--output", str(out_a),
    ])
    assert res.exit_code == 0, res.output
    records = [json.loads(l) for l in out_a.read_text().splitlines()]
    assert {r["sample"] for r in records} == {"AAAA1111", "AAAA2222", "AAAA3333"}
    assert all(r["sample_type"] == "utm" for r in records)

    # parse-using-config produces the same records (manifest.py:133-275)
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({
        "workbook": str(wb), "sheet": "Sheet1", "sample_type": "utm",
        "row_filter": "Notes != 'drop me'",
        "columns": {"sample": "Sample ID", "collection": "Collection ID",
                    "date": "collection date", "notes": "Notes"},
    }))
    out_b = tmp_path / "b.ndjson"
    res2 = runner.invoke(cli, ["manifest", "parse-using-config", str(cfg),
                               "--output", str(out_b)])
    assert res2.exit_code == 0, res2.output
    assert out_a.read_text() == out_b.read_text()

    # diff vs an empty manifest returns everything; vs itself, nothing
    empty = tmp_path / "empty.ndjson"
    empty.write_text("")
    out_d = tmp_path / "d.ndjson"
    res3 = runner.invoke(cli, ["manifest", "diff", str(out_a), str(empty),
                               "--output", str(out_d)])
    assert res3.exit_code == 0 and "3 new records" in res3.output
    res4 = runner.invoke(cli, ["manifest", "diff", str(out_a), str(out_a),
                               "--output", str(out_d)])
    assert res4.exit_code == 0 and "0 new records" in res4.output


def test_api_receiving_and_lookup(spark, tmp_path):
    ids = spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    )
    idp = str(tmp_path / "identifiers.parquet")
    ids.toPandas().to_parquet(idp)

    app = create_app(str(tmp_path / "recv"), idp)
    client = app.test_client()

    ok = client.post("/v1/receiving/presence-absence", data='{"samples": []}',
                     content_type="application/json")
    assert ok.status_code == 201
    bad = client.post("/v1/receiving/presence-absence", data='[1,2]',
                      content_type="application/json")
    assert bad.status_code == 400          # json_typeof object constraint
    nope = client.post("/v1/receiving/unknown-endpoint", data='{}',
                       content_type="application/json")
    assert nope.status_code == 404
    # content_types_accepted parity → 415 on a wrong declared type
    wrong = client.post("/v1/receiving/presence-absence", data='{"x":1}',
                        content_type="text/csv")
    assert wrong.status_code == 415
    # fhir endpoint takes application/fhir+json only (routes.py:136-139)
    assert client.post("/v1/receiving/fhir", data='{"resourceType":"Bundle"}',
                       content_type="application/fhir+json").status_code == 201
    assert client.post("/v1/receiving/fhir", data='{"resourceType":"Bundle"}',
                       content_type="application/json").status_code == 415

    got = client.get("/v1/warehouse/identifier/11112222")
    assert got.status_code == 200
    assert got.get_json()["uuid"] == fixtures.SAMPLE_BARCODES["11112222"]
    # citext: mixed-case barcode resolves too
    assert client.get("/v1/warehouse/identifier/AabBccDD").status_code == 200
    assert client.get("/v1/warehouse/identifier/zzzzzzzz").status_code == 404

    # uploaded document landed in the receiving log verbatim
    log = (tmp_path / "recv" / "presence_absence.ndjson").read_text()
    assert log == '{"samples": []}\n'


def test_api_validation_layer(spark, tmp_path):
    """Schema validation + 4xx mapping (api/schemas.py, routes.py:37-203)."""
    ids = spark.createDataFrame(
        fixtures.identifier_rows(), "uuid string, barcode string, identifier_set_id long"
    )
    idp = str(tmp_path / "identifiers.parquet")
    ids.toPandas().to_parquet(idp)
    sets = {r.identifier_set_id for r in ids.collect()}
    app = create_app(str(tmp_path / "recv"), idp, set_uses={s: "sample" for s in sets})
    client = app.test_client()

    # barcode-uses/verify: reference contract with {barcode, use} objects
    ver = client.post(
        "/v1/verification/barcode-uses/verify",
        json=[{"barcode": "11112222", "use": "sample"},
              {"barcode": "AABBCCDD", "use": "kit"},
              {"barcode": "nope0000", "use": "sample"}],
    )
    rows = ver.get_json()
    assert [r["barcode_found"] for r in rows] == [True, True, False]
    assert [r["use_match"] for r in rows] == [True, False, None]
    # malformed: missing 'use' → 400 with the validation message
    bad = client.post("/v1/verification/barcode-uses/verify",
                      json=[{"barcode": "11112222"}])
    assert bad.status_code == 400 and b"required" in bad.data

    # manifest incident: required field + enum + date format enforced
    ok = client.post("/v1/receiving/manifest/incident",
                     json={"collection": "aabbccdd", "swab_type": "np",
                           "incident_date": "2024-03-01"})
    assert ok.status_code == 204
    assert client.post("/v1/receiving/manifest/incident",
                       json={"swab_type": "np"}).status_code == 400
    assert client.post("/v1/receiving/manifest/incident",
                       json={"collection": "aabbccdd",
                             "swab_type": "nose"}).status_code == 400
    assert client.post("/v1/receiving/manifest/incident",
                       json={"collection": "aabbccdd",
                             "incident_date": "03/01/2024"}).status_code == 400

    # warehouse/sample POST: anyOf key requirement, date + racks/aliquots
    # normalization (routes.py:325-385)
    res = client.post("/v1/warehouse/sample",
                      json={"sample_id": "11112222",
                            "collection_date": "2024-03-05",
                            "rack_a": "R1", "rack_b": "R2",
                            "aliquot_a": "A1"})
    assert res.status_code == 200
    stored = res.get_json()["sample"]
    assert stored["collection_date"] == "03/05/2024"
    assert stored["racks"] == ["R1", "R2"] and stored["aliquots"] == ["A1"]
    assert "rack_a" not in stored
    assert client.post("/v1/warehouse/sample",
                       json={"notes": "no key"}).status_code == 400  # anyOf
    assert client.post("/v1/warehouse/sample",
                       json={"sample_id": "short"}).status_code == 400
    assert client.post("/v1/warehouse/sample",
                       json={"sample_id": "11112222",
                             "bogus_field": "x"}).status_code == 400

    # GET sample barcode-format guard → 400; unknown → 404
    assert client.get("/v1/warehouse/sample/zzz").status_code == 400
    assert client.get("/v1/warehouse/sample/ffffffff").status_code == 404
    assert client.get("/v1/warehouse/sample").status_code == 400
    assert client.get("/v1/warehouse/sample/11112222").status_code == 200

    # identifier-sets admin surface (routes.py:221-283)
    assert client.get("/v1/warehouse/identifier-sets").get_json() == []
    assert client.get("/v1/warehouse/identifier-sets/scan").status_code == 404
    # new set requires a use; unknown uses hit the FK constraint → 400
    assert client.put("/v1/warehouse/identifier-sets/scan",
                      data={}).status_code == 400
    assert client.put("/v1/warehouse/identifier-sets/scan",
                      data={"use": "bogus"}).status_code == 400
    assert client.put("/v1/warehouse/identifier-sets/scan",
                      data={"use": "collection", "description": "SCAN swabs"}
                      ).status_code == 201
    got = client.get("/v1/warehouse/identifier-sets/scan").get_json()
    assert got == {"name": "scan", "use": "collection", "description": "SCAN swabs"}
    # idempotent PUT → 204 unchanged; changed field → 201
    assert client.put("/v1/warehouse/identifier-sets/scan",
                      data={"use": "collection"}).status_code == 204
    assert client.put("/v1/warehouse/identifier-sets/scan",
                      data={"use": "sample"}).status_code == 201
    uses = {u["use"] for u in client.get("/v1/warehouse/identifier-set-uses").get_json()}
    assert uses == {"sample", "collection", "clia", "kit", "test-strip"}

    # redcap-det: form-encoded in, JSON stored (routes.py:119-133)
    det = client.post("/v1/receiving/redcap-det",
                      data={"project_id": "123", "record": "7"},
                      content_type="application/x-www-form-urlencoded")
    assert det.status_code == 201
    line = (tmp_path / "recv" / "redcap_det.ndjson").read_text().strip()
    assert json.loads(line) == {"project_id": "123", "record": "7"}


def test_plugin_entry_points_register_cli_and_api(tmp_path, monkeypatch):
    """Extension-point loading parity (reference lib/id3c/cli/__init__.py:
    22-31, api/routes.py:386-397): a dummy plugin's command appears on the
    click group and its route responds on the Flask app, discovered via
    the env-hook channel (module:attr import paths)."""
    import sys

    plugin_dir = tmp_path / "plugins"
    plugin_dir.mkdir()
    (plugin_dir / "dummy_ext.py").write_text(
        "import click\n"
        "import json\n"
        "\n"
        "def register_cli(cli):\n"
        "    @cli.command('dummy-hello')\n"
        "    def dummy_hello():\n"
        "        click.echo(json.dumps({'hello': 'plugin'}))\n"
        "\n"
        "def register_api(app):\n"
        "    @app.get('/v1/dummy')\n"
        "    def dummy_route():\n"
        "        return {'plugin': True}\n"
    )
    monkeypatch.syspath_prepend(str(plugin_dir))
    sys.modules.pop("dummy_ext", None)

    import id3c_spark.cli as cli_module
    from id3c_spark.api import create_app
    from id3c_spark.plugins import load_cli_plugins

    # CLI: the env hook feeds load_cli_plugins (run at module import in
    # production; invoked directly here since cli is already imported)
    monkeypatch.setenv("ID3C_SPARK_CLI_PLUGINS", "dummy_ext:register_cli")
    loaded = load_cli_plugins(cli_module.cli)
    assert any(spec.endswith("dummy_ext:register_cli") for spec in loaded)
    res = CliRunner().invoke(cli_module.cli, ["dummy-hello"])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output) == {"hello": "plugin"}

    # API: create_app loads plugins itself
    monkeypatch.setenv("ID3C_SPARK_API_PLUGINS", "dummy_ext:register_api")
    app = create_app(str(tmp_path / "recv"))
    client = app.test_client()
    assert client.get("/v1/dummy").get_json() == {"plugin": True}

    # absent env → nothing loaded, group/app untouched
    monkeypatch.delenv("ID3C_SPARK_CLI_PLUGINS")
    assert load_cli_plugins(cli_module.cli) == []


def test_cli_corpus_profile_score_select(spark, tmp_path):
    runner = CliRunner()
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"),
         (2, "the dog sat on the rug", "en"),
         (3, "el gato y el perro", "es"),
         (4, "xyzzy qwerty plugh", "es")],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    res = runner.invoke(cli, ["corpus", "profile", src, "--columns", "doc_id,lang"])
    assert res.exit_code == 0, res.output
    rows = [json.loads(l) for l in res.output.strip().splitlines() if l.startswith("{")]
    prof = {r["col_name"]: r for r in rows}
    assert prof["doc_id"]["n_distinct"] == 4 and prof["doc_id"]["n_nulls"] == 0
    assert prof["lang"]["n_distinct"] == 2 and prof["lang"]["min_str"] == "en"

    out_sc = str(tmp_path / "scores")
    res = runner.invoke(cli, ["corpus", "score", src, "--output", out_sc])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["scored"] == 4
    sc = {r.doc_id: r.cross_entropy for r in spark.read.parquet(out_sc).collect()}
    # docs 1-2 share most bigrams -> more typical than the gibberish doc 4
    assert sc[1] < sc[4] and sc[2] < sc[4]

    out_sel = str(tmp_path / "selected")
    res = runner.invoke(cli, [
        "corpus", "select", src, "--output", out_sel,
        "--target-filter", "lang = 'en'", "--top", "2", "--buckets", "64",
    ])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["selected"] == 2
    kept = {r.doc_id for r in spark.read.parquet(out_sel).collect()}
    assert kept == {1, 2}  # the English-like docs win the importance ranking


def test_cli_etl_kit_and_consensus_genome(spark, tmp_path):
    """The remaining domain ETLs are CLI-operable, not just library calls:
    kit (after enrollments creates its encounter) and consensus-genome
    (against a seeded sample + organism parquet)."""
    runner = CliRunner()
    ids_path = str(tmp_path / "ids.parquet")
    rows = fixtures.identifier_rows() + [
        ("cccccccc-0000-0000-0000-0000deadbee1", "deadbee1", 3),
    ]
    spark.createDataFrame(
        rows, "uuid string, barcode string, identifier_set_id long"
    ).write.parquet(ids_path)
    wh_dir = str(tmp_path / "wh")

    def run_etl(name, path, *extra):
        res = runner.invoke(cli, [
            "etl", name, "--input", path, "--warehouse", wh_dir,
            "--identifiers", ids_path, "--commit", *extra,
        ])
        assert res.exit_code == 0, res.output
        return json.loads(res.output.strip().splitlines()[-1])

    fixtures.seed_tract(Warehouse(spark, wh_dir))  # enrollments resolve tracts
    enr = tmp_path / "enr.ndjson"
    enr.write_text("\n".join(d for _, d in fixtures.enrollment_documents()[:2]))
    run_etl("enrollments", str(enr))

    kit_src = tmp_path / "kit.ndjson"
    kit_src.write_text(json.dumps(
        {"kit": "DEADBEE1", "encounter": "enc-1", "rdt_sample": "11112222"}) + "\n")
    out = run_etl("kit", str(kit_src))
    assert out["ready"] == 1 and out["deferred"] == 0 and out["committed"] is True
    assert Warehouse(spark, wh_dir).read("kit").count() == 1

    # consensus-genome: seed the sample it attaches to, pass organisms
    from tests.test_kit_genome_deletes import ORGANISMS

    wh = Warehouse(spark, wh_dir)
    wh.upsert_sample(spark.createDataFrame(
        [(fixtures.SAMPLE_BARCODES["11112222"], None)],
        "identifier string, collection_identifier string",
    ))
    org_path = str(tmp_path / "org.parquet")
    spark.createDataFrame(
        ORGANISMS,
        "organism_id long, lineage string, identifiers map<string,string>, details string",
    ).write.parquet(org_path)
    cg = tmp_path / "cg.ndjson"
    cg.write_text(json.dumps({
        "sample_identifier": fixtures.SAMPLE_BARCODES["11112222"],
        "reference_organism": "h3n2", "status": "complete",
        "metadata": {"urls": ["s3://b/r1.fq.gz"]},
        "masked_consensus": [
            {"genomic_sequence": "ACGT", "sequence_segment": "PB2",
             "sequence_identifier": "seq-1"},
        ],
    }) + "\n")
    res = runner.invoke(cli, [
        "etl", "consensus-genome", "--input", str(cg), "--warehouse", wh_dir,
        "--organisms", org_path, "--commit",
    ])
    assert res.exit_code == 0, res.output
    out = json.loads(res.output.strip().splitlines()[-1])
    assert out["genomes"] == 1 and out["sequences"] == 1
    assert Warehouse(spark, wh_dir).read("consensus_genome").count() == 1

    # missing --organisms is a usage error, not a crash
    res = runner.invoke(cli, [
        "etl", "consensus-genome", "--input", str(cg), "--warehouse", wh_dir,
    ])
    assert res.exit_code != 0 and "--organisms" in res.output


def test_cli_corpus_keywords(spark, tmp_path):
    runner = CliRunner()
    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "kw")
    res = runner.invoke(cli, ["corpus", "keywords", src, "--output", out, "--top", "1"])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["rows"] == 2
    kw = {r.doc_id: r.term for r in spark.read.parquet(out).collect()}
    assert kw[1] == "apple"  # tf=2 with df=1 beats shared banana


def test_cli_corpus_dedup_methods(spark, tmp_path):
    runner = CliRunner()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different content with its own words here"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    for method in ["exact", "prefix", "jaccard"]:
        out = str(tmp_path / f"pairs_{method}")
        res = runner.invoke(
            cli, ["corpus", "dedup", src, "--output", out, "--method", method]
        )
        assert res.exit_code == 0, res.output
        info = json.loads(res.output.strip().splitlines()[-1])
        assert info["method"] == method and info["pairs"] == 1
        pair = spark.read.parquet(out).collect()[0]
        assert (pair.id_a, pair.id_b) == (1, 2) and pair.score == 1.0


def test_cli_corpus_tag(spark, tmp_path):
    runner = CliRunner()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    pfile = tmp_path / "phrases.txt"
    pfile.write_text("beta gamma\n")
    out = str(tmp_path / "tags")
    res = runner.invoke(
        cli,
        ["corpus", "tag", src, "--output", out,
         "--phrase", "alpha", "--phrases-file", str(pfile)],
    )
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["occurrences"] == 3
    got = {(r.doc_id, r.phrase, r.pos)
           for r in spark.read.parquet(out).collect()}
    assert got == {(1, "alpha", 0), (1, "beta gamma", 1), (2, "beta gamma", 0)}


def test_cli_corpus_media_phash_pairs(spark, tmp_path):
    import numpy as np

    from id3c_spark import multimodal

    runner = CliRunner()
    rng = np.random.default_rng(5)
    pix = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    png = multimodal.encode_png(16, 16, 3, pix.tobytes())
    bmp = multimodal.encode_bmp(16, 16, pix[::-1].tobytes())
    media = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(png), (None, None, None)),
         (2, "image", "image/bmp", bytearray(bmp), (None, None, None))],
        multimodal.MEDIA_SCHEMA,
    )
    src = str(tmp_path / "media")
    media.write.parquet(src)
    out = str(tmp_path / "pairs")
    res = runner.invoke(
        cli, ["corpus", "media", src, "--output", out, "--what", "phash-pairs"]
    )
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["rows"] == 1
    pair = spark.read.parquet(out).collect()[0]
    assert (pair.id_a, pair.id_b, pair.hamming) == (1, 2, 0)


def _cli_test_frames(seed, n_frames=3, w=16, h=16):
    """Deterministic gradient DIB frames (same integer formula as the
    test_image_phash fixtures)."""
    frames = []
    for f in range(n_frames):
        px = bytearray()
        for y in reversed(range(h)):          # bottom-up DIB rows
            for x in range(w):
                v = (seed * 31 + f * 11 + y * 5 + x * 3) % 200
                px += bytes((v, v, v))
        frames.append(bytes(px))
    return frames


def _cli_test_avi(seed, n_frames=3, w=16, h=16):
    from id3c_spark.multimodal import encode_avi

    return encode_avi(w, h, _cli_test_frames(seed, n_frames, w, h))


def test_cli_corpus_media_video_and_max_frames(spark, tmp_path):
    """corpus media video operations + --max-frames (VERDICT r13 #4):
    the long-form sampling cap is reachable from the CLI, sampled and
    full signatures agree on the near-dup verdicts, and --max-frames on
    a non-video operation is a usage error, not silently ignored."""
    from id3c_spark.multimodal import encode_avi

    runner = CliRunner()
    base = _cli_test_frames(1, n_frames=3)
    short_avi = encode_avi(16, 16, base)
    # frame-REPEATED long twin: 12 frames cycling the 3-frame base —
    # same majority signature as the base clip, different bytes, and a
    # realistic target for the sampling cap
    long_avi = encode_avi(16, 16, [fr for fr in base for _ in range(4)])
    # high-frequency noise clip: gradient seeds all share similar aHash
    # bit patterns, so "different" needs different TEXTURE, not seed
    other_avi = encode_avi(16, 16, [
        bytes(bytearray(
            v for y in reversed(range(16)) for x in range(16)
            for v in [((y * 16 + x) * 2654435761 + f * 97) % 256] * 3
        ))
        for f in range(3)
    ])
    media = spark.createDataFrame(
        [(1, "video", bytearray(short_avi)),
         (2, "video", bytearray(long_avi)),
         (3, "video", bytearray(other_avi))],
        "media_id long, kind string, content binary",
    )
    src = str(tmp_path / "media")
    media.write.parquet(src)

    def run(what, out_name, *extra):
        out = str(tmp_path / out_name)
        res = runner.invoke(cli, ["corpus", "media", src, "--output", out,
                                  "--what", what, *extra])
        assert res.exit_code == 0, res.output
        return spark.read.parquet(out)

    full = run("video-pairs", "pairs_full")
    sampled = run("video-pairs", "pairs_sampled", "--max-frames", "6")
    verdict = {(r.id_a, r.id_b) for r in full.collect()}
    assert verdict == {(r.id_a, r.id_b) for r in sampled.collect()}
    assert (1, 2) in verdict and len(verdict) == 1

    sig_full = {r.media_id: r.signature
                for r in run("video-signature", "sig_full").collect()}
    sig_sampled = {r.media_id: r.signature
                   for r in run("video-signature", "sig_sampled",
                                "--max-frames", "6").collect()}
    # uniform sampling of a frame-repeated clip lands on the same base
    # pattern → identical majority signatures
    assert sig_full == sig_sampled and len(sig_full) == 3

    phash = run("video-phash", "phash", "--max-frames", "2")
    counts = {r.media_id: r.cnt for r in
              phash.groupBy("media_id").count()
              .withColumnRenamed("count", "cnt").collect()}
    assert counts == {1: 2, 2: 2, 3: 2}       # capped at 2 frames each

    feats = run("video-features", "feats")
    assert {r.media_id: r.n_frames for r in feats.collect()} == \
        {1: 3, 2: 12, 3: 3}

    # silently ignoring the cap on a non-video op would lie to the user
    res = runner.invoke(cli, ["corpus", "media", src, "--output",
                              str(tmp_path / "x"), "--what", "phash",
                              "--max-frames", "4"])
    assert res.exit_code != 0
    assert "--max-frames" in res.output


def test_cli_video_decoder_skip_visibility(spark, tmp_path, monkeypatch):
    """r14 verdict #6: video operations announce at session start which
    compressed-video formats decode for real vs. run contract-only in
    this environment — and a registered real decoder flips the report,
    so an image that gains PyAV/imageio is immediately visible as
    exploited."""
    from id3c_spark import multimodal as mm
    from id3c_spark.multimodal import encode_avi

    runner = CliRunner()
    media = spark.createDataFrame(
        [(1, "video",
          bytearray(encode_avi(16, 16, _cli_test_frames(1, n_frames=2))))],
        "media_id long, kind string, content binary",
    )
    src = str(tmp_path / "media")
    media.write.parquet(src)

    res = runner.invoke(cli, ["corpus", "media", src, "--output",
                              str(tmp_path / "o1"),
                              "--what", "video-signature"])
    assert res.exit_code == 0, res.output
    report = next(json.loads(line) for line in res.output.splitlines()
                  if "video_decoders" in line)["video_decoders"]
    # this image ships no codec libs: mp4/webm are contract-only
    assert set(report["contract_only"]) == {"mp4", "webm"}
    assert report["real"] == []

    # with a real decoder registered the report flips — and image
    # operations stay quiet (the announcement is video-scoped)
    monkeypatch.setitem(mm._VIDEO_DECODERS, "mp4", lambda content: None)
    res = runner.invoke(cli, ["corpus", "media", src, "--output",
                              str(tmp_path / "o2"),
                              "--what", "video-signature"])
    assert res.exit_code == 0, res.output
    report = next(json.loads(line) for line in res.output.splitlines()
                  if "video_decoders" in line)["video_decoders"]
    assert report["real"] == ["mp4"] and report["contract_only"] == ["webm"]

    res = runner.invoke(cli, ["corpus", "media", src, "--output",
                              str(tmp_path / "o3"), "--what", "phash"])
    assert res.exit_code == 0, res.output
    assert "video_decoders" not in res.output


def test_cli_explain_plan_facts(spark):
    """`id3c explain` surfaces the audited plan facts
    (shuffles/broadcasts/cached/pushed-filters) per catalog query on
    demand."""
    runner = CliRunner()

    res = runner.invoke(cli, ["explain", "embedding_dups",
                              "--sf-dir", "/root/testdata/sf0.001",
                              "--no-execute"])
    assert res.exit_code == 0, res.output
    # CliRunner merges stderr, where the catalog's rotation NOTE lands
    # after the JSON — parse the JSON line, not the last line
    facts = json.loads(next(l for l in res.output.splitlines()
                            if l.startswith("{")))
    # the r14 fused single-shard cosine path: no exchange, one scan
    assert facts["query"] == "embedding_dups" and not facts["executed"]
    assert facts["shuffles"] == 0 and facts["scans"] == 1
    assert set(facts) >= {"broadcasts", "reused", "codegen_spans",
                          "cached", "pushed", "aqe_final"}
    # bytes admission estimate: embeddings.parquet at sf0.001 is small
    # but nonzero
    assert facts["input_bytes"] and 0 < facts["input_bytes"] < 10_000_000

    res = runner.invoke(cli, ["explain", "--list"])
    assert res.exit_code == 0
    names = [l for l in res.output.splitlines()
             if l and not l.startswith("[id3c_spark]")]
    assert "revenue_by_nation" in names and len(names) >= 148

    res = runner.invoke(cli, ["explain", "not_a_query"])
    assert res.exit_code != 0 and "unknown query" in res.output

    res = runner.invoke(cli, ["explain", "--all", "--plan"])
    assert res.exit_code != 0 and "--plan is per-query" in res.output

    res = runner.invoke(cli, ["explain"])
    assert res.exit_code != 0 and "--list" in res.output

    # the shared extractor parses a representative printed tree
    from id3c_spark.plans.audit import plan_facts

    plan = ("*(2) Project [a]\n"
            "+- Exchange hashpartitioning(a, 32)\n"
            "   +- BroadcastExchange HashedRelationBroadcastMode\n"
            "      +- ReusedExchange [a]\n"
            "         +- *(1) FileScan parquet [a] PushedFilters: "
            "[IsNotNull(a)]\n")
    f = plan_facts(plan)
    # broadcast exchanges are counted separately, not as shuffles
    assert (f["shuffles"], f["broadcasts"], f["reused"]) == (1, 1, 1)
    assert f["codegen_spans"] == 2 and f["scans"] == 1 and f["pushed"]


def test_cli_corpus_media_dedup_stream(spark, tmp_path):
    """corpus media-dedup-stream (VERDICT r13 #7): the streaming
    perceptual video dedup is reachable from the CLI — a clip and its
    frame-duplicated twin drain to ONE surviving row plus the distinct
    clip; the non-video row is ignored."""
    import datetime

    from id3c_spark.multimodal import encode_avi

    runner = CliRunner()
    w, h = 16, 16
    frames = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in reversed(range(h)) for x in range(w)
                        for _ in range(3)))
        for f in range(3)
    ]
    a = encode_avi(w, h, frames)
    twin = encode_avi(w, h, [fr for fr in frames for _ in (0, 1)])
    other = _cli_test_avi(9)
    t0 = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "media")
    spark.createDataFrame(
        [(1, "video", bytearray(a), t0),
         (2, "video", bytearray(twin), t0 + datetime.timedelta(minutes=1)),
         (3, "video", bytearray(other), t0 + datetime.timedelta(minutes=2)),
         (4, "image", bytearray(b"\x89PNG\r\n\x1a\n"), t0)],
        "media_id long, kind string, content binary, ts timestamp",
    ).write.parquet(src)
    out = str(tmp_path / "uniq")
    res = runner.invoke(cli, [
        "corpus", "media-dedup-stream", src,
        "--output", out, "--checkpoint", str(tmp_path / "ckpt"),
        "--watermark", "1 hour",
    ])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["unique"] == 2
    ids = sorted(r.media_id for r in spark.read.parquet(out).collect())
    assert len(ids) == 2 and 3 in ids and (1 in ids) != (2 in ids)


def test_cli_corpus_dedup_minhash_simhash(spark, tmp_path):
    runner = CliRunner()
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "a wholly different document about engines")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    # simhash maps --threshold to a hamming budget (0.95 → distance 2);
    # minhash uses it as the jaccard threshold directly
    for method, thr in [("minhash", "0.5"), ("simhash", "0.95")]:
        out = str(tmp_path / f"p_{method}")
        res = runner.invoke(
            cli,
            ["corpus", "dedup", src, "--output", out, "--method", method,
             "--threshold", thr],
        )
        assert res.exit_code == 0, res.output
        pairs = {(r.id_a, r.id_b) for r in spark.read.parquet(out).collect()}
        assert (1, 2) in pairs
    # a threshold the method cannot honor is an error, not a silent no-op
    res = runner.invoke(
        cli,
        ["corpus", "dedup", src, "--output", str(tmp_path / "x1"),
         "--method", "simhash", "--threshold", "0.5"],
    )
    assert res.exit_code != 0 and "0.90625" in res.output
    res = runner.invoke(
        cli,
        ["corpus", "dedup", src, "--output", str(tmp_path / "x2"),
         "--method", "exact", "--threshold", "0.9"],
    )
    assert res.exit_code != 0 and "does not apply" in res.output
