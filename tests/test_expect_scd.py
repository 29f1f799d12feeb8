"""Unit tests for declarative expectations (operators.expect) and SCD2
temporal versioning (operators.scd)."""

from __future__ import annotations

from pyspark.sql import functions as F

from id3c_spark.operators import expect
from id3c_spark.operators.scd import as_of_snapshot, scd2_apply, scd2_from_changelog


def _report(df):
    return {r["rule"]: r["n_violations"] for r in df.collect()}


def test_expect_row_local_rules(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "ok", "a@b.com"),
            (2, -5.0, "ok", "nope"),
            (None, 3.0, "bad", "c@d.org"),
            (4, None, "ok", None),
        ],
        "id long, amount double, status string, email string",
    )
    rep = _report(
        expect.check(
            df,
            [
                expect.not_null("id"),
                expect.in_range("amount", 0.0, 100.0),
                expect.in_set("status", ["ok"]),
                expect.matches("email", r"^[^@]+@[^@]+$"),
            ],
        )
    )
    assert rep["not_null(id)"] == 1
    assert rep["in_range(amount,0.0,100.0)"] == 1   # null amount passes
    assert rep["in_set(status)"] == 1
    assert rep["matches(email)"] == 1               # null email passes


def test_expect_unique_fk_and_custom(spark):
    df = spark.createDataFrame(
        [(1, 100), (1, 100), (1, 200), (2, 999)], "k long, ref long"
    )
    dim = spark.createDataFrame([(100,), (200,)], "d long")
    rep = _report(
        expect.check(
            df,
            [
                expect.unique("k"),
                expect.unique("k", "ref"),
                expect.foreign_key("ref", dim, "d"),
                expect.satisfies("k_le_ref", F.col("k") < F.col("ref")),
            ],
        )
    )
    assert rep["unique(k)"] == 2          # three copies of k=1 → 2 surplus
    assert rep["unique(k,ref)"] == 1      # one duplicated (k, ref) pair
    assert rep["foreign_key(ref)"] == 1   # 999 not in dim
    assert rep["k_le_ref"] == 0


def test_expect_empty_rules(spark):
    df = spark.createDataFrame([(1,)], "a long")
    assert expect.check(df, []).count() == 0


def test_scd2_from_changelog_runs(spark):
    ev = spark.createDataFrame(
        [
            ("u", 10, "A", 1),
            ("u", 20, "A", 2),   # no change — absorbed into the first run
            ("u", 30, "B", 3),
            ("u", 40, "A", 4),
            ("v", 15, "C", 5),
        ],
        "k string, ts long, attr string, eid long",
    )
    hist = scd2_from_changelog(ev, "k", ["attr"], "ts", tiebreak_col="eid")
    rows = {
        (r["k"], r["attr"], r["valid_from"]): r["valid_to"]
        for r in hist.collect()
    }
    assert rows == {
        ("u", "A", 10): 30,
        ("u", "B", 30): 40,
        ("u", "A", 40): None,
        ("v", "C", 15): None,
    }


def test_scd2_apply_and_as_of(spark):
    hist = spark.createDataFrame(
        [
            ("u", "A", 10, 30),      # closed version
            ("u", "B", 30, None),    # current
            ("w", "X", 5, None),     # current, will vanish from snapshot
        ],
        "k string, attr string, valid_from long, valid_to long",
    )
    snap = spark.createDataFrame(
        [("u", "C"), ("z", "N")], "k string, attr string"
    )
    out = scd2_apply(hist, snap, "k", ["attr"], as_of=50, close_missing=True)
    rows = {(r["k"], r["attr"], r["valid_from"]): r["valid_to"] for r in out.collect()}
    assert rows == {
        ("u", "A", 10): 30,
        ("u", "B", 30): 50,   # changed → closed at as_of
        ("u", "C", 50): None,  # new version opened
        ("w", "X", 5): 50,    # missing from snapshot → closed
        ("z", "N", 50): None,  # brand-new entity
    }
    # time travel: at t=20 only the original versions were current
    at20 = {(r["k"], r["attr"]) for r in as_of_snapshot(out, 20).collect()}
    assert at20 == {("u", "A"), ("w", "X")}
    at60 = {(r["k"], r["attr"]) for r in as_of_snapshot(out, 60).collect()}
    assert at60 == {("u", "C"), ("z", "N")}


def test_scd2_apply_unchanged_and_keep_missing(spark):
    hist = spark.createDataFrame(
        [("u", "B", 30, None), ("w", "X", 5, None)],
        "k string, attr string, valid_from long, valid_to long",
    )
    snap = spark.createDataFrame([("u", "B")], "k string, attr string")
    out = scd2_apply(hist, snap, "k", ["attr"], as_of=50, close_missing=False)
    rows = {(r["k"], r["attr"], r["valid_from"]): r["valid_to"] for r in out.collect()}
    # nothing changed: both rows stay open, no new versions
    assert rows == {("u", "B", 30): None, ("w", "X", 5): None}


def test_cli_corpus_check(spark, tmp_path):
    import json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, 5.0), (1, -2.0), (None, 3.0)], "id long, amount double"
    ).write.parquet(p)
    runner = CliRunner()
    res = runner.invoke(cli, [
        "corpus", "check", p,
        "--not-null", "id", "--unique", "id",
        "--in-range", "amount:0:10",
    ])
    assert res.exit_code == 0, res.output
    rep = {
        json.loads(line)["rule"]: json.loads(line)["n_violations"]
        for line in res.output.strip().splitlines()
    }
    assert rep["not_null(id)"] == 1
    assert rep["unique(id)"] == 1
    assert rep["in_range(amount,0.0,10.0)"] == 1
    # gate mode: violations → nonzero exit
    res2 = runner.invoke(cli, [
        "corpus", "check", p, "--not-null", "id", "--fail-on-violations",
    ])
    assert res2.exit_code == 1


def test_curate_batch_expectation_circuit_breaker(spark):
    from id3c_spark.operators import expect
    from id3c_spark.streaming.corpus_ingest import curate_batch

    good = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    rules = [expect.not_null("doc_id"), expect.unique("doc_id")]
    assert curate_batch(good, None, expectations=rules).count() == 2
    # a null id anywhere rejects the WHOLE batch (admission gate)
    bad = good.unionByName(
        spark.createDataFrame(
            [(None, "ten eleven twelve thirteen fourteen fifteen sixteen")],
            "doc_id long, text string",
        )
    )
    assert curate_batch(bad, None, expectations=rules).count() == 0


def test_cli_corpus_compact_and_zorder(spark, tmp_path):
    import glob
    import json

    from click.testing import CliRunner

    from id3c_spark.cli import cli
    from id3c_spark.sources.store import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "tbl"))
    t.publish(spark.range(0, 500).repartition(12))
    runner = CliRunner()
    res = runner.invoke(cli, ["corpus", "compact", t.path, "--target-files", "2"])
    assert res.exit_code == 0, res.output
    v = json.loads(res.output)["version"]
    assert len(glob.glob(f"{t.path}/v{v}/*.parquet")) <= 2
    assert t.read().count() == 500

    # incremental mode: a 1 MiB floor packs every tiny file into one,
    # publishing a new version with identical rows
    res = runner.invoke(cli, ["corpus", "compact", t.path, "--min-file-mb", "1"])
    assert res.exit_code == 0, res.output
    v2 = json.loads(res.output)["version"]
    assert v2 == v + 1
    assert len(glob.glob(f"{t.path}/v{v2}/*.parquet")) == 1
    assert t.read().count() == 500

    src = str(tmp_path / "src.parquet")
    spark.range(0, 1000).selectExpr("id % 50 AS x", "(id * 7) % 50 AS y").write.parquet(src)
    out = str(tmp_path / "z")
    res = runner.invoke(cli, [
        "corpus", "zorder", src, "--output", out, "--by", "x,y", "--num-files", "4",
    ])
    assert res.exit_code == 0, res.output
    zdf = spark.read.parquet(out)
    assert zdf.count() == 1000 and set(zdf.columns) == {"x", "y"}


def test_cli_identifier_sets_and_labels(spark, tmp_path):
    import json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    wh = str(tmp_path / "wh")
    runner = CliRunner()
    # set-use must exist before a set can reference it (reference FK)
    res = runner.invoke(cli, [
        "identifier", "set", "create", "samples", "sample", "swab barcodes",
        "--warehouse", wh,
    ])
    assert res.exit_code != 0  # unknown use
    assert runner.invoke(cli, [
        "identifier", "set-use", "create", "sample", "specimen barcodes",
        "--warehouse", wh,
    ]).exit_code == 0
    assert runner.invoke(cli, [
        "identifier", "set", "create", "samples", "sample", "swab barcodes",
        "--warehouse", wh,
    ]).exit_code == 0
    # duplicate set name rejected
    assert runner.invoke(cli, [
        "identifier", "set", "create", "samples", "sample", "again",
        "--warehouse", wh,
    ]).exit_code != 0
    ls = runner.invoke(cli, ["identifier", "set", "ls", "--warehouse", wh])
    assert json.loads(ls.output)["name"] == "samples"
    # the set lives in the warehouse's own identifier_set table
    from id3c_spark.etl.warehouse import Warehouse

    assert [r["name"] for r in Warehouse(spark, wh).read("identifier_set").collect()] == ["samples"]

    # labels for an existing batch from NDJSON mint output
    ids = tmp_path / "ids.ndjson"
    ids.write_text(
        '{"uuid": "u1", "barcode": "aacd1234"}\n'
        '{"uuid": "u2", "barcode": "bbcd5678"}\n'
    )
    spec_path = str(tmp_path / "labels.json")
    res = runner.invoke(cli, [
        "identifier", "labels", spec_path, "--identifiers", str(ids),
        "--set-name", "samples", "--spec-only",
    ])
    assert res.exit_code == 0, res.output
    assert json.loads(res.output.strip().splitlines()[-1])["n_barcodes"] == 2
    spec = json.load(open(spec_path))
    texts = [e.get("text") for e in spec["labels"] if e.get("text")]
    assert any("aacd1234" in t for t in texts)


def test_cli_manifest_upload_validates_before_append(spark, tmp_path):
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    runner = CliRunner()
    rec = str(tmp_path / "recv")
    good = tmp_path / "m.ndjson"
    good.write_text('{"sample": "s1"}\n{"sample": "s2"}\n')
    res = runner.invoke(cli, [
        "manifest", "upload", str(good), "--receiving-dir", rec,
    ])
    assert res.exit_code == 0, res.output
    assert _json.loads(res.output)["uploaded"] == 2

    bad = tmp_path / "bad.ndjson"
    bad.write_text('{"sample": "s3"}\nnot-json\n')
    res = runner.invoke(cli, [
        "manifest", "upload", str(bad), "--receiving-dir", rec,
    ])
    assert res.exit_code != 0
    # all-or-nothing: the bad file appended NOTHING
    with open(f"{rec}/manifest.ndjson") as f:
        assert len(f.readlines()) == 2
