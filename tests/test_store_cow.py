"""File-granular copy-on-write MERGE (sources/store.py merge_publish).

The §2.9 scale contract: a merge batch whose keys fall in one file's
footer range rewrites ONLY that file; every other file is carried forward
byte-identical (hard link — same inode) into the new version, and the
merged table equals the full-table merge result exactly.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from id3c_spark.operators.merge import merge
from id3c_spark.sources.store import ParquetTable


def _rows(fname):
    return pq.read_metadata(fname).num_rows


def _clustered_publish(spark, tbl, n=100, files=4):
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("val"),
        F.lit(None).cast("string").alias("details"),
    )
    tbl.publish(
        df.repartitionByRange(files, "k").sortWithinPartitions("k")
    )


def test_cow_merge_rewrites_only_touched_files(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    _clustered_publish(spark, tbl)
    before = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    assert len(before) >= 3  # layout really is multi-file

    # Updates touch keys 5..10 (one file's range) + insert key 200.
    updates = spark.createDataFrame(
        [(5, 999, None), (10, 888, None), (200, 1, None)],
        "k long, val long, details string",
    )
    full = merge(tbl.read(), updates, ["k"], "k").df.orderBy("k").collect()

    tbl.merge_publish(
        updates, ["k"],
        lambda target: merge(target, updates, ["k"], "k"),
        cluster_by=["k"],
    )

    after = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    carried = {b for b in after if b in before and after[b] == before[b]}
    # At least one low-range and the untouched high-range files must be
    # hard-link-carried (same inode = byte-identical, zero copy).
    assert len(carried) >= 2
    # And at least one original file was NOT carried (it got rewritten).
    assert any(b not in after for b in before)
    assert tbl.read().orderBy("k").collect() == full


def test_cow_merge_insert_only_batch_carries_everything(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    _clustered_publish(spark, tbl)
    before = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}

    updates = spark.createDataFrame(
        [(500, 1, None), (501, 2, None)], "k long, val long, details string"
    )
    tbl.merge_publish(
        updates, ["k"],
        lambda target: merge(target, updates, ["k"], "k"),
    )
    after = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    # Every pre-existing file carried untouched; only insert files are new.
    assert all(after.get(b) == ino for b, ino in before.items())
    assert tbl.read().count() == 102
    assert tbl.read().filter("k = 500").select("val").collect()[0][0] == 1


def test_cow_merge_empty_batch_writes_no_version(spark, tmp_path):
    """An empty update batch is a no-op: no new version, the same files,
    and the merge function is never called. So is a batch whose every
    row matches unchanged."""
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    _clustered_publish(spark, tbl)
    version, files = tbl.current_version(), tbl.files()
    updates = spark.createDataFrame([], "k long, val long, details string")

    def merge_fn(target):
        raise AssertionError("an empty batch must not build a merge")

    assert tbl.merge_publish(updates, ["k"], merge_fn, cluster_by=["k"]) == version
    assert tbl.current_version() == version
    assert tbl.files() == files
    assert tbl.versions() == [version]

    unchanged = spark.createDataFrame(
        [(5, 50, None), (60, 600, None)], "k long, val long, details string"
    )
    assert tbl.merge_publish(
        unchanged, ["k"], lambda target: merge(target, unchanged, ["k"], "k"),
        cluster_by=["k"],
    ) == version
    assert tbl.current_version() == version
    assert tbl.files() == files
    assert tbl.versions() == [version]

    changed = spark.createDataFrame([(5, 51, None)], "k long, val long, details string")
    assert tbl.merge_publish(
        changed, ["k"], lambda target: merge(target, changed, ["k"], "k"),
        cluster_by=["k"],
    ) == version + 1
    assert tbl.read().filter("k = 5").collect()[0].val == 51


def test_cow_merge_alternate_keys_prune_on_each(spark, tmp_path):
    # Alternate-key shape (upsert_sample): pruning must consider BOTH key
    # columns — a file out of range on key A may still match on key B.
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    df = spark.createDataFrame(
        [(i, f"id{i:03d}", f"coll{i:03d}", None) for i in range(1, 41)],
        "sample_id long, identifier string, collection_identifier string, details string",
    )
    tbl.publish(df.repartitionByRange(4, "identifier").sortWithinPartitions("identifier"))

    # Matches row id005 via collection_identifier only.
    updates = spark.createDataFrame(
        [("zzz-none", "coll005", None)],
        "identifier string, collection_identifier string, details string",
    )
    keys = [["identifier"], ["collection_identifier"]]
    full = merge(
        tbl.read(), updates, keys, "sample_id", update_cols=["collection_identifier"]
    ).df.orderBy("sample_id").collect()
    tbl.merge_publish(
        updates, keys,
        lambda t: merge(t, updates, keys, "sample_id", update_cols=["collection_identifier"]),
    )
    assert tbl.read().orderBy("sample_id").collect() == full
    got = tbl.read().filter("collection_identifier = 'coll005'").collect()
    assert len(got) == 1 and got[0]["identifier"] == "zzz-none"


def test_cow_merge_requires_published_table(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "t"))
    updates = spark.createDataFrame([(1, 1, None)], "k long, val long, details string")
    with pytest.raises(FileNotFoundError):
        tbl.merge_publish(updates, ["k"], lambda t: merge(t, updates, ["k"], "k"))


def test_append_is_file_granular(spark, tmp_path):
    # same-schema appends write ONLY the new rows; every existing file
    # hard-links into the new version (O(batch), not O(table))
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    _clustered_publish(spark, tbl)
    before = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    extra = spark.createDataFrame(
        [(1000, 1, None)], "k long, val long, details string"
    )
    tbl.append(extra)
    after = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    assert all(after.get(b) == ino for b, ino in before.items())
    assert tbl.read().count() == 101
    # column order differences still take the fast path
    before2 = dict(after)
    tbl.append(
        spark.createDataFrame(
            [(2, None, 1001)], "val long, details string, k long"
        ).select("val", "details", "k")
    )
    after2 = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    assert all(after2.get(b) == ino for b, ino in before2.items())
    assert tbl.read().filter("k = 1001").collect()[0]["val"] == 2
    assert tbl.read().count() == 102
    # each appended row lands in one file, with no 0-row file beside it
    assert [_rows(f) for f in tbl.files() if os.path.basename(f) not in before] == [1, 1]
    assert 0 not in [_rows(f) for f in tbl.files()]
    # the same holds for an unclustered publish; a write of no row keeps
    # one empty file and reads back empty with its schema
    one = ParquetTable(spark, str(tmp_path / "one"))
    one.publish(extra)
    assert [_rows(f) for f in one.files()] == [1]
    empty = ParquetTable(spark, str(tmp_path / "empty"))
    empty.publish(extra.limit(0))
    assert [_rows(f) for f in empty.files()] == [0]
    assert empty.read().count() == 0
    assert empty.read().schema.simpleString() == "struct<k:bigint,val:bigint,details:string>"


def test_append_schema_evolution_still_rewrites(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "t"), keep_versions=10)
    _clustered_publish(spark, tbl, n=10, files=1)
    widened = spark.createDataFrame(
        [(500, 5, None, "new")], "k long, val long, details string, extra string"
    )
    tbl.append(widened, evolve=True)
    out = tbl.read()
    assert out.count() == 11
    assert out.filter("k = 1").collect()[0]["extra"] is None
    assert out.filter("k = 500").collect()[0]["extra"] == "new"


def test_warehouse_upserts_still_exact_through_cow(spark, tmp_path):
    from id3c_spark.etl.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    first = spark.createDataFrame(
        [(f"s{i:03d}", f"c{i:03d}", None, None, None, None) for i in range(20)],
        "identifier string, collection_identifier string, encounter_id long, "
        "collected timestamp, access_role string, details string",
    )
    wh.upsert_sample(first)
    second = spark.createDataFrame(
        [("s005", None, None, None, "role-x", '{"a": 1}')],
        "identifier string, collection_identifier string, encounter_id long, "
        "collected timestamp, access_role string, details string",
    )
    out = wh.upsert_sample(second)
    assert out.count() == 20
    row = out.filter("identifier = 's005'").collect()[0]
    assert row["access_role"] == "role-x"
    assert row["collection_identifier"] == "c005"  # null update kept target
    assert '"a"' in row["details"]


def test_changes_cdc_is_file_granular(spark, tmp_path):
    """Change feed between versions: exact delete+insert rows, computed
    WITHOUT reading files hard-link-carried between the versions."""
    tbl = ParquetTable(spark, str(tmp_path / "cdc"), keep_versions=10)
    _clustered_publish(spark, tbl)
    v1 = tbl.current_version()
    updates = spark.createDataFrame(
        [(5, 999, None), (200, 1, None)], "k long, val long, details string"
    )
    v2 = tbl.merge_publish(
        updates, ["k"],
        lambda target: merge(target, updates, ["k"], "k"),
        cluster_by=["k"],
    )

    feed = tbl.changes(v1, v2)
    got = {(r.k, r.val, r._change_type) for r in feed.collect()}
    assert (5, 999, "insert") in got and (200, 1, "insert") in got
    assert (5, 50, "delete") in got  # old value of key 5
    # no other key appears in the feed
    assert {r[0] for r in got} == {5, 200}

    # carried files (same basename in both versions) are never scanned
    carried = {os.path.basename(f) for f in tbl.files(v1)} & {
        os.path.basename(f) for f in tbl.files(v2)
    }
    assert carried  # the merge really did carry files forward
    scanned = {os.path.basename(f) for f in feed.inputFiles()}
    assert not (scanned & carried)


def test_changes_cdc_after_evolving_append(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "ev"), keep_versions=10)
    _clustered_publish(spark, tbl, n=10)
    v1 = tbl.current_version()
    v2 = tbl.append(
        spark.createDataFrame(
            [(300, 1, None, "fresh")],
            "k long, val long, details string, note string",
        ),
        evolve=True,
    )
    feed = tbl.changes(v1, v2).collect()
    ins = [r for r in feed if r._change_type == "insert"]
    # old rows acquire note=NULL on BOTH sides, so only the new row and
    # (under the union rewrite) its delete-counterparts differ
    assert any(r.k == 300 and r.note == "fresh" for r in ins)
    assert all(r.k == 300 or r.note is None for r in feed)


def test_changes_cdc_reconstructs_next_version(spark, tmp_path):
    """Applying the change feed to v1 reproduces v2 exactly (multiset):
    the CDC invariant that lets a downstream consumer mirror the table
    without re-reading it."""
    tbl = ParquetTable(spark, str(tmp_path / "rc"), keep_versions=10)
    _clustered_publish(spark, tbl, n=50)
    v1 = tbl.current_version()
    updates = spark.createDataFrame(
        [(7, 700, None), (8, 800, None), (99, 1, None)],
        "k long, val long, details string",
    )
    v2 = tbl.merge_publish(
        updates, ["k"],
        lambda target: merge(target, updates, ["k"], "k"),
        cluster_by=["k"],
    )
    feed = tbl.changes(v1, v2)
    ins = feed.filter("_change_type = 'insert'").drop("_change_type")
    dele = feed.filter("_change_type = 'delete'").drop("_change_type")
    rebuilt = tbl.read(v1).exceptAll(dele).unionByName(ins)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, tbl.read(v2).collect())
    )
