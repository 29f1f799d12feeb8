"""MERGE/upsert semantics (SURVEY §2.9) — id3c write-path parity."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from id3c_spark.operators.merge import (
    MultipleMatchError,
    check_errors_raised,
    find_or_create,
    materialise,
    merge,
)
from id3c_spark.sources.store import ParquetTable


def df_of(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


SAMPLE_SCHEMA = (
    "sample_id long, identifier string, collection_identifier string, "
    "collected string, details string"
)


def test_insert_update_skip(spark):
    target = df_of(spark, [
        (1, "s1", "c1", "2020-01-01", '{"note":"old"}'),
        (2, "s2", None, "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", '{"chip":"A1"}'),   # update s1
        (None, "s9", "c9", "2020-02-01", '{}'),              # insert
        (None, "s2", None, "2020-01-02", None),              # unchanged → skip
    ], SAMPLE_SCHEMA).drop("sample_id")

    res = merge(
        target, updates,
        key_cols=[["identifier"], ["collection_identifier"]],
        id_col="sample_id", update_cols=["collected"],
    )
    stats = res.stats()
    assert stats["updated"] == 1
    assert stats["inserted"] == 1
    assert stats["unchanged"] == 1

    rows = {r.identifier: r for r in res.df.collect()}
    assert rows["s1"].collected == "2020-01-05"
    # details top-level merge, right biased
    assert json.loads(rows["s1"].details) == {"note": "old", "chip": "A1"}
    assert rows["s2"].collected == "2020-01-02"
    assert rows["s9"].sample_id is not None


def test_alternate_key_match(spark):
    """upsert_sample OR-key: identifier first, then collection_identifier."""
    target = df_of(spark, [
        (1, "s1", "c1", "2020-01-01", None),
        (2, None, "c2", "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, None, "c2", "2020-03-01", None),  # matches row 2 via collection id
    ], SAMPLE_SCHEMA).drop("sample_id")
    res = merge(
        target, updates,
        key_cols=[["identifier"], ["collection_identifier"]],
        id_col="sample_id", update_cols=["collected"],
    )
    rows = {r.sample_id: r for r in res.df.collect()}
    assert rows[2].collected == "2020-03-01"
    assert len(rows) == 2


def test_multi_match_errors(spark):
    target = df_of(spark, [
        (1, "dup", None, "2020-01-01", None),
        (2, "dup", None, "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "dup", None, "2021-01-01", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    with pytest.raises(MultipleMatchError), check_errors_raised():
        merge(target, updates, [["identifier"]], id_col="sample_id",
              update_cols=["collected"]).df.collect()


def test_duplicate_update_keys_raise(spark):
    """Two update rows with the same key would both match one target (or
    both insert under one surrogate id) — a distributed batch has no 'last
    row wins' order, so merge refuses instead of writing a duplicate pk."""
    target = df_of(spark, [(1, "s1", "c1", "2020-01-01", None)], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", None),
        (None, "s1", None, "2020-01-06", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    with pytest.raises(MultipleMatchError, match="duplicate update rows"), check_errors_raised():
        merge(target, updates, [["identifier"]], id_col="sample_id",
              update_cols=["collected"]).df.collect()


def test_alternate_keys_resolving_to_one_target_raise(spark):
    """Two update rows that match the same target row by different
    alternate keys would write two rows with one sample_id."""
    target = df_of(spark, [(1, "s1", "c1", "2020-01-01", None)], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", None),
        (None, None, "c1", "2020-01-06", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    with pytest.raises(MultipleMatchError), check_errors_raised():
        merge(target, updates, [["identifier"], ["collection_identifier"]],
              id_col="sample_id", update_cols=["collected"]).df.collect()


def test_merge_launches_no_spark_job(spark):
    """Building the merge plan is free: checks run inside the write."""
    sc = spark.sparkContext
    target = df_of(spark, [(1, "s1", "c1", "2020-01-01", '{"a":1}')], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", '{"b":2}'),
        (None, None, "c9", "2020-01-06", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    group = "merge-builds-a-plan"
    sc.setJobGroup(group, group)
    try:
        merge(target, updates, [["identifier"], ["collection_identifier"]],
              id_col="sample_id", update_cols=["collected"])
        merge(target, updates, ["identifier"], id_col="sample_id",
              update_cols=["collected"], error_on_multi=False)
        find_or_create(target, updates.select("identifier"), ["identifier"], "sample_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_materialise_is_idempotent(spark):
    """Materialising a copy materialise produced returns that copy and the
    counts it recorded, without a Spark job; a count it did not record
    still gets computed."""
    sc = spark.sparkContext
    rows = df_of(spark, [(1, "s1", None, None, None), (2, "s2", None, None, None)], SAMPLE_SCHEMA)
    copy, counts = materialise(rows, ids=F.sum("sample_id"))
    group = "materialise-a-copy"
    sc.setJobGroup(group, group)
    try:
        again, again_counts = materialise(copy)
        same, same_counts = materialise(copy, ids=F.sum("sample_id"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert again is copy and same is copy
    assert again_counts == same_counts == counts == {"rows": 2, "ids": 3}
    _, more = materialise(copy, n=F.count_if(F.col("identifier") == "s1"))
    assert more == {"rows": 2, "n": 1}


def test_merge_publish_failed_check_leaves_table_unchanged(spark, tmp_path):
    """A batch that breaks a check raises from merge_publish, leaves the
    live version as it was, and the next clean batch publishes. The check
    columns are not written, so this also proves the write still
    evaluates them."""
    tbl = ParquetTable(spark, str(tmp_path / "sample"))
    tbl.publish(df_of(spark, [
        (1, "s1", "c1", "2020-01-01", None),
        (2, "s2", "c2", "2020-01-02", None),
    ], SAMPLE_SCHEMA))
    v0 = tbl.current_version()
    before = sorted(tuple(r) for r in tbl.read().collect())
    keys = [["identifier"], ["collection_identifier"]]

    def publish(rows):
        updates = df_of(spark, rows, SAMPLE_SCHEMA).drop("sample_id")
        return tbl.merge_publish(
            updates, keys,
            lambda t: merge(t, updates, keys, "sample_id", update_cols=["collected"]),
        )

    with pytest.raises(MultipleMatchError):
        publish([(None, "s1", "c2", "2021-01-01", None)])   # s1 → row 1, c2 → row 2
    assert tbl.current_version() == v0
    assert sorted(tuple(r) for r in tbl.read().collect()) == before

    publish([(None, "s1", None, "2021-01-01", None)])
    assert tbl.current_version() == v0 + 1
    rows = {r.sample_id: r.collected for r in tbl.read().collect()}
    assert rows == {1: "2021-01-01", 2: "2020-01-02"}


def test_find_or_create(spark):
    target = df_of(spark, [(1, "kiosk", None)], "site_id long, identifier string, details string")
    wanted = df_of(spark, [("kiosk",), ("clinic",)], "identifier string")
    res = find_or_create(target, wanted, ["identifier"], "site_id")
    rows = {r.identifier: r for r in res.df.collect()}
    assert set(rows) == {"kiosk", "clinic"}
    assert rows["kiosk"].site_id == 1  # existing row untouched


def _norm(rows):
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_duplicate_update_keys_tolerated_golden(spark):
    """error_on_multi=False corners, against the rows (and stats) the
    staged branch-family merge produced: duplicate update keys where one
    copy changes and another does not (the unchanged copy is dropped),
    all copies unchanged (one target row emitted), null-key updates
    (insert), null-key target rows (untouched), and plain
    insert/update/skip."""
    schema = "k long, v string, extra string"
    target = df_of(spark, [
        (1, "a", "x"),
        (2, "b", "y"),
        (3, "c", "z"),
        (None, "nullkey", "w"),      # null-key target row → untouched
    ], schema)
    updates = df_of(spark, [
        (1, "a2", None),             # changed copy …
        (1, "a", None),              # … plus an unchanged copy, same key
        (2, "b", None),              # unchanged only → one passthrough
        (2, "b", None),              # duplicate unchanged copy
        (9, "new", None),            # insert
        (None, "nullk-upd", None),   # null key → insert
    ], schema).drop("extra")
    res = merge(
        target, updates, key_cols=["k"], id_col="k", update_cols=["v"],
        details_col=None, error_on_multi=False,
    )
    assert _norm(res.df.collect()) == [
        (1, "a2", "x"), (2, "b", "y"), (3, "c", "z"), (9, "new", None),
        (None, "nullk-upd", None), (None, "nullkey", "w"),
    ]
    assert res.stats() == {"updated": 1, "inserted": 2, "unchanged": 1}


def test_details_and_alternate_keys_golden(spark):
    """Alternate keys with a details merge, against the rows (and stats)
    the staged branch-family merge produced."""
    target = df_of(spark, [
        (1, "s1", "c1", "2020-01-01", '{"a":1,"b":2}'),
        (2, None, "c2", "2020-01-02", None),
        (3, "s3", None, "2020-01-03", '{"z":true}'),
        (4, "s4", "c4", "2020-01-04", '{"keep":1}'),
        (5, "s5", "c5", "2020-01-05", '{"same":1}'),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        ("s1", None, None, '{"b":3,"c":[1,2]}'),   # details merge, collected kept
        (None, "c2", "2020-03-01", '{"n":1}'),     # collection-id match, null details
        ("s3", "c3", None, None),                  # fills collection id, no details
        ("s5", None, None, '{"same":1}'),          # no-op details merge → unchanged
        ("s9", "c9", "2020-04-01", '{"new":1}'),   # insert
        (None, "c10", None, None),                 # insert by collection id only
    ], "identifier string, collection_identifier string, collected string, details string")
    res = merge(
        target, updates, [["identifier"], ["collection_identifier"]],
        "sample_id", update_cols=["collected"],
    )
    assert _norm(res.df.collect()) == [
        (-3728145251675179006, None, "c10", None, None),
        (1, "s1", "c1", "2020-01-01", '{"a":1,"b":3,"c":[1,2]}'),
        (2, None, "c2", "2020-03-01", '{"n":1}'),
        (3, "s3", "c3", "2020-01-03", '{"z":true}'),
        (4, "s4", "c4", "2020-01-04", '{"keep":1}'),
        (5, "s5", "c5", "2020-01-05", '{"same":1}'),
        (7392834862228682131, "s9", "c9", "2020-04-01", '{"new":1}'),
    ]
    assert res.stats() == {"updated": 3, "inserted": 2, "unchanged": 1}


def test_deterministic_insert_ids(spark):
    """Surrogate keys are stable across runs (hash of natural key)."""
    target = spark.createDataFrame([], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-01", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    id1 = merge(target, updates, [["identifier"]], "sample_id").df.collect()[0].sample_id
    id2 = merge(target, updates, [["identifier"]], "sample_id").df.collect()[0].sample_id
    assert id1 == id2
