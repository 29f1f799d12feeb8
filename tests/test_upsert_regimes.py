"""Warehouse.upsert gives the same warehouse in both execution regimes.

The store decides per upsert whether the merge runs in one task (small
batch, small candidate files) or distributed; the ``regime`` fixture
forces each. For the four upsert shapes — one key with ``details``
(individual), a composite key and no id (encounter_location), alternate
keys (sample) and find-or-create (site) — both regimes must write equal
tables, refuse a duplicate-key batch alike and write no version for an
unchanged re-run. A one-task write must plan no exchange.

A batch with more rows than the store's PRUNE_KEYS_CAP still prunes
candidate files: per value while its distinct keys fit the cap, on its
key range past it.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from id3c_spark import schemas
from id3c_spark.etl.warehouse import MERGE_KEYS, Warehouse, cluster_key
from id3c_spark.operators.merge import MultipleMatchError

D1, D2 = dt.date(2020, 1, 1), dt.date(2020, 2, 1)

#: table -> (upsert method, batch schema, seed rows, batch, duplicate-key batch)
SHAPES = {
    "individual": (
        "upsert_individual", "identifier string, sex string, details string",
        [(1, "ind-a", "male", '{"x": 1}'), (2, "ind-b", None, None),
         (3, "ind-c", "female", '{"y": 2}')],
        [("ind-a", "female", '{"z": 3}'), ("ind-b", None, '{"q": 1}'),
         ("ind-d", "male", None)],
        [("ind-c", "male", None), ("ind-c", "female", None)],
    ),
    "encounter_location": (
        "upsert_encounter_location",
        "encounter_id long, relation string not null, location_id long",
        [(10, "residence", 100, None), (10, "school", 101, None), (12, "work", 102, None)],
        [(10, "residence", 200), (12, "work", 102), (13, "residence", 100)],
        [(10, "school", 1), (10, "school", 2)],
    ),
    "sample": (
        "upsert_sample",
        "identifier string, collection_identifier string, encounter_id long, "
        "collected date, details string",
        [(1, "s1", "c1", 10, D1, None, None), (2, "s2", "c2", 11, D1, '{"k": 1}', None),
         (3, "s3", None, 12, None, None, None)],
        [("s1", None, 20, D2, '{"a": 1}'), (None, "c2", 21, None, None),
         ("s9", "c9", 30, D1, None)],
        [("s3", None, 40, None, None), ("s3", "c3", 41, None, None)],
    ),
    "site": (
        "find_or_create_site", "identifier string",
        [(1, "site-a", None), (2, "site-b", None)],
        [("site-a",), ("site-c",)],
        [("site-b",), ("site-b",)],
    ),
}


def table_rows_of(df) -> list[str]:
    return sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in df.collect())


def table_rows(wh: Warehouse, name: str) -> list[str]:
    return table_rows_of(wh.read(name))


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_upsert_regimes_agree(spark, tmp_path, regime, monkeypatch, name):
    from pyspark.sql.readwriter import DataFrameWriter

    method, batch_schema, seed, batch, dup = SHAPES[name]
    plans: list[str] = []
    parquet = DataFrameWriter.parquet

    def recorded(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recorded)
    outcomes = {}
    for fused in (True, False):
        wh = Warehouse(spark, str(tmp_path / f"fused-{fused}"))
        table = wh.tables[name]
        table.publish(spark.createDataFrame(seed, schemas.WAREHOUSE_SCHEMAS[name]),
                      cluster_by=cluster_key(MERGE_KEYS[name]))
        upsert, seeded = getattr(wh, method), table_rows(wh, name)
        plans.clear()

        with regime(fused):
            upsert(spark.createDataFrame(batch, batch_schema))
        merged, version = table_rows(wh, name), table.current_version()
        assert merged != seeded

        with regime(fused):
            upsert(spark.createDataFrame(batch, batch_schema))
        assert table.current_version() == version  # unchanged re-run: no version

        try:
            with regime(fused):
                upsert(spark.createDataFrame(dup, batch_schema))
            refused = None
        except MultipleMatchError as e:
            refused = str(e)
            assert table.current_version() == version
        outcomes[fused] = (merged, refused, table_rows(wh, name))

        assert len(plans) == 3
        exchanged = ["Exchange" in p for p in plans]
        assert exchanged == [not fused] * 3, plans

    assert outcomes[True] == outcomes[False]
    assert (outcomes[True][1] is None) == (name == "site")


@pytest.mark.parametrize("cap, rewritten", [(100_000, 2), (2, 4)])
def test_batch_past_the_prune_cap_prunes_on_its_range(spark, tmp_path, monkeypatch, cap, rewritten):
    """Keys 2, 3 and 99 sit in the first and last of four files. Within
    PRUNE_KEYS_CAP the observed keys prune per value (2 files rewritten);
    a batch with more rows than the cap is counted by a capped collect,
    and past the cap it prunes on its key range [2, 99] (all 4)."""
    from pyspark.sql import functions as F

    from id3c_spark.operators.merge import merge
    from id3c_spark.sources import store

    monkeypatch.setattr(store, "PRUNE_KEYS_CAP", cap)
    tbl = store.ParquetTable(spark, str(tmp_path / "t"))
    tbl.publish(spark.range(1, 101).select(F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
                cluster_by=["k"], partitions=4)
    before = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    assert len(before) == 4
    updates = spark.createDataFrame([(2, 1), (3, 1), (99, 1)], "k long, val long")
    expected = table_rows_of(merge(tbl.read(), updates, ["k"], "k").df)

    tbl.merge_publish(updates, ["k"], lambda t: merge(t, updates, ["k"], "k"), cluster_by=["k"])
    after = {os.path.basename(f): os.stat(f).st_ino for f in tbl.files()}
    assert sum(after.get(b) != ino for b, ino in before.items()) == rewritten
    assert table_rows_of(tbl.read()) == expected
