"""Model-based fuzz of the versioned store (sources/store.py).

A seeded random op sequence — publish / append / merge_publish /
compact / compact_incremental, with layout options mixed in — runs
against both ParquetTable and a plain Python dict model. After every
op the table must equal the model exactly; every adjacent version pair
must satisfy the CDC reconstruction invariant (v_prev + changes =
v_next). This is the whole-contract check the per-feature tests can't
give: interleavings (merge after evolve-append after compact) are where
storage engines rot.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from id3c_spark.operators.merge import merge
from id3c_spark.sources.store import ParquetTable

SCHEMA = "k long, val long, details string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(tbl):
    return sorted((r.k, r.val, r.details) for r in tbl.read().collect())


def test_store_random_op_sequence_matches_model(spark, tmp_path):
    rng = random.Random(20260814)
    tbl = ParquetTable(spark, str(tmp_path / "fuzz"), keep_versions=50)
    model: dict[int, tuple] = {}

    def publish(rows):
        model.clear()
        model.update({k: (k, v, d) for k, v, d in rows})
        layout = rng.choice([{}, {"cluster_by": ["k"]}, {"zorder_by": ["k", "val"]}])
        tbl.publish(_df(spark, rows), partitions=rng.choice([None, 4]), **layout)

    def append(rows):
        # append ADDS rows (no upsert): feed it fresh keys only so the
        # key-level model stays a dict
        rows = [r for r in rows if r[0] not in model]
        if not rows:
            return
        model.update({k: (k, v, d) for k, v, d in rows})
        tbl.append(_df(spark, rows))

    def merge_pub(rows):
        # merge semantics: a NULL update value keeps the target's
        for k, v, d in rows:
            old = model.get(k)
            model[k] = (k, v, d if d is not None or old is None else old[2])
        updates = _df(spark, rows)
        tbl.merge_publish(
            updates, ["k"],
            lambda target: merge(
                target, updates, ["k"], "k", details_col=None
            ),
            cluster_by=rng.choice([None, ["k"]]),
        )

    def compact(_):
        tbl.compact(target_files=rng.randint(1, 4))

    def compact_inc(_):
        tbl.compact_incremental(min_file_bytes=1 << 20)

    next_key = 0

    def fresh_rows(n, reuse=0.5):
        nonlocal next_key
        rows = []
        for _ in range(n):
            if model and rng.random() < reuse:
                k = rng.choice(list(model))
            else:
                k = next_key
                next_key += 1
            rows.append((k, rng.randint(0, 10**6), rng.choice([None, f"d{k}"])))
        # one row per key within a batch (merge/model semantics)
        return list({r[0]: r for r in rows}.values())

    publish(fresh_rows(30, reuse=0))
    versions_seen = [tbl.current_version()]
    assert _snapshot(tbl) == sorted(model.values())

    ops = [append, merge_pub, compact, compact_inc, append, merge_pub]
    for step in range(12):
        op = rng.choice(ops)
        op(fresh_rows(rng.randint(1, 8)))
        v = tbl.current_version()
        if v != versions_seen[-1]:
            versions_seen.append(v)
        got = _snapshot(tbl)
        want = sorted(model.values())
        assert got == want, f"step {step} {op.__name__}: {got[:3]}... != {want[:3]}..."

    # appends may write multiple part files; dedup/merge keys stay exact
    assert len(model) == len(set(model))

    # CDC invariant over every adjacent surviving version pair
    for v_from, v_to in zip(versions_seen, versions_seen[1:]):
        feed = tbl.changes(v_from, v_to)
        ins = feed.filter("_change_type = 'insert'").drop("_change_type")
        dele = feed.filter("_change_type = 'delete'").drop("_change_type")
        rebuilt = tbl.read(v_from).exceptAll(dele).unionByName(ins)
        assert sorted(map(tuple, rebuilt.collect())) == sorted(
            map(tuple, tbl.read(v_to).collect())
        ), f"CDC reconstruction failed for v{v_from}→v{v_to}"
