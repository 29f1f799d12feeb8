"""bounded_collect (operators/bounded.py): the shared single-wave probe
primitive — completeness under the cap, guaranteed overflow detection,
no session-conf mutation — plus the kmv_jaccard group-cardinality guard
built on it (ADVICE r12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from id3c_spark.operators.bounded import bounded_collect


def test_bounded_collect_complete_under_cap(spark):
    df = spark.range(0, 500, 1, 8).select(F.col("id"))
    rows = bounded_collect(df, 1000)
    assert sorted(r.id for r in rows) == list(range(500))


def test_bounded_collect_detects_overflow(spark):
    # true count 5000 > cap 100: must report > cap no matter how the
    # per-partition caps interact with the partitioning
    for parts in (1, 4, 32):
        df = spark.range(0, 5000, 1, parts)
        rows = bounded_collect(df, 100)
        assert len(rows) > 100, parts
        # and the transfer stays bounded at partitions x (cap+1)
        assert len(rows) <= parts * 101, parts


def test_bounded_collect_exact_cap_is_complete(spark):
    # count == cap exactly: no partition can exceed the per-partition
    # cap, so the result is complete and reported as such
    df = spark.range(0, 64, 1, 4)
    rows = bounded_collect(df, 64)
    assert sorted(r.id for r in rows) == list(range(64))


def test_bounded_collect_empty_and_mixed_types(spark):
    assert bounded_collect(spark.range(0).select("id"), 10) == []
    df = spark.createDataFrame(
        [("a", 1.5), ("b", None)], "g string, h double"
    )
    got = {(r.g, r.h) for r in bounded_collect(df, 10)}
    assert got == {("a", 1.5), ("b", None)}


def test_bounded_collect_global_bound_past_budget(spark):
    # ADVICE r13: past the direct budget the driver must receive at most
    # cap+1 rows TOTAL even when EVERY partition overflows — not
    # partitions x (cap+1). Force the truncation path with a tiny budget.
    df = spark.range(0, 50_000, 1, 32)
    rows = bounded_collect(df, 100, direct_budget_rows=1)
    assert len(rows) == 101          # exactly cap+1: overflow detected,
    #                                  transfer globally truncated


def test_bounded_collect_truncation_path_complete_under_cap(spark):
    # the extra truncation stage must not break completeness: true count
    # <= cap survives the repartition(1) + re-cap intact
    df = spark.range(0, 500, 1, 16).select(F.col("id"))
    rows = bounded_collect(df, 1000, direct_budget_rows=1)
    assert sorted(r.id for r in rows) == list(range(500))


def test_bounded_collect_budget_boundary(spark):
    # worst case exactly AT the budget stays on the one-stage path and
    # keeps the old per-partition bound; one row past it truncates
    df = spark.range(0, 5000, 1, 4)
    at_budget = bounded_collect(df, 100, direct_budget_rows=4 * 101)
    assert 100 < len(at_budget) <= 4 * 101
    past_budget = bounded_collect(df, 100, direct_budget_rows=4 * 101 - 1)
    assert len(past_budget) == 101


def test_bounded_collect_leaves_no_conf(spark):
    # the per-plan mechanism must not touch the session-global limit
    # ramp conf the r12 shape mutated
    key = "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(key, None)
    bounded_collect(spark.range(100), 10)
    assert spark.conf.get(key, None) == before


def test_kmv_jaccard_group_cardinality_guard(spark):
    """A near-unique group column overflows the sketch-row cap with a
    clear error instead of an unbounded driver collect; a bounded group
    column under the same cap still works."""
    from id3c_spark.operators.profile import kmv_jaccard

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
    )
    with pytest.raises(ValueError, match="max_sketch_rows"):
        kmv_jaccard(
            docs.withColumn("g", F.col("doc_id").cast("string")),
            "g", "text", k=8, max_sketch_rows=50,
        )
    out = kmv_jaccard(docs, "source", "text", k=16, max_sketch_rows=10_000)
    assert out.count() > 0


def test_bounded_collect_reduced_allowance_stays_one_stage(spark, monkeypatch):
    # r14: past the budget, a relation far under its cap must be proven
    # complete by the ONE direct collect (len < allowance ⇒ no partition
    # truncated) — the adjudication stage must not run. This is the kmv
    # common case the r13 always-two-stage shape taxed (~1.2-1.3x).
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("adjudication stage must not run")

    monkeypatch.setattr(DataFrame, "repartition", boom)
    df = spark.range(0, 50, 1, 8).select(F.col("id"))
    rows = bounded_collect(df, 1_000_000, direct_budget_rows=1000)
    assert sorted(r.id for r in rows) == list(range(50))


def test_bounded_collect_ambiguous_tier_adjudicates_complete(spark):
    # reduced allowance with a partition AT its allowance but true count
    # <= cap: the adjudication stage must return the COMPLETE relation
    df = spark.range(0, 300).repartition(4, F.lit(1))  # all rows, one partition
    rows = bounded_collect(df, 1000, direct_budget_rows=400)
    assert sorted(r.id for r in rows) == list(range(300))


def test_bounded_collect_overflow_detected_without_adjudication(spark):
    # reduced allowance, true count > cap spread across partitions: the
    # direct attempt alone collects > cap real rows — overflow decided
    # in one stage, result truncated to cap+1
    df = spark.range(0, 5000, 1, 4)
    rows = bounded_collect(df, 100, direct_budget_rows=403)
    assert len(rows) == 101


def test_bounded_collect_pathological_partitions(spark):
    """r14 verdict task: 2,048 partitions with a reduced allowance.
    (a) the direct stage ships <= max(budget, partitions) rows however
    the rows land; (b) the ambiguous tier's adjudication is exact;
    (c) wall time stays bounded (the repartition(1) task's pull-based
    fetch never materializes more than cap+1 rows)."""
    import time

    from id3c_spark.operators.bounded import _head_cap

    parts, budget = 2048, 4096
    allowance = max(1, budget // parts)  # reduced: 2 rows/partition

    # skewed: 2,500 rows packed into 4 of 2,048 partitions → the direct
    # stage collects [allowance, cap] rows → ambiguous → adjudication
    skewed = spark.range(0, 2500).repartition(parts, F.col("id") % 4)
    direct = skewed.mapInPandas(_head_cap(allowance), skewed.schema).count()
    assert direct <= max(budget, parts)                       # (a)
    t0 = time.time()
    rows = bounded_collect(skewed, 3000, direct_budget_rows=budget)
    elapsed = time.time() - t0
    assert sorted(r.id for r in rows) == list(range(2500))    # (b)
    assert elapsed < 120, elapsed                             # (c)

    # spread: 5,000 rows over all 2,048 partitions, true count > cap —
    # overflow must be detected with the transfer still bounded
    spread = spark.range(0, 5000, 1, parts)
    rows = bounded_collect(spread, 100, direct_budget_rows=budget)
    assert len(rows) == 101


def test_bounded_collect_tier_invariants_property(spark):
    """Property check across the (rows, partitions, cap, budget) grid —
    every regime (full allowance / reduced-complete / ambiguous /
    overflow) must satisfy the two-sided contract: true count <= cap
    yields the exact complete relation; true count > cap yields exactly
    cap+1 rows (overflow detected, transfer truncated)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=400),
        parts=st.integers(min_value=1, max_value=8),
        cap=st.integers(min_value=0, max_value=300),
        budget=st.integers(min_value=1, max_value=2000),
    )
    def check(n, parts, cap, budget):
        df = spark.range(0, n, 1, parts)
        rows = bounded_collect(df, cap, direct_budget_rows=budget)
        if n <= cap:
            assert sorted(r.id for r in rows) == list(range(n))
        else:
            assert len(rows) == cap + 1

    check()
