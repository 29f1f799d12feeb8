"""Physical/logical plan audits — the scale-regression guards.

These tests pin the plan properties that keep the catalog viable at
100 TB: predicate pushdown into the parquet scan, column pruning,
broadcast of small join sides, and no quadratic (cross) joins sneaking
into a query that did not explicitly choose a blocked all-pairs shape.
A correctness-green change that breaks one of these would silently turn
into a full-scan or shuffle explosion at scale; here it fails CI
instead.
"""

from __future__ import annotations

import pytest

from id3c_spark.plans.queries import all_queries

# Queries whose plans intentionally contain cross joins, with the exact
# count: the blocked cross-GEMM ships O(blocks²) packed rows by design,
# and bm25 cross-joins two single-row aggregate scalars (corpus size and
# average doc length) onto the postings relation.
ALLOWED_CROSS = {
    # intentional BLOCKED cross joins: the crossJoin pairs B query blocks
    # with S corpus shards (B*S rows of packed bytes), never row-level
    # all-pairs — the distributed GEMM layout of ann.cosine_topk and the
    # ADC scorer of pq.pq_topk. At this test's scale the SELF-search
    # single-shard corpora take the r14 fused one-stage path (no pack, no
    # crossJoin, no window), so embedding_topk / embedding_dups /
    # int8_topk_embeddings expect ZERO crosses; the multi-shard blocked
    # crossJoin shape stays covered by margin_mined_pairs /
    # knn_label_embeddings (query-vs-corpus searches, never fused).
    "embedding_topk": 0,
    "embedding_dups": 0,
    # cross-search cosine_topk's B×S blocked-GEMM crossJoin + the
    # single-row top-4 mean relation joined back for the margin ratio
    "margin_mined_pairs": 2,
    # bm25's two single-row stats scalars (as in bm25_search_docs);
    # the broadcast query vector rides as a literal, not a join
    "hybrid_search_docs": 2,
    "bm25_search_docs": 2,
    # r15: the self-search single-shard pq_topk takes the fused one-stage
    # path at this scale (no pack, no crossJoin) — the multi-shard ADC
    # blocked crossJoin shape stays exercised by the pq parity tests'
    # staged-regime runs
    "pq_topk_embeddings": 0,
    # single-row aggregate scalars cross-joined onto a relation (the same
    # shape as bm25's stats): corpus doc count, unigram vocabulary size,
    # and the DSIR token totals — each side is exactly one row
    "tfidf_keywords_docs": 1,
    # r16: fused below the single-task gate — the scalar crossJoins
    # (model totals) left the plan; distributed shape keeps them
    "lm_cross_entropy_docs": 0,
    "dsir_top_docs": 0,
    "temperature_sample_docs": 1,  # α-weight normalizer z (one row)
    "rich_idle_customers": 1,      # scalar avg-balance threshold (one row)
    "order_window_overlaps": 1,    # min-orderdate base scalar (one row)
    "event_rate_anomalies": 1,     # global mean/std scalar (one row)
    "source_mixture_report": 1,    # total-token scalar (one row)
    "decayed_user_engagement": 1,  # max-ts scalar (one row)
    "spectral_outlier_embeddings": 1,  # score-stats scalar (one row)
    "idle_rich_accounts_report": 1,    # avg-balance threshold scalar (one row)
    # |G|² group-pair relation over the distinct sketch groups — bounded
    # r16: the pair tail runs driver-side over the bounded-collected
    # sketch (profile.kmv_jaccard) — the |G|² crossJoin left the plan
    "kmv_source_jaccard": 0,
    # cosine_topk's B×S blocked-GEMM crossJoin inside the kNN classifier
    "knn_label_embeddings": 1,
    # self-search over the dequantized int8 index: fused single-shard
    # path at this scale (see embedding_topk above)
    "int8_topk_embeddings": 0,
}


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_unintended_cross_join(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    crosses = _optimized(df).count("Join Cross")
    assert crosses == ALLOWED_CROSS.get(name, 0), (
        f"{name}: {crosses} cross join(s) in the optimized plan "
        f"(expected {ALLOWED_CROSS.get(name, 0)}) — an all-pairs shape "
        "appeared that is quadratic at scale"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """pricing_summary's shipdate predicate must reach the parquet reader
    (PushedFilters), not run post-scan."""
    df = all_queries()["pricing_summary"](spark, sf_dir)
    plan = _executed(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark, sf_dir):
    """The lineitem scan must read only the six referenced columns —
    a FileScan with stowaways means the 100 TB scan reads dead bytes."""
    df = all_queries()["pricing_summary"](spark, sf_dir)
    plan = _executed(df)
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan_cols
    assert "l_orderkey" not in scan_cols and "l_comment" not in scan_cols


def test_small_dimensions_broadcast(spark, sf_dir):
    """The nation/customer star join must broadcast its small sides, not
    shuffle the fact table against them."""
    plan = _executed(all_queries()["revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    """The hot aggregate path stays inside whole-stage codegen: the AQE
    final plan (materialized by collect) marks codegen spans with ``*(n)``
    on both the partial and final HashAggregate."""
    df = all_queries()["pricing_summary"](spark, sf_dir)
    df.collect()
    plan = _executed(df)
    assert "isFinalPlan=true" in plan
    codegen_aggs = [
        line for line in plan.splitlines()
        if "HashAggregate" in line and "*(" in line
    ]
    assert len(codegen_aggs) >= 2


def test_aqe_splits_planted_skew_join(spark):
    """Scale evidence for the skew story: a join where one key holds half
    the left side gets its hot partition SPLIT by AQE at runtime
    (SortMergeJoin(skew=true) + 'AQEShuffleRead ... skewed' in the final
    plan) — the runtime defense operators/skew.py complements."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # the global agg downstream would otherwise veto the split (it
        # adds a shuffle); force mirrors a real deployment's choice
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400000).select(
            F.when(F.col("id") < 200000, 0).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("v"),  # incompressible bytes
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # max(v) keeps the fat payload column alive through the join —
        # count alone lets column pruning shrink partitions under the
        # skew threshold
        j = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")
        )
        assert j.collect()[0]["n"] == 200000
        plan = _executed(j)
        assert "skew=true" in plan
        assert "skewed" in plan.split("skew=true")[1]  # AQEShuffleRead marker
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gate_rotation_is_deterministic_and_covers_catalog():
    """The driver gate checks only the first GATE_CAP catalog entries, so
    registration order ROTATES by (GATE_CAP * round) % size each round:
    deterministic (pure repo-state), a permutation of the full catalog,
    and the rotating 50-entry window reaches EVERY entry within
    ceil(size/GATE_CAP) consecutive rounds — no query is forever outside
    driver-side verification."""
    from id3c_spark.plans.queries import (
        GATE_CAP,
        QUERIES,
        _gate_round,
        all_queries,
        gate_dropped_queries,
        gate_rotation_offset,
    )

    orig = list(QUERIES)
    rotated = list(all_queries())
    off = gate_rotation_offset()
    assert off == (GATE_CAP * _gate_round()) % len(orig)
    assert rotated == orig[off:] + orig[:off]  # a rotation, not a curation
    assert rotated == list(all_queries())  # deterministic across calls
    assert set(gate_dropped_queries()) == set(rotated[GATE_CAP:])

    rounds_to_cover = -(-len(orig) // GATE_CAP) + 1
    covered = set()
    for rnd in range(_gate_round(), _gate_round() + rounds_to_cover):
        o = (GATE_CAP * rnd) % len(orig)
        covered |= set((orig[o:] + orig[:o])[:GATE_CAP])
    assert covered == set(orig)
