"""Bit-parity of the fused single-task shared-span and semantic-dedup
paths (r15 optimization) vs their distributed implementations
(operators.spans.shared_span_pairs, operators.ann.semantic_dedup).

The fused paths sit below the one regime gate (ann.fits_one_task:
file-backed sources small enough for one task); these tests write real
parquet fixtures, then pin EXACT equality against the staged paths on
the same data, each regime forced through the `regime` fixture.
"""

from __future__ import annotations

import random

from id3c_spark.operators.ann import semantic_dedup
from id3c_spark.operators.spans import shared_span_pairs

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
          "theta", "iota", "kappa"]


def _write_docs(spark, tmp_path, n_rows, seed=7, dup_span=True):
    rnd = random.Random(seed)
    span = " ".join(rnd.choice(_WORDS) for _ in range(12))
    rows = []
    for i in range(n_rows):
        body = " ".join(rnd.choice(_WORDS) for _ in range(rnd.randint(0, 40)))
        if dup_span and i % 3 == 0:
            body = f"{body} {span}"
        rows.append((i, body))
    path = str(tmp_path / f"docs_{n_rows}_{seed}_{dup_span}.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def _write_vecs(spark, tmp_path, n_rows, dim, seed=7, dups=True):
    rnd = random.Random(seed)
    rows = []
    base = [rnd.uniform(-1.0, 1.0) for _ in range(dim)]
    for i in range(n_rows):
        if dups and i % 4 == 0:
            v = [x + rnd.uniform(-0.01, 0.01) for x in base]
        else:
            v = [rnd.uniform(-1.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    path = str(tmp_path / f"vec_{n_rows}_{dim}_{seed}.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def test_fused_span_plan_is_narrow(spark, tmp_path):
    docs = _write_docs(spark, tmp_path, 30)
    plan = shared_span_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_fused_span_pairs_match_staged_bitwise(spark, tmp_path, regime):
    for seed, n, kk, mw, cap in [(7, 40, 5, 8, 200), (11, 80, 3, 6, 5),
                                 (3, 60, 5, 8, None)]:
        docs = _write_docs(spark, tmp_path, n, seed=seed)
        with regime(True):
            fused = sorted(map(tuple, shared_span_pairs(
                docs, k=kk, min_words=mw, max_df=cap
            ).collect()))
        with regime(False):
            staged = sorted(map(tuple, shared_span_pairs(
                docs, k=kk, min_words=mw, max_df=cap
            ).collect()))
        assert fused == staged


def test_fused_span_edges(spark, tmp_path, regime):
    # no duplicated span: both paths emit nothing (or identically little)
    docs = _write_docs(spark, tmp_path, 30, seed=9, dup_span=False)
    with regime(True):
        fused = sorted(map(tuple, shared_span_pairs(docs).collect()))
    with regime(False):
        staged = sorted(map(tuple, shared_span_pairs(docs).collect()))
    assert fused == staged
    # docs below k words only
    short = _write_docs(spark, tmp_path, 0, seed=1)
    with regime(True):
        assert shared_span_pairs(short).count() == 0


def test_fused_semantic_dedup_matches_staged_bitwise(spark, tmp_path, regime):
    for seed, n, dim, thr, nl in [(7, 60, 8, 0.9, None), (11, 120, 16, 0.35, None),
                                  (3, 50, 8, 0.5, 4)]:
        vecs = _write_vecs(spark, tmp_path, n, dim, seed=seed)
        with regime(True):
            fused = sorted(map(tuple, semantic_dedup(
                vecs, threshold=thr, nlist=nl
            ).collect()))
        with regime(False):
            staged = sorted(map(tuple, semantic_dedup(
                vecs, threshold=thr, nlist=nl
            ).collect()))
        assert fused == staged
        assert len(fused) == n


def test_fused_semantic_dedup_edges(spark, tmp_path, regime):
    # nlist past the corpus: pivots cap at N, like the staged collect
    vecs = _write_vecs(spark, tmp_path, 5, 4, seed=13)
    with regime(True):
        fused = sorted(map(tuple, semantic_dedup(
            vecs, threshold=0.3, nlist=32
        ).collect()))
    with regime(False):
        staged = sorted(map(tuple, semantic_dedup(
            vecs, threshold=0.3, nlist=32
        ).collect()))
    assert fused == staged
    # empty corpus
    empty = _write_vecs(spark, tmp_path, 0, 4)
    with regime(True):
        assert semantic_dedup(empty).count() == 0
    plan = semantic_dedup(vecs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
