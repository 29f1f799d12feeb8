"""Bit-parity of the fused single-task spectral path (r15 optimization)
vs the distributed power-iteration passes (operators.linalg).

The fused path sits below the one regime gate (ann.fits_one_task:
file-backed sources small enough for one task); these tests write real parquet
fixtures so the gate fires, then pin EXACT equality (float ==, not
approx) against the distributed implementation on the same data.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from id3c_spark.operators.ann import fits_one_task
from id3c_spark.operators.linalg import (
    pc_projection,
    power_iteration,
    spectral_scores,
)


def _write_corpus(spark, tmp_path, n_rows, dim, seed=7, zero=False):
    rnd = random.Random(seed)
    data = [
        (
            i,
            [0.0] * dim if zero
            else [rnd.uniform(-1.0, 1.0) for _ in range(dim)],
        )
        for i in range(n_rows)
    ]
    path = str(tmp_path / f"emb_{n_rows}_{dim}_{seed}.parquet")
    spark.createDataFrame(data, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def _distributed_direction(spark, df, dim, iters):
    v = power_iteration(df, "embedding", dim=dim, iters=iters)
    out = spark.createDataFrame(
        [(d, v[d - 1]) for d in range(1, dim + 1)], "dim long, v double"
    )
    return out.select("dim", F.round("v", 6).alias("v"))


def test_gate_fires_on_small_file_backed_source(spark, tmp_path):
    df = _write_corpus(spark, tmp_path, 50, 8)
    assert fits_one_task(df)
    # in-memory frames must keep the distributed path
    mem = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert not fits_one_task(mem)


def test_fused_plan_is_narrow(spark, tmp_path):
    df = _write_corpus(spark, tmp_path, 50, 8)
    sc = spectral_scores(df, "vec_id", "embedding", dim=8, iters=3)
    plan = sc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_fused_scores_match_distributed_bitwise(spark, tmp_path):
    for seed, n_rows, dim in [(7, 50, 8), (11, 200, 16), (3, 120, 64)]:
        df = _write_corpus(spark, tmp_path, n_rows, dim, seed=seed)
        assert fits_one_task(df)
        fused = {
            r["id"]: r["score"]
            for r in spectral_scores(df, "vec_id", "embedding", dim=dim, iters=3).collect()
        }
        v = power_iteration(df, "embedding", dim=dim, iters=3)
        dist = {
            r["id"]: r["score"]
            for r in pc_projection(df, v, "vec_id", "embedding").collect()
        }
        assert fused == dist  # exact float equality, per-id


def test_fused_direction_matches_distributed_bitwise(spark, tmp_path):
    from id3c_spark.operators.linalg import principal_direction

    for seed, n_rows, dim in [(7, 50, 8), (5, 300, 32)]:
        df = _write_corpus(spark, tmp_path, n_rows, dim, seed=seed)
        fused = {
            r["dim"]: r["v"]
            for r in principal_direction(df, "embedding", dim=dim, iters=3).collect()
        }
        dist = {
            r["dim"]: r["v"]
            for r in _distributed_direction(spark, df, dim, 3).collect()
        }
        assert fused == dist


def test_fused_empty_and_degenerate_corpora(spark, tmp_path):
    from id3c_spark.operators.linalg import principal_direction

    # empty but file-backed: direction = rounded start vector, scores = empty
    empty = _write_corpus(spark, tmp_path, 0, 4)
    assert fits_one_task(empty)
    d = principal_direction(empty, "embedding", dim=4, iters=3).collect()
    assert sorted((r["dim"], r["v"]) for r in d) == [
        (1, 0.5), (2, 0.5), (3, 0.5), (4, 0.5)
    ]
    assert spectral_scores(empty, "vec_id", "embedding", dim=4, iters=3).count() == 0

    # all-zero vectors: the nm == 0 break must mirror the distributed path
    zeros = _write_corpus(spark, tmp_path, 10, 4, zero=True)
    dz = {
        r["dim"]: r["v"]
        for r in principal_direction(zeros, "embedding", dim=4, iters=3).collect()
    }
    vd = power_iteration(zeros, "embedding", dim=4, iters=3)
    assert dz == {i + 1: round(x, 6) for i, x in enumerate(vd)}
    sz = {
        r["id"]: r["score"]
        for r in spectral_scores(zeros, "vec_id", "embedding", dim=4, iters=3).collect()
    }
    dist_sz = {
        r["id"]: r["score"] for r in pc_projection(zeros, vd, "vec_id", "embedding").collect()
    }
    assert sz == dist_sz
