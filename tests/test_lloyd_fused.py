"""Bit-parity of the fused single-task Lloyd-training family (r15
optimization) vs the collect-per-iteration staged paths: clustering.kmeans,
pq.pq_train, pq.pq_topk and ann.ivf_trained_topk.

The fused paths sit below the one regime gate (ann.fits_one_task:
file-backed sources small enough for one task); these tests write real
parquet fixtures, then pin EXACT equality (float ==, not approx) against
the staged implementation on the same data, each regime forced through
the `regime` fixture.
"""

from __future__ import annotations

import random

import numpy as np

from id3c_spark.operators import ann
from id3c_spark.operators.ann import _prep
from id3c_spark.operators.clustering import kmeans, lloyd_np
from id3c_spark.operators.pq import pq_topk, pq_train


def _write_corpus(spark, tmp_path, n_rows, dim, seed=7, zero=False,
                  dtype="float"):
    rnd = random.Random(seed)
    data = [
        (
            i,
            [0.0] * dim if zero
            else [rnd.uniform(-1.0, 1.0) for _ in range(dim)],
        )
        for i in range(n_rows)
    ]
    path = str(tmp_path / f"emb_{n_rows}_{dim}_{seed}_{zero}_{dtype}.parquet")
    spark.createDataFrame(
        data, f"vec_id long, embedding array<{dtype}>"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_gate_fires_on_small_file_backed_integral_source(spark, tmp_path):
    df = _write_corpus(spark, tmp_path, 50, 8)
    assert ann.fits_one_task(_prep(df, "vec_id", "embedding"), ("id",))
    # in-memory frames must keep the distributed path
    mem = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert not ann.fits_one_task(_prep(mem, "vec_id", "embedding"), ("id",))
    # non-integral ids too (the numpy mirror is int64)
    sid = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<float>"
    )
    assert not ann.fits_one_task(_prep(sid, "vec_id", "embedding"), ("id",))


def test_fused_kmeans_plan_is_narrow_and_lazy(spark, tmp_path):
    df = _write_corpus(spark, tmp_path, 60, 8)
    out = kmeans(df, "vec_id", "embedding", k=4, max_iter=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_fused_kmeans_matches_staged_bitwise(spark, tmp_path, regime):
    for seed, n, dim, k, iters in [(7, 60, 8, 4, 2), (11, 200, 16, 8, 3),
                                   (3, 40, 64, 8, 1)]:
        df = _write_corpus(spark, tmp_path, n, dim, seed=seed)
        with regime(True):
            fused = sorted(map(tuple, kmeans(
                df, "vec_id", "embedding", k=k, max_iter=iters
            ).collect()))
        with regime(False):
            staged = sorted(map(tuple, kmeans(
                df, "vec_id", "embedding", k=k, max_iter=iters
            ).collect()))
        assert fused == staged  # exact float equality


def test_fused_pq_train_matches_staged_bitwise(spark, tmp_path, regime):
    for seed, n, dim, m, k, iters, salt in [
        (7, 60, 8, 2, 4, 2, ""),
        (11, 200, 16, 4, 8, 3, "res"),
        (3, 40, 64, 8, 16, 1, ""),
    ]:
        df = _write_corpus(spark, tmp_path, n, dim, seed=seed)
        with regime(True):
            fused = pq_train(df, m=m, k=k, max_iter=iters, seed_salt=salt)
        with regime(False):
            staged = pq_train(df, m=m, k=k, max_iter=iters, seed_salt=salt)
        assert fused.shape == staged.shape
        assert np.array_equal(fused, staged)  # bit-exact centroids


def test_fused_pq_train_double_input_matches(spark, tmp_path, regime):
    # array<double> input takes pq_train's emit_direct staged path —
    # the fused mirror must match that too
    df = _write_corpus(spark, tmp_path, 80, 16, seed=5, dtype="double")
    with regime(True):
        fused = pq_train(df, m=4, k=8, max_iter=2)
    with regime(False):
        staged = pq_train(df, m=4, k=8, max_iter=2)
    assert np.array_equal(fused, staged)


def test_fused_pq_topk_matches_staged_bitwise(spark, tmp_path, regime):
    for seed, n, dim, m, k in [(7, 60, 8, 2, 5), (11, 150, 16, 4, 3)]:
        df = _write_corpus(spark, tmp_path, n, dim, seed=seed)
        with regime(False):
            books = pq_train(df, m=m, k=8, max_iter=2)
        with regime(True):
            fused = sorted(map(tuple, pq_topk(
                df, df, books, k=k
            ).collect()))
        with regime(False):
            staged = sorted(map(tuple, pq_topk(
                df, df, books, k=k
            ).collect()))
        assert fused == staged
        plan = pq_topk(df, df, books, k=k)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


def test_fused_ivf_trained_matches_staged_bitwise(spark, tmp_path, regime):
    for seed, n, dim, nlist, nprobe, k in [(7, 60, 8, 4, 2, 5),
                                           (11, 200, 16, 16, 6, 5)]:
        df = _write_corpus(spark, tmp_path, n, dim, seed=seed)
        with regime(True):
            fused = sorted(map(tuple, ann.ivf_trained_topk(
                df, df, k=k, nlist=nlist, nprobe=nprobe
            ).collect()))
        with regime(False):
            staged = sorted(map(tuple, ann.ivf_trained_topk(
                df, df, k=k, nlist=nlist, nprobe=nprobe
            ).collect()))
        assert fused == staged
        plan = ann.ivf_trained_topk(
            df, df, k=k, nlist=nlist, nprobe=nprobe
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_fused_ivf_trained_pretrained_coarse_matches(spark, tmp_path, regime):
    # injected pretrained coarse model (the serve-many separation):
    # the fused path must use it instead of retraining
    from id3c_spark.operators.pq import _normalized

    df = _write_corpus(spark, tmp_path, 80, 8, seed=9)
    vn = _normalized(_prep(df, "vec_id", "embedding"))
    with regime(False):
        coarse = pq_train(vn, "id", "v", m=1, k=4, max_iter=2)
    with regime(True):
        fused = sorted(map(tuple, ann.ivf_trained_topk(
            df, df, k=5, nlist=4, nprobe=2, coarse=coarse
        ).collect()))
    with regime(False):
        staged = sorted(map(tuple, ann.ivf_trained_topk(
            df, df, k=5, nlist=4, nprobe=2, coarse=coarse
        ).collect()))
    assert fused == staged


def test_fused_edges_k_past_corpus_and_n_below_k(spark, tmp_path, regime):
    # fewer rows than clusters: k trains down to N, like the staged seed
    # cap; top-k past the corpus emits every non-self candidate
    df = _write_corpus(spark, tmp_path, 3, 8, seed=13)
    with regime(True):
        fused_books = pq_train(df, m=2, k=16, max_iter=2)
        fk = sorted(map(tuple, kmeans(df, k=16, max_iter=2).collect()))
    with regime(False):
        staged_books = pq_train(df, m=2, k=16, max_iter=2)
        sk = sorted(map(tuple, kmeans(df, k=16, max_iter=2).collect()))
        books = pq_train(df, m=2, k=2, max_iter=1)
    assert np.array_equal(fused_books, staged_books)
    assert fk == sk
    with regime(True):
        ft = sorted(map(tuple, pq_topk(df, df, books, k=10).collect()))
    with regime(False):
        st = sorted(map(tuple, pq_topk(df, df, books, k=10).collect()))
    assert ft == st


def test_fused_zero_vectors_and_empty(spark, tmp_path, regime):
    # all-zero vectors: no normalization in kmeans/pq, so values stay
    # finite and parity must hold exactly
    zeros = _write_corpus(spark, tmp_path, 10, 4, zero=True)
    with regime(True):
        fused_books = pq_train(zeros, m=2, k=4, max_iter=2)
        fz = sorted(map(tuple, kmeans(zeros, k=4, max_iter=2).collect()))
    with regime(False):
        staged_books = pq_train(zeros, m=2, k=4, max_iter=2)
        sz = sorted(map(tuple, kmeans(zeros, k=4, max_iter=2).collect()))
    assert np.array_equal(fused_books, staged_books)
    assert fz == sz
    # empty but file-backed: fused paths emit empty frames
    empty = _write_corpus(spark, tmp_path, 0, 4)
    with regime(True):
        assert kmeans(empty, k=4, max_iter=2).count() == 0
        assert ann.ivf_trained_topk(
            empty, empty, k=5, nlist=4, nprobe=2
        ).count() == 0


def test_micros6_matches_spark_round_cast(spark):
    # the mean-replay primitive: int64 micros must equal Spark's
    # round(x, 6)::decimal(20,6) unscaled value element-for-element,
    # including exact .5 ties (HALF_UP) and negatives
    from pyspark.sql import functions as F

    from id3c_spark.operators.clustering import micros6

    vals = [
        0.1234565, -0.1234565, 0.1234575, -0.1234575,  # exact .5 ties
        0.5e-6, -0.5e-6, 1.5e-6, 0.0, -0.0,
        0.123456, -9.87654321, 123.4567891234, -0.0000004999999,
    ] + [random.Random(5).uniform(-10, 10) for _ in range(200)]
    ours = micros6(np.asarray(vals, dtype=np.float64))
    rows = spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    ).select(
        (F.round(F.col("x"), 6).cast("decimal(20,6)") * 1000000)
        .cast("long").alias("mi")
    ).collect()
    theirs = [r.mi for r in rows]
    assert list(ours) == theirs
