"""Bit-parity of the fused single-task graph paths (r15 optimization)
vs the distributed per-iteration loops (operators.graph).

Same discipline as test_linalg_fused.py: the fused paths sit below the
one regime gate (ann.fits_one_task), so these tests write real parquet
fixtures, then pin EXACT equality (float ==, not approx) between the
fused and staged regimes (forced through the `regime` fixture) on
identical inputs — messy inputs included (duplicate edges, reversed duplicates,
self-loops, parallel weighted edges, seeds absent from the graph).
"""

from __future__ import annotations

import random

from id3c_spark.operators.ann import fits_one_task
from id3c_spark.operators.graph import (
    hop_distances,
    kcore,
    label_propagation,
    pagerank,
    triangle_count,
)


def _pairs(rnd, n_nodes, n_edges, weighted=False, dp6=True):
    ids = rnd.sample(range(1_000_000), n_nodes)
    rows = []
    for _ in range(n_edges):
        a, b = rnd.choice(ids), rnd.choice(ids)
        if weighted:
            w = rnd.uniform(0.0, 1.0)
            rows.append((a, b, round(w, 6) if dp6 else w))
        else:
            rows.append((a, b))
    # messy extras: exact duplicates, reversed duplicates, a self-loop
    rows += rows[: max(1, n_edges // 10)]
    rows += [(r[1], r[0], *r[2:]) for r in rows[: max(1, n_edges // 10)]]
    rows.append((ids[0], ids[0], *([0.5] if weighted else [])))
    if weighted:
        # parallel edge: same pair, different weight — distinct keeps both
        a, b, w = rows[0]
        rows.append((a, b, round(w / 2, 6) if dp6 else w / 2))
    return rows, ids


def _write_pairs(spark, tmp_path, rows, weighted, tag):
    schema = "id_a long, id_b long" + (", w double" if weighted else "")
    path = str(tmp_path / f"pairs_{tag}.parquet")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_gate_fires_on_small_file_backed_integral_pairs(spark, tmp_path):
    rows, _ = _pairs(random.Random(1), 20, 40)
    df = _write_pairs(spark, tmp_path, rows, False, "gate")
    assert fits_one_task(df, ("id_a", "id_b"))
    # in-memory frames must keep the distributed path
    mem = spark.createDataFrame(rows, "id_a long, id_b long")
    assert not fits_one_task(mem, ("id_a", "id_b"))
    # non-integral id columns must keep the distributed path
    sdf = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    assert not fits_one_task(sdf, ("id_a", "id_b"))
    # a weighted gate additionally requires a double weight column
    wrows, _ = _pairs(random.Random(1), 10, 20, weighted=True)
    wdf = _write_pairs(spark, tmp_path, wrows, True, "gate_w")
    assert fits_one_task(wdf, ("id_a", "id_b"), ("w",))
    assert not fits_one_task(wdf, ("id_a", "id_b"), ("id_a",))


def test_fused_pagerank_plan_is_narrow(spark, tmp_path):
    rows, _ = _pairs(random.Random(2), 30, 60)
    df = _write_pairs(spark, tmp_path, rows, False, "narrow")
    pr = pagerank(df, "id_a", "id_b")
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_fused_pagerank_matches_distributed_bitwise(spark, tmp_path, regime):
    for seed, n_nodes, n_edges in [(7, 25, 60), (11, 80, 200), (3, 40, 40)]:
        rows, _ = _pairs(random.Random(seed), n_nodes, n_edges)
        df = _write_pairs(spark, tmp_path, rows, False, f"pr{seed}")
        with regime(True):
            fused = _sorted(pagerank(df, "id_a", "id_b", iters=5))
        with regime(False):
            dist = _sorted(pagerank(df, "id_a", "id_b", iters=5))
        assert fused == dist


def test_fused_weighted_pagerank_matches_distributed_bitwise(
    spark, tmp_path, regime
):
    # dp6=True: the rint fast path; dp6=False: the Decimal(repr) HALF_UP
    # fallback mirroring cast(w AS DECIMAL(18,6))
    for seed, dp6 in [(5, True), (13, False)]:
        rows, _ = _pairs(random.Random(seed), 30, 80, weighted=True, dp6=dp6)
        df = _write_pairs(spark, tmp_path, rows, True, f"wpr{seed}{dp6}")
        with regime(True):
            fused = _sorted(pagerank(df, "id_a", "id_b", iters=5, weight_col="w"))
        with regime(False):
            dist = _sorted(pagerank(df, "id_a", "id_b", iters=5, weight_col="w"))
        assert fused == dist


def test_fused_triangles_match_distributed(spark, tmp_path, regime):
    for seed, n_nodes, n_edges in [(7, 15, 60), (21, 50, 250)]:
        rows, _ = _pairs(random.Random(seed), n_nodes, n_edges)
        df = _write_pairs(spark, tmp_path, rows, False, f"tri{seed}")
        with regime(True):
            fused = _sorted(triangle_count(df, "id_a", "id_b"))
        with regime(False):
            dist = _sorted(triangle_count(df, "id_a", "id_b"))
        assert fused == dist
        assert fused[0][0] > 0  # fixtures actually contain triangles


def test_fused_hops_match_distributed(spark, tmp_path, regime):
    rnd = random.Random(9)
    rows, ids = _pairs(rnd, 40, 70)
    df = _write_pairs(spark, tmp_path, rows, False, "hops")
    # seeds: some in the graph, one guaranteed absent from it
    seed_ids = rnd.sample(ids, 3) + [7_777_777]
    spath = str(tmp_path / "seeds.parquet")
    spark.createDataFrame([(s,) for s in seed_ids], "id long").write.mode(
        "overwrite"
    ).parquet(spath)
    seeds = spark.read.parquet(spath)
    with regime(True):
        fused = _sorted(hop_distances(df, seeds, max_hops=3))
    with regime(False):
        dist = _sorted(hop_distances(df, seeds, max_hops=3))
    assert fused == dist
    assert (7_777_777, 0) in fused  # absent seed stays at dist 0


def test_fused_lpa_matches_distributed(spark, tmp_path, regime):
    for seed, n_nodes, n_edges in [(17, 30, 50), (4, 70, 180)]:
        rows, _ = _pairs(random.Random(seed), n_nodes, n_edges)
        df = _write_pairs(spark, tmp_path, rows, False, f"lpa{seed}")
        with regime(True):
            fused = _sorted(label_propagation(df, iters=3))
        with regime(False):
            dist = _sorted(label_propagation(df, iters=3))
        assert fused == dist


def test_fused_kcore_matches_distributed(spark, tmp_path, regime):
    # sparse graph so peeling genuinely removes leaves over several rounds
    for seed, n_nodes, n_edges, k in [(6, 60, 80, 2), (8, 40, 120, 3)]:
        rows, _ = _pairs(random.Random(seed), n_nodes, n_edges)
        df = _write_pairs(spark, tmp_path, rows, False, f"kc{seed}")
        with regime(True):
            fused = _sorted(kcore(df, "id_a", "id_b", k=k))
        with regime(False):
            dist = _sorted(kcore(df, "id_a", "id_b", k=k))
        assert fused == dist


def test_fused_empty_pairs(spark, tmp_path, regime):
    empty = _write_pairs(spark, tmp_path, [], False, "empty")
    assert fits_one_task(empty, ("id_a", "id_b"))
    with regime(True):
        assert pagerank(empty, "id_a", "id_b").count() == 0
        fused_tri = _sorted(triangle_count(empty, "id_a", "id_b"))
    with regime(False):
        dist_tri = _sorted(triangle_count(empty, "id_a", "id_b"))
    assert fused_tri == dist_tri
    spath = str(tmp_path / "eseeds.parquet")
    spark.createDataFrame([(42,)], "id long").write.mode("overwrite").parquet(spath)
    seeds = spark.read.parquet(spath)
    with regime(True):
        fused = _sorted(hop_distances(empty, seeds, max_hops=2))
    with regime(False):
        dist = _sorted(hop_distances(empty, seeds, max_hops=2))
    assert fused == dist == [(42, 0)]
