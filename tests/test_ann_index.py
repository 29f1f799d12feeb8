"""Persisted ANN index (plans/ann_index.py): build → serve equals the
in-memory oracle-verified ivfpq_topk bit-for-bit, and serving's code
scan opens ONLY the probed cells' files (footer pruning on the
cell-clustered codes table)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from id3c_spark.plans.ann_index import _tables, build_index, serve_topk


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_served_index_matches_in_memory_ivfpq(spark, tmp_path):
    from id3c_spark.operators.pq import ivfpq_topk

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    versions = build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2)
    assert set(versions) == {
        "centroids", "codebooks", "codes", "vectors", "stats", "meta"
    }

    served = serve_topk(spark, path, emb, k=3, nprobe=3)
    inmem = ivfpq_topk(
        emb, emb, k=3, nlist=8, nprobe=3, m=8, kcent=8, train_iter=2
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inmem.collect())
    )


def test_serving_scans_only_probed_cells_files(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "idx2")
    build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2)
    t = _tables(spark, path)

    # a single query vector probes nprobe=1 cell: the pruned codes read
    # must open strictly fewer files than the table has
    one = emb.orderBy("vec_id").limit(1)
    probed = serve_topk(spark, path, one, k=2, nprobe=1)
    assert probed.count() <= 2

    n_files = len(t["codes"].files())
    assert n_files >= 4  # clustered multi-file layout
    # reproduce the serve-side pruning decision and check the skip
    from id3c_spark.plans.ann_index import _load_models
    from id3c_spark.operators.ann import _prep
    from id3c_spark.operators.pq import _assign_topn, _normalized

    coarse, _, _ = _load_models(spark, path)
    bcg = spark.sparkContext.broadcast(coarse)
    qn = _normalized(_prep(one, "vec_id", "embedding"))
    cells = [r.cell for r in _assign_topn(qn, bcg, 1).collect()]
    kept = t["codes"].pruned_files_in("cell", cells)
    assert len(kept) < n_files
    # and the pruned read is exactly the cell's codes
    got = t["codes"].read_pruned_in("cell", cells)
    want = t["codes"].read().filter(F.col("cell").isin(cells))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_served_rerank_refines_with_true_cosine(spark, tmp_path):
    from id3c_spark.operators.ann import cosine_topk

    emb = _emb(spark)
    path = str(tmp_path / "idx3")
    # tuned codebooks (m=32 like the recall artifact) — the weak m=8
    # config of the parity tests is deliberately cheap, not accurate
    build_index(emb, path, nlist=8, m=32, kcent=16, train_iter=2)
    reranked = serve_topk(
        spark, path, emb, k=2, nprobe=8, rerank_shortlist=100
    ).collect()
    # full probe + wide shortlist + exact rerank over normalized vectors
    # must reproduce the exact top-1 neighbor for most queries
    exact = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(emb, emb, k=1).collect()
    }
    top1 = {r.query_id: r.neighbor_id for r in reranked if r.rank == 1}
    agree = sum(1 for q, n in exact.items() if top1.get(q) == n)
    assert agree >= 0.9 * len(exact)


def test_cli_ann_build_and_query(spark, tmp_path):
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "cli_idx")
    runner = CliRunner()
    res = runner.invoke(cli, [
        "corpus", "ann-build", src, idx, "--nlist", "8", "--m", "8",
        "--kcent", "8",
    ])
    assert res.exit_code == 0, res.output
    built = _json.loads(res.output)
    assert built["versions"]["codes"] == 1

    res = runner.invoke(cli, [
        "corpus", "ann-query", idx, src, "--k", "2", "--nprobe", "2",
    ])
    assert res.exit_code == 0, res.output
    rows = [_json.loads(line) for line in res.output.strip().splitlines()]
    assert rows and {"query_id", "neighbor_id", "dist", "rank"} <= set(rows[0])
    assert all(r["rank"] <= 2 for r in rows)


def test_add_to_index_serves_new_vectors_without_retraining(spark, tmp_path):
    import os as _os

    from id3c_spark.plans.ann_index import add_to_index

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 400)
    newer = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "idx4")
    build_index(base, path, nlist=8, m=8, kcent=8, train_iter=2)
    t = _tables(spark, path)
    before = {_os.path.basename(f): _os.stat(f).st_ino for f in t["codes"].files()}

    add_to_index(spark, path, newer)
    after = {_os.path.basename(f): _os.stat(f).st_ino for f in t["codes"].files()}
    # file-granular: every pre-existing code file carried by hard link
    assert all(after.get(b) == ino for b, ino in before.items())
    assert t["codes"].read().count() == emb.count()

    # a new vector is findable: serve its exact duplicate region — query
    # WITH the new ids present must return them as candidates
    served = serve_topk(spark, path, newer, k=3, nprobe=8)
    assert served.filter(F.col("rank") == 1).count() == newer.count()
    # and at least some neighbors come from the ORIGINAL corpus, proving
    # one index serves old + new together
    old_hits = served.filter(F.col("neighbor_id") < 400).count()
    new_hits = served.filter(F.col("neighbor_id") >= 400).count()
    assert old_hits > 0 and new_hits >= 0


def test_cli_ann_add(spark, tmp_path):
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    emb = _emb(spark)
    base_p = str(tmp_path / "base.parquet")
    new_p = str(tmp_path / "new.parquet")
    emb.filter(F.col("vec_id") < 400).write.parquet(base_p)
    emb.filter(F.col("vec_id") >= 400).write.parquet(new_p)
    idx = str(tmp_path / "cli_idx2")
    runner = CliRunner()
    res = runner.invoke(cli, [
        "corpus", "ann-build", base_p, idx, "--nlist", "8", "--m", "8",
        "--kcent", "8",
    ])
    assert res.exit_code == 0, res.output
    res = runner.invoke(cli, ["corpus", "ann-add", idx, new_p])
    assert res.exit_code == 0, res.output
    assert _json.loads(res.output)["versions"]["codes"] == 2


def test_rerank_read_prunes_to_probed_cells(spark, tmp_path):
    """The IVFADC+R refine must NOT scan the whole vectors table: its
    corpus read prunes to the probed cells' files (every shortlist
    neighbor came from a probed cell), and the pruned-read results are
    identical to a full-scan rerank."""
    from id3c_spark.operators.ann import _prep, exact_rerank
    from id3c_spark.plans.ann_index import _load_models
    from id3c_spark.operators.pq import _assign_topn, _normalized

    emb = _emb(spark)
    path = str(tmp_path / "idx5")
    build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2)
    t = _tables(spark, path)

    one = emb.orderBy("vec_id").limit(1)
    nprobe = 2
    # reproduce the serve-side probe decision
    coarse, _, _ = _load_models(spark, path)
    bcg = spark.sparkContext.broadcast(coarse)
    qn = _normalized(_prep(one, "vec_id", "embedding"))
    probed = sorted(
        {r.cell for r in _assign_topn(qn, bcg, nprobe).collect()}
    )
    n_files = len(t["vectors"].files())
    kept = t["vectors"].pruned_files_in("cell", probed)
    # the rerank scan's input files are a strict subset of the table
    assert set(kept) < set(t["vectors"].files())
    assert len(kept) < n_files

    # and the served rerank (pruned read) equals a full-scan rerank
    served = serve_topk(
        spark, path, one, k=2, nprobe=nprobe, rerank_shortlist=10
    )
    shortlist = serve_topk(spark, path, one, k=10, nprobe=nprobe)
    full_corpus = t["vectors"].read().select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    want = exact_rerank(
        qn.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding")),
        full_corpus,
        shortlist,
        k=2,
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_cached_index_builds_once_and_rebuilds_on_change(spark, tmp_path):
    """cached_index keys on (source fingerprint, params): a second call
    serves from disk without rebuilding (same path, same inodes), a
    param change builds a sibling, and stale fingerprints of the same
    corpus are pruned."""
    from id3c_spark.plans.ann_index import cached_index

    src = str(tmp_path / "corpus.parquet")
    _emb(spark).limit(200).write.parquet(src)
    root = str(tmp_path / "cache")

    p1 = cached_index(spark, src, nlist=4, m=8, kcent=8, cache_root=root)
    t = _tables(spark, p1)
    inodes = {os.path.basename(f): os.stat(f).st_ino for f in t["codes"].files()}
    p2 = cached_index(spark, src, nlist=4, m=8, kcent=8, cache_root=root)
    assert p2 == p1
    after = {os.path.basename(f): os.stat(f).st_ino for f in _tables(spark, p1)["codes"].files()}
    assert after == inodes  # untouched: no rebuild happened

    # different params → a different index; the old fingerprint survives
    # only until the SOURCE changes (prune is per corpus+fingerprint)
    p3 = cached_index(spark, src, nlist=8, m=8, kcent=8, cache_root=root)
    assert p3 != p1

    served = serve_topk(spark, p1, _emb(spark).limit(5), k=2, nprobe=4)
    assert served.count() > 0


def test_cached_index_self_heals_markerless_debris(spark, tmp_path):
    """A cache directory WITHOUT its _COMPLETE marker (crash debris from
    an interrupted build or prune) must not wedge the cache: the next
    call clears the debris, retries the atomic publish, and serves —
    rather than raising OSError forever until a human deletes the dir."""
    from id3c_spark.plans.ann_index import cached_index

    src = str(tmp_path / "corpus_heal.parquet")
    _emb(spark).limit(200).write.parquet(src)
    root = str(tmp_path / "cache_heal")

    p1 = cached_index(spark, src, nlist=4, m=8, kcent=8, cache_root=root)
    os.remove(os.path.join(p1, "_COMPLETE"))  # simulate interrupted publish

    p2 = cached_index(spark, src, nlist=4, m=8, kcent=8, cache_root=root)
    assert p2 == p1
    assert os.path.exists(os.path.join(p2, "_COMPLETE"))
    assert serve_topk(spark, p2, _emb(spark).limit(3), k=2, nprobe=4).count() > 0


def test_serve_topk_leaves_no_cached_blocks(spark, tmp_path):
    """Serving is leak-free: repeated serve_topk calls (with and without
    rerank) leave ZERO persisted RDDs behind — a long-lived serving
    session must not accumulate storage blocks per batch (r9 leak:
    qn/probe_vecs persisted and never released)."""
    from id3c_spark.operators.pq import ivfpq_topk

    emb = _emb(spark)
    path = str(tmp_path / "idx_leak")
    build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2)
    spark.catalog.clearCache()

    def n_cached():
        # unpersist is async (blocking=False): poll briefly before
        # reporting so the assertion doesn't race the block cleanup
        import time

        for _ in range(50):
            n = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
            if n == 0:
                return 0
            time.sleep(0.1)
        return n

    assert n_cached() == 0
    for _ in range(3):
        serve_topk(spark, path, emb.limit(10), k=2, nprobe=2).collect()
        serve_topk(
            spark, path, emb.limit(10), k=2, nprobe=2, rerank_shortlist=6
        ).collect()
    assert n_cached() == 0

    # the in-memory chain (training actions inside) releases its corpus
    # caches too once the result is computed
    ivfpq_topk(emb.limit(50), emb.limit(50), k=2, nlist=4, nprobe=2,
               m=8, kcent=8, train_iter=1).collect()
    assert n_cached() == 0


def test_adaptive_cell_splits_exact(spark, tmp_path):
    """cell_splits=None sizes splits from per-cell counts; forcing tiny
    split_rows shards every cell into many packs and the merged result
    must be EXACTLY the unsplit one (partial top-k per pack + global
    window)."""
    from id3c_spark.operators.ann import _prep
    from id3c_spark.operators.pq import (
        _adc_topk, _assign_topn, _normalized, _residuals, pq_encode, pq_train,
    )

    emb = _emb(spark).limit(120)
    vn = _normalized(_prep(emb, "vec_id", "embedding"))
    coarse = pq_train(vn, "id", "v", m=1, k=4, max_iter=1)
    bcg = spark.sparkContext.broadcast(coarse)
    cells = _assign_topn(vn, bcg, 1)
    enc = _residuals(vn, cells, bcg)
    books = pq_train(enc, "id", "v", m=8, k=8, max_iter=1, seed_salt=":pq")
    codes_cells = pq_encode(enc, books, "id", "v").join(cells, "id")
    probe_vecs = _assign_topn(vn, bcg, 2).join(vn, "id")

    base = _adc_topk(probe_vecs, codes_cells, books, bcg, k=3,
                     residual=True, cell_splits=1)
    forced = _adc_topk(probe_vecs, codes_cells, books, bcg, k=3,
                       residual=True, cell_splits=None, split_rows=7)
    assert sorted(map(tuple, forced.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_index_drift_report_flags_drifted_ingest(spark, tmp_path):
    """The rebuild policy is measurable: a freshly built index reports
    no drift; a concentrated ingest (many vectors landing in one cell —
    the hot-cell skew that defeats inverted-list pruning) pushes that
    cell's occupancy share past the threshold and flags rebuild."""
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli
    from id3c_spark.plans.ann_index import add_to_index, index_drift_report

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "idx_drift")
    build_index(base, path, nlist=8, m=8, kcent=8, train_iter=2)

    # baseline: the freshly built index reports itself as non-drifted
    rows = index_drift_report(spark, path).collect()
    assert rows and not any(r["rebuild"] for r in rows)
    assert all(abs(r["occupancy_ratio"] - 1.0) < 1e-6 for r in rows)
    # EXACTLY 1.0: _cell_stats aggregates int64 micros, so build-time
    # baseline and live recompute agree bit-for-bit on unchanged data —
    # a float avg's partition-order ulp used to sit on this boundary
    assert all(r["resid_ratio"] == 1.0 for r in rows)

    # drifted ingest: 500 near-copies of one corpus vector — they all
    # assign to its cell, whose occupancy SHARE balloons ~8/1.6×
    one = emb.filter(F.col("vec_id") == 0).select("embedding")
    drifted = (
        spark.range(10_000, 10_500)
        .crossJoin(one)
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    add_to_index(spark, path, drifted)
    rows = index_drift_report(spark, path).collect()
    assert any(r["rebuild"] for r in rows)

    # the CLI emits per-cell NDJSON + a final verdict row
    res = CliRunner().invoke(cli, ["corpus", "ann-drift", path])
    assert res.exit_code == 0, res.output
    lines = [_json.loads(line) for line in res.output.strip().splitlines()]
    assert lines[-1] == {"rebuild": True}
    assert {"cell", "occupancy_ratio", "resid_ratio", "rebuild"} <= set(lines[0])


def test_cli_ann_rebuild_respects_drift_policy(spark, tmp_path):
    """`corpus ann-rebuild` retrains only when the drift report flags
    (or --force): a fresh index is a no-op, a concentrated ingest
    triggers the rebuild, and the rebuilt index reports clean again."""
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli
    from id3c_spark.plans.ann_index import add_to_index, index_drift_report

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") < 300)
    src = str(tmp_path / "full.parquet")
    emb.write.parquet(src)
    path = str(tmp_path / "idx_rb")
    build_index(base, path, nlist=8, m=8, kcent=8, train_iter=2)
    runner = CliRunner()

    res = runner.invoke(cli, ["corpus", "ann-rebuild", path, src,
                              "--nlist", "8", "--m", "8", "--kcent", "8"])
    assert res.exit_code == 0, res.output
    assert _json.loads(res.output) == {"rebuilt": False, "flagged": False}

    one = emb.filter(F.col("vec_id") == 0).select("embedding")
    drifted = (
        spark.range(10_000, 10_500)
        .crossJoin(one)
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    add_to_index(spark, path, drifted)
    res = runner.invoke(cli, ["corpus", "ann-rebuild", path, src,
                              "--nlist", "8", "--m", "8", "--kcent", "8"])
    assert res.exit_code == 0, res.output
    out = _json.loads(res.output)
    assert out["rebuilt"] and out["flagged"]
    # the retrain lands via an atomic sibling-dir swap (never a
    # table-by-table publish into the live path), so the new index is a
    # fresh version-1 build and no swap debris remains
    assert out["versions"]["codes"] == 1
    siblings = [d for d in (tmp_path).iterdir()
                if d.name.startswith("idx_rb.")]
    assert siblings == []

    # post-rebuild the baseline is fresh: report is clean again
    rows = index_drift_report(spark, path).collect()
    assert rows and not any(r["rebuild"] for r in rows)


def test_multi_assign_lifts_probe_recall_and_dedups_pairs(spark, tmp_path):
    """assign_n=2 (r10-VERDICT #4): each corpus vector encodes into its
    top-2 cells — reranked recall@5 must beat single-assign at the same
    nprobe, every (query, neighbor) pair must appear exactly once (min
    ADC dist dedup), and add_to_index must honor the index's fan-out
    from the meta table."""
    from collections import Counter

    from id3c_spark.operators.ann import cosine_topk, exact_rerank
    from id3c_spark.plans.ann_index import _read_assign_n, add_to_index

    emb = _emb(spark)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, emb, k=5).collect()
    }

    def reranked_recall(path):
        short = serve_topk(spark, path, emb, k=20, nprobe=3)
        got = {
            (r.query_id, r.neighbor_id)
            for r in exact_rerank(emb, emb, short, k=5).collect()
        }
        return len(got & exact) / len(exact)

    p1 = str(tmp_path / "idx_a1")
    p2 = str(tmp_path / "idx_a2")
    build_index(emb, p1, nlist=8, m=8, kcent=16, train_iter=2, assign_n=1)
    build_index(emb, p2, nlist=8, m=8, kcent=16, train_iter=2, assign_n=2)

    t2 = _tables(spark, p2)
    assert _read_assign_n(spark, t2) == 2
    n = emb.count()
    assert t2["codes"].read().count() == 2 * n     # one row per (id, cell)
    assert t2["vectors"].read().count() == 2 * n
    # per-id cells are distinct (top-2, not the same cell twice)
    dup_cells = (
        t2["codes"].read().groupBy("id", "cell").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup_cells == 0

    # no duplicate pairs escape the min-dist dedup
    served = serve_topk(spark, p2, emb, k=5, nprobe=3).collect()
    pair_counts = Counter((r.query_id, r.neighbor_id) for r in served)
    assert max(pair_counts.values()) == 1

    r1, r2 = reranked_recall(p1), reranked_recall(p2)
    assert r2 > r1, f"multi-assign recall {r2} must beat single {r1}"

    # ingest honors the stored fan-out: 2 new rows per appended id
    batch = (
        spark.range(50_000, 50_020)
        .join(emb.limit(1).select("embedding"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    add_to_index(spark, p2, batch)
    assert t2["codes"].read().filter(F.col("id") >= 50_000).count() == 40

    # the fresh multi-assign baseline is drift-clean (like-for-like
    # multi-row stats on both sides)
    from id3c_spark.plans.ann_index import index_drift_report

    rows = index_drift_report(spark, p2).collect()
    assert rows and all(r["resid_ratio"] == 1.0 or r["n_now"] != r["n_built"]
                        for r in rows)


def test_adaptive_assign_ratio_prunes_interior_vectors(spark, tmp_path):
    """assign_ratio (r12): the secondary assignment survives only while
    its 6-dp squared L2 is <= ratio x the primary's — fan-out lands
    between 1x and the full assign_n, the primary row is ALWAYS kept,
    the cutoff is recorded in meta, and add_to_index ingests with the
    index's own cutoff (not full fan-out)."""
    from id3c_spark.plans.ann_index import (
        _read_assign_meta, add_to_index, serve_topk as _serve,
    )

    emb = _emb(spark)
    n = emb.count()
    p = str(tmp_path / "idx_ad")
    build_index(
        emb, p, nlist=8, m=8, kcent=16, train_iter=2,
        assign_n=2, assign_ratio=1.04,
    )
    t = _tables(spark, p)
    assert _read_assign_meta(spark, t) == (2, 1.04)
    rows = t["codes"].read().count()
    # adaptive: strictly fewer rows than full fan-out, at least one per id
    assert n < rows < 2 * n
    assert t["codes"].read().select("id").distinct().count() == n
    assert t["vectors"].read().count() == rows  # same kept (id, cell) set

    # serving still dedups pairs (multi-assign survivors can collide)
    from collections import Counter

    served = _serve(spark, p, emb, k=5, nprobe=3).collect()
    pair_counts = Counter((r.query_id, r.neighbor_id) for r in served)
    assert served and max(pair_counts.values()) == 1

    # ingest honors the stored cutoff: appended ids fan out adaptively,
    # every id present, none beyond assign_n rows
    batch = (
        spark.range(60_000, 60_040)
        .join(emb.limit(1).select("embedding"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    add_to_index(spark, p, batch)
    new = t["codes"].read().filter(F.col("id") >= 60_000)
    per_id = new.groupBy("id").count().collect()
    assert len(per_id) == 40
    assert all(1 <= r["count"] <= 2 for r in per_id)
    # identical duplicated embedding => identical fan-out decision per id
    assert len({r["count"] for r in per_id}) == 1


def test_assign_ratio_cache_key_and_legacy_key_stability(spark, tmp_path):
    """The params string appends ratio only when set: pre-adaptive
    cache keys are byte-identical to r11's (no spurious rebuilds), and
    a ratio change is a different key (never serves a mismatched
    index)."""
    from id3c_spark.plans.ann_index import _params_string

    legacy = _params_string(8, 16, 256, 2, 2, "vec_id", "embedding")
    assert legacy == "nlist=8,m=16,kcent=256,iters=2,assign=2,vec_id,embedding"
    with_ratio = _params_string(
        8, 16, 256, 2, 2, "vec_id", "embedding", assign_ratio=1.04
    )
    assert with_ratio == legacy + ",ratio=1.04"
    assert _params_string(
        8, 16, 256, 2, 2, "vec_id", "embedding", assign_ratio=1.07
    ) != with_ratio


def test_adaptive_index_drift_clean_and_rebuild_preserves_ratio(spark, tmp_path):
    """An adaptive-fan-out index's drift baseline is built over ITS OWN
    kept rows, so a fresh adaptive index reports exactly clean
    (resid_ratio 1.0, occupancy 1.0); and `corpus ann-rebuild` carries
    the live assign_ratio forward from meta when no override is given."""
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli
    from id3c_spark.plans.ann_index import _read_assign_meta, index_drift_report

    emb = _emb(spark)
    src = str(tmp_path / "src.parquet")
    emb.write.parquet(src)
    path = str(tmp_path / "idx_adr")
    build_index(emb, path, nlist=8, m=8, kcent=16, train_iter=2,
                assign_n=2, assign_ratio=1.04)

    rows = index_drift_report(spark, path).collect()
    assert rows and not any(r["rebuild"] for r in rows)
    assert all(r["resid_ratio"] == 1.0 for r in rows if r["n_built"])
    assert all(r["occupancy_ratio"] == 1.0 for r in rows if r["n_built"])

    runner = CliRunner()
    res = runner.invoke(cli, ["corpus", "ann-rebuild", path, src, "--force",
                              "--nlist", "8", "--m", "8", "--kcent", "16"])
    assert res.exit_code == 0, res.output
    assert _json.loads(res.output)["rebuilt"]
    t = _tables(spark, path)
    assert _read_assign_meta(spark, t) == (2, 1.04)
    n = emb.count()
    assert n < t["codes"].read().count() < 2 * n   # still adaptive fan-out


def test_fused_serve_matches_distributed_bitwise(spark, tmp_path, regime):
    """r15 fused single-task serving: the fused and staged regimes must be
    row-identical across ADC-only, IVFADC+R and multi-assign/adaptive
    index layouts (the min-dist pair dedup and the rerank refine run
    inside the fused task)."""
    emb = _emb(spark)
    for tag, build_kw, serve_kw in [
        ("plain", dict(nlist=8, m=8, kcent=8, train_iter=2),
         dict(k=3, nprobe=3)),
        ("multi", dict(nlist=8, m=8, kcent=8, train_iter=2, assign_n=2),
         dict(k=3, nprobe=3)),
        ("adaptive", dict(nlist=8, m=8, kcent=8, train_iter=2, assign_n=2,
                          assign_ratio=1.04),
         dict(k=3, nprobe=3)),
        ("rerank", dict(nlist=8, m=8, kcent=8, train_iter=2, assign_n=2),
         dict(k=2, nprobe=3, rerank_shortlist=10)),
    ]:
        path = str(tmp_path / f"idx_fsrv_{tag}")
        build_index(emb, path, **build_kw)
        with regime(True):
            fused = serve_topk(spark, path, emb, **serve_kw)
        with regime(False):
            dist = serve_topk(spark, path, emb, **serve_kw)
        f = sorted(map(tuple, fused.collect()))
        d = sorted(map(tuple, dist.collect()))
        assert f == d and f, tag


def test_fused_serve_plan_is_narrow(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "idx_fsrv_plan")
    build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2)
    served = serve_topk(spark, path, emb, k=3, nprobe=3)  # gate fires
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the sharded fused serve: codes/vectors ride a broadcast variable,
    # the only exchange is the tiny query-batch round-robin split that
    # spreads per-query scoring across the cluster, and scoring is one
    # MapInPandas stage (no joins, no window, no codes-side scan)
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_fused_exact_rerank_matches_distributed(spark, tmp_path, regime):
    """r15 fused exact_rerank: one tagged-union task vs the two
    equi-joins + window, on a file-backed candidate relation (the
    catalog's IVFADC+R composition shape)."""
    from id3c_spark.operators.ann import exact_rerank

    emb = _emb(spark)
    path = str(tmp_path / "idx_frr")
    build_index(emb, path, nlist=8, m=8, kcent=8, train_iter=2, assign_n=2)
    shortlist = serve_topk(spark, path, emb, k=10, nprobe=3)
    with regime(True):
        f = sorted(
            map(tuple, exact_rerank(emb, emb, shortlist, k=3).collect())
        )
    with regime(False):
        d = sorted(
            map(tuple, exact_rerank(emb, emb, shortlist, k=3).collect())
        )
    assert f == d and f
