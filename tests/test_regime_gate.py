"""The one regime gate (ann.fits_one_task) and the contract it guards:
every operator with a fused single-task path returns the same schema
(names, order, types) from both regimes.

The contract test forces each regime through the `regime` fixture
(tests/conftest.py) and compares the schemas of the two plans on a
small file-backed input and on an empty one. Ids are `int`, not
`bigint`, so a fused path that hard-codes `long` ids shows up here.
"""

from __future__ import annotations

import random
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark.sql import functions as F

from id3c_spark.operators import (
    ann,
    clustering,
    dedup,
    embed,
    graph,
    linalg,
    lm,
    pq,
    profile,
    similarity,
    spans,
)
from id3c_spark.operators.ann import fits_one_task
from id3c_spark.plans import ann_index, curation

_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "a completely different sentence about spark plans and regimes",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "short text",
    "",
    None,
]


def _write(spark, base, name, rows, schema):
    path = str(base / name)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _inputs(spark, base, n):
    """File-backed inputs for every gated operator, *n* = 0 for the
    empty variant (same schemas, no rows)."""
    rnd = random.Random(5)
    docs = [
        (i, _TEXTS[i % len(_TEXTS)], f"src{i % 3 + 1}") for i in range(n)
    ]
    vecs = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(n)]
    edges = [(i, (i * 7 + 1) % n, round(rnd.random(), 6)) for i in range(n)]
    return SimpleNamespace(
        docs=_write(spark, base, "docs", docs,
                    "doc_id int, text string, source string"),
        vecs=_write(spark, base, "vecs", vecs,
                    "vec_id int, embedding array<float>"),
        pairs=_write(spark, base, "pairs", edges,
                     "id_a int, id_b int, w double"),
        seeds=_write(spark, base, "seeds", [(i,) for i in range(min(n, 2))],
                     "id int"),
        sketches=_write(
            spark, base, "sketches",
            [(i, rnd.getrandbits(63)) for i in range(n)], "id int, sketch long",
        ),
        cands=_write(
            spark, base, "cands", [(i, (i + 1) % n) for i in range(n)],
            "query_id int, neighbor_id int",
        ),
        entities=_write(
            spark, base, "entities",
            [(i, f"B{i % 2}", ["hot bolt", "hot bol", "zz"][i % 3])
             for i in range(n)],
            "id int, blk string, nm string",
        ),
    )


@pytest.fixture(scope="module")
def contract_inputs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("regime_contract")
    small = _inputs(spark, base / "small", 24)
    empty = _inputs(spark, base / "empty", 0)
    # models come from the small corpus; the empty variant serves and
    # scores an empty batch against them
    books = pq.pq_train(small.vecs, m=2, k=4, max_iter=1)
    index = str(base / "index")
    ann_index.build_index(small.vecs, index, nlist=4, m=2, kcent=4, train_iter=1)
    for inp in (small, empty):
        inp.books, inp.index = books, index
    return {"small": small, "empty": empty}


def _curate(i):
    bench = i.docs.filter(F.col("doc_id") % 5 == 0)
    rest = i.docs.filter(F.col("doc_id") % 5 != 0)
    return curation.curate_sampled_exact(rest, bench, sample_rates={"src1": 0.5})


#: every public operator that asks the gate, called on the inputs above
GATED = {
    # operators.ann
    "sketch_hamming_pairs": lambda s, i: ann.sketch_hamming_pairs(
        i.sketches, 64, 8, 7),
    "sketch_hamming_join": lambda s, i: ann.sketch_hamming_join(
        i.sketches, i.sketches, 64, 8, 7),
    "ivf_topk": lambda s, i: ann.ivf_topk(i.vecs, i.vecs, k=2, nlist=4),
    "ivf_trained_topk": lambda s, i: ann.ivf_trained_topk(
        i.vecs, i.vecs, k=2, nlist=4, nprobe=2, train_iter=1),
    "lsh_bucketed_topk": lambda s, i: ann.lsh_bucketed_topk(
        i.vecs, i.vecs, dim=8, k=2, planes=8, bands=4),
    "semantic_dedup": lambda s, i: ann.semantic_dedup(
        i.vecs, threshold=0.5, nlist=4),
    "exact_rerank": lambda s, i: ann.exact_rerank(i.vecs, i.vecs, i.cands, k=2),
    # operators.dedup
    "ngram_jaccard_pairs": lambda s, i: dedup.ngram_jaccard_pairs(
        i.docs, "doc_id", "text", threshold=0.3),
    "prefix_filter_jaccard_pairs": lambda s, i: dedup.prefix_filter_jaccard_pairs(
        i.docs, "doc_id", "text", threshold=0.5),
    "minhash_lsh_pairs": lambda s, i: dedup.minhash_lsh_pairs(
        i.docs, "doc_id", "text", threshold=0.3),
    "incremental_lsh_dedup": lambda s, i: dedup.incremental_lsh_dedup(
        i.docs, i.docs, "doc_id", "text", threshold=0.3),
    "simhash": lambda s, i: dedup.simhash(i.docs, "doc_id", "text"),
    "simhash_pairs": lambda s, i: dedup.simhash_pairs(i.docs, "doc_id", "text"),
    "ngram_containment_pairs": lambda s, i: dedup.ngram_containment_pairs(
        i.docs, "doc_id", "text"),
    # operators.clustering / operators.pq
    "kmeans": lambda s, i: clustering.kmeans(i.vecs, k=3, max_iter=1),
    "pq_train": lambda s, i: pq.pq_train(i.vecs, m=2, k=4, max_iter=1),
    "pq_topk": lambda s, i: pq.pq_topk(i.vecs, i.vecs, i.books, k=2),
    # operators.graph
    "pagerank": lambda s, i: graph.pagerank(i.pairs, iters=2),
    "pagerank_weighted": lambda s, i: graph.pagerank(
        i.pairs, iters=2, weight_col="w"),
    "triangle_count": lambda s, i: graph.triangle_count(i.pairs),
    "hop_distances": lambda s, i: graph.hop_distances(i.pairs, i.seeds, 2),
    "label_propagation": lambda s, i: graph.label_propagation(i.pairs, iters=2),
    "kcore": lambda s, i: graph.kcore(i.pairs, rounds=2),
    # operators.embed / lm / profile / similarity / spans / linalg
    "hashed_doc_embeddings": lambda s, i: embed.hashed_doc_embeddings(
        i.docs, "doc_id", "text", dim=8),
    "bigram_lm_score": lambda s, i: lm.bigram_lm_score(i.docs),
    "dsir_top_docs": lambda s, i: lm.dsir_top_docs(
        i.docs, F.col("source") == "src1", n_buckets=16, k=5),
    "profile_table": lambda s, i: profile.profile_table(i.docs),
    "entity_resolution": lambda s, i: similarity.entity_resolution(
        i.entities, "id", "nm", "blk", 2),
    "shared_span_pairs": lambda s, i: spans.shared_span_pairs(
        i.docs, k=2, min_words=3),
    "principal_direction": lambda s, i: linalg.principal_direction(
        i.vecs, dim=8, iters=2),
    "spectral_scores": lambda s, i: linalg.spectral_scores(
        i.vecs, dim=8, iters=2),
    # plans
    "curate_sampled_exact": lambda s, i: _curate(i),
    "serve_topk": lambda s, i: ann_index.serve_topk(
        s, i.index, i.vecs, k=2, nprobe=2),
    "serve_topk_rerank": lambda s, i: ann_index.serve_topk(
        s, i.index, i.vecs, k=2, nprobe=2, rerank_shortlist=4),
}


def _shape(spark, op, inp):
    """What the two regimes must agree on: the schema of a DataFrame
    (names, order, types — not nullability), the shape and dtype of a
    model array (pq_train), or the error an empty corpus raises."""
    try:
        out = GATED[op](spark, inp)
    except pq.EmptyCorpusError as e:
        return ("raises", type(e))
    if isinstance(out, np.ndarray):
        return ("ndarray", out.shape, out.dtype)
    return [(f.name, f.dataType) for f in out.schema.fields]


@pytest.mark.parametrize("size", ["small", "empty"])
@pytest.mark.parametrize("op", sorted(GATED))
def test_fused_schema_equals_staged_schema(spark, contract_inputs, regime, op, size):
    inp = contract_inputs[size]
    with regime(True):
        fused = _shape(spark, op, inp)
    with regime(False):
        staged = _shape(spark, op, inp)
    assert fused == staged


def test_fits_one_task(spark, sf_dir, tmp_path, monkeypatch):
    """Every case the per-module gates checked, on the one gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert fits_one_task(docs, ("doc_id",))
    # derived frames keep their file lineage
    assert fits_one_task(docs.filter(F.col("doc_id") % 2 == 0), ("doc_id",))
    # in-memory frames keep the distributed path
    mem = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert not fits_one_task(mem, ("doc_id",))
    assert not fits_one_task(mem)
    # non-integral id columns keep the distributed path
    sdocs = docs.select(F.col("doc_id").cast("string").alias("sid"), "text")
    assert not fits_one_task(sdocs, ("sid",))
    # weight columns must be double
    path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.25)], "id_a long, id_b long, w double"
    ).write.parquet(path)
    pairs = spark.read.parquet(path)
    assert fits_one_task(pairs, ("id_a", "id_b"), ("w",))
    assert not fits_one_task(pairs, ("id_a", "id_b"), ("id_a",))
    # an empty but file-backed frame fits (the fused task still runs)
    epath = str(tmp_path / "empty")
    pairs.limit(0).coalesce(1).write.parquet(epath)
    assert fits_one_task(spark.read.parquet(epath), ("id_a", "id_b"))
    # oversize: listed bytes past AUTO_SHARD_BYTES keep the distributed path
    size = ann.source_bytes(pairs)
    monkeypatch.setattr(ann, "AUTO_SHARD_BYTES", size)
    assert fits_one_task(pairs)
    monkeypatch.setattr(ann, "AUTO_SHARD_BYTES", size - 1)
    assert not fits_one_task(pairs)
