"""r16 scale demonstration: push the fused operators' sources past the
AUTO_SHARD_BYTES gate and show (a) the plans flip to their distributed
banded/blocked/broadcast shapes and (b) the low/high-core ratio moves
above ~1 (at sf0.1 every fused query is deliberately single-task, so the
driver's 8-vs-32 block is ~1 BY DESIGN — this is the evidence that the
distributed shapes engage and scale once the data statistic says so).

Usage:
  python tools/scaling_big.py gen              # build /tmp/sfbig (seeded)
  python tools/scaling_big.py gates            # gate state + plan shuffles
  python tools/scaling_big.py run [names...]   # time queries (noop sink)
                                               # honors SPARK_GRAFT_CPUS

The synthetic tables are NOT oracle-checked (no oracle exists for them);
correctness at small SFs is the verify_local sweeps' job. This tool only
answers: does the gate route to the distributed shape past 16 MB, and
does that shape use added cores.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

BIG = "/tmp/sfbig"

QUERIES = [
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "prefix_jaccard_pairs",
    "pagerank_dup_docs",
    "shared_span_docs",
    "ivf_trained_topk_embeddings",
    "spectral_scores_embeddings",
    "srp_sketch_pairs",
    "orders_profile",
    "part_entity_resolution",
    "video_neardup_pairs_docs",
    # r16 session-2 fused paths
    "curation_pipeline_docs",
    "lm_cross_entropy_docs",
    "dsir_top_docs",
    "hashed_doc_embeddings",
]

#: the table each query's fuse gate stats (for the `gates` report)
GATE_SOURCE = {
    "ngram_jaccard_pairs": "documents",
    "minhash_lsh_pairs": "documents",
    "simhash_pairs": "documents",
    "prefix_jaccard_pairs": "documents",
    "pagerank_dup_docs": "documents",
    "shared_span_docs": "documents",
    "ivf_trained_topk_embeddings": "embeddings",
    "spectral_scores_embeddings": "embeddings",
    "srp_sketch_pairs": "embeddings",
    "orders_profile": "orders",
    "part_entity_resolution": "part",
    "video_neardup_pairs_docs": "documents",
    "curation_pipeline_docs": "documents",
    "lm_cross_entropy_docs": "documents",
    "dsir_top_docs": "documents",
    "hashed_doc_embeddings": "documents",
}


def gen() -> None:
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(BIG, exist_ok=True)
    rng = np.random.default_rng(42)

    def write_split(table: pa.Table, name: str, n_files: int) -> None:
        # multi-file layout: one ~50 MB single file scans as ONE split
        # (< maxPartitionBytes), serializing the first stage at any core
        # count — real >16 MB corpora are many-file, so the demo tables
        # are too
        d = f"{BIG}/{name}.parquet"
        shutil.rmtree(d, ignore_errors=True)
        if os.path.isfile(d):
            os.remove(d)
        os.makedirs(d, exist_ok=True)
        n = table.num_rows
        step = -(-n // n_files)
        for i in range(n_files):
            pq.write_table(
                table.slice(i * step, step), f"{d}/part-{i:03d}.parquet"
            )

    # documents: 40k docs x 200 words over a 5k-word alphabetic vocab so
    # shingle df stays low (pair volume linear); every 40th doc gets a
    # near-duplicate twin (last 10 words changed) so the dedup family
    # has real pairs to find
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array([
        "".join(rng.choice(letters, size=6)) for _ in range(5000)
    ])
    n_docs, doc_len = 40_000, 200
    words = vocab[rng.integers(0, len(vocab), size=(n_docs, doc_len))]
    for i in range(0, n_docs - 1, 40):
        words[i + 1] = words[i]
        words[i + 1, -10:] = vocab[rng.integers(0, len(vocab), size=10)]
    texts = [" ".join(row) for row in words]
    write_split(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([("en", "zh", "de")[i % 3] for i in range(n_docs)]),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), "documents", 32)

    # embeddings: 70k x 64 float32 (incompressible -> ~18 MB listed)
    n_vec = 70_000
    emb = rng.normal(size=(n_vec, 64)).astype(np.float32)
    write_split(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array([i % 10 for i in range(n_vec)], pa.int32()),
    }), "embeddings", 32)

    # part: 400k rows, 4000 brand blocks (~100/block keeps the blocked
    # levenshtein join meaningful but bounded), near-distinct names
    n_part = 500_000
    names = np.array([
        "".join(rng.choice(letters, size=40)) for _ in range(n_part)
    ])
    write_split(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"brand{i % 5000}" for i in range(n_part)]),
        "p_type": pa.array([f"type{i % 150}" for i in range(n_part)]),
        "p_size": pa.array([int(i % 50) + 1 for i in range(n_part)], pa.int32()),
        "p_retailprice": pa.array(
            np.round(rng.uniform(900, 2100, n_part), 2), pa.float64()
        ),
    }), "part", 16)

    # orders: replicate sf0.1 20x with remapped keys (lands past the gate
    # despite parquet dictionary compression)
    import duckdb

    otab = duckdb.sql(
        "SELECT o_orderkey + 10000000 * g.i AS o_orderkey, o_custkey,"
        " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        " FROM '/root/testdata/sf0.1/orders.parquet',"
        " (SELECT UNNEST(range(20)) AS i) g"
    ).arrow()
    write_split(otab.cast(otab.schema), "orders", 16)

    for tb in ("region", "nation", "customer", "supplier", "lineitem", "events"):
        shutil.copy(f"/root/testdata/sf0.1/{tb}.parquet", f"{BIG}/{tb}.parquet")
    for f in sorted(os.listdir(BIG)):
        p = f"{BIG}/{f}"
        size = os.path.getsize(p) if os.path.isfile(p) else sum(
            os.path.getsize(f"{p}/{g}") for g in os.listdir(p)
        )
        print(f, size)


def _catalog():
    from id3c_spark.plans.queries import all_queries

    return all_queries()


def gates() -> None:
    from id3c_spark.operators.ann import fits_one_task
    from id3c_spark.session import get_spark

    spark = get_spark("scaling_gates")
    catalog = _catalog()
    out = {}
    for name in QUERIES:
        src_tb = GATE_SOURCE[name]
        src = spark.read.parquet(f"{BIG}/{src_tb}.parquet")
        plan_big = spark._jvm.PythonSQLUtils.explainString(
            catalog[name](spark, BIG)._jdf.queryExecution(), "formatted"
        )
        plan_small = spark._jvm.PythonSQLUtils.explainString(
            catalog[name](spark, "/root/testdata/sf0.1")._jdf.queryExecution(),
            "formatted",
        )
        out[name] = {
            "gate_single_task_big": fits_one_task(src),
            "plan_shuffles_big": plan_big.count("Exchange ("),
            "plan_shuffles_sf01": plan_small.count("Exchange ("),
        }
        print(name, out[name], flush=True)
    with open("/tmp/scaling_gates.json", "w") as f:
        json.dump(out, f, indent=1)


def run(names) -> None:
    from id3c_spark.session import get_spark, session_defaults

    spark = get_spark("scaling_big")
    catalog = _catalog()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    out = {}
    for name in names or QUERIES:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"scaling_big: {name}")
        t0 = time.perf_counter()
        catalog[name](spark, BIG).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        print(name, out[name], flush=True)
    print(json.dumps({
        "cpus": session_defaults()[0], "queries": out
    }))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        gen()
    elif mode == "gates":
        gates()
    else:
        run(sys.argv[2:])
