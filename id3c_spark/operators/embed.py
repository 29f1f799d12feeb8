"""Model-free document embeddings by feature hashing (Weinberger et al.
2009) — the bridge from a text corpus to the vector operator family
(ANN, semantic dedup, k-means, margin mining) when no learned encoder
is available or allowed.

Each word hashes to one of *dim* buckets with an md5-derived ±1 sign;
a document's vector is the signed bucket-count vector, L2-normalized.
Inner products of these sketches approximate vocabulary overlap, so
near-duplicate and topically-close documents land close in cosine —
the classic hashing-trick bag-of-words, with the md5 construction the
rest of the repo uses for engine-replayable pseudo-randomness.

Scale shape: explode words → (id, bucket, ±1) → ONE id,bucket-keyed
sum (map-side combined, exact integers) → a 64-row-per-doc grid join +
row-local normalize. No vocabulary is built or shipped; memory is
O(dim) per document regardless of corpus size. Everything is exact
integer arithmetic until one double division per (doc, dim), so the
catalog oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from id3c_spark.functions.text import words_array
from id3c_spark.operators.dedup import md5_bigint


def _fused_hash_counts(
    df: DataFrame, id_col: str, text_col: str, dim: int
) -> DataFrame:
    """Single-task DENSE (id, dim, s, nrm2) integer grid for the
    stats-gated small regime: ONE mapInPandas pass factorizes the words,
    hashes each DISTINCT word once (hashlib md5 == Spark's
    conv(substring(md5, 1, 7), 16, 10) on the same UTF-8 bytes), and
    accumulates the signed bucket counts + per-doc squared norm as exact
    integers; the division/sqrt/6-dp-round stay the caller's Spark
    expressions. Every input row emits all *dim* rows (the staged grid
    join's all-zero rows for wordless docs included). The id column
    keeps the source id type, as the staged path does."""
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("ws")
    ).coalesce(1)

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        id_rows, ws_rows = [], []
        for pdf in batches:
            if len(pdf):
                id_rows.append(pdf["id"].to_numpy(np.int64))
                ws_rows.extend(
                    list(w) if w is not None else [] for w in pdf["ws"].tolist()
                )
        if not id_rows:
            return
        ids = np.concatenate(id_rows)
        nrows = len(ids)
        lens = np.asarray([len(w) for w in ws_rows], dtype=np.int64)
        total = int(lens.sum())
        grid = np.zeros((nrows, dim), dtype=np.int64)
        if total:
            flat = np.empty(total, dtype=object)
            pos = 0
            for w in ws_rows:
                flat[pos:pos + len(w)] = w
                pos += len(w)
            wcodes, uniq = pd.factorize(flat)
            wcodes = wcodes.astype(np.int64)
            bkt = np.empty(len(uniq), dtype=np.int64)
            sgn = np.empty(len(uniq), dtype=np.int64)
            for i, w in enumerate(uniq):
                wb = w.encode("utf-8")
                bkt[i] = int(
                    hashlib.md5(wb).hexdigest()[:7], 16
                ) % dim
                sgn[i] = (
                    1
                    if int(
                        hashlib.md5(b"sg:" + wb).hexdigest()[:7], 16
                    ) % 2 == 0
                    else -1
                )
            rowi = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            np.add.at(
                grid, (rowi, bkt[wcodes]), sgn[wcodes]
            )
        nrm2 = (grid * grid).sum(axis=1)
        yield pd.DataFrame({
            "id": np.repeat(ids, dim),
            "dim": np.tile(np.arange(dim, dtype=np.int32), nrows),
            "s": grid.reshape(-1),
            "nrm2": np.repeat(nrm2, dim),
        })

    return src.mapInPandas(run, f"id {id_type}, dim int, s long, nrm2 long")


def hashed_doc_embeddings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
) -> DataFrame:
    """(id, dim, v): L2-normalized signed hashed bag-of-words, one row
    per (document, dimension) — exploded form so downstream packing /
    comparison is layout-free. Documents with no words emit all-zero
    rows.

    Below the regime gate (ann.fits_one_task) the explode + (id, bucket)
    aggregate + grid/norm joins collapse into ONE narrow mapInPandas
    stage emitting the dense integer grid; the normalize (division,
    sqrt, 6-dp round) stays the SAME Spark expression. Distributed
    shape untouched past the gate."""
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        rel = _fused_hash_counts(df, id_col, text_col, dim)
        return rel.select(
            "id",
            "dim",
            F.round(
                F.when(
                    F.col("nrm2") > 0,
                    F.col("s").cast("double")
                    / F.sqrt(F.col("nrm2").cast("double")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("v"),
        )
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(words_array(F.col(text_col))).alias("w"),
    )
    sign = F.when(
        md5_bigint(F.concat(F.lit("sg:"), F.col("w"))) % 2 == 0, 1
    ).otherwise(-1)
    v = (
        words.select(
            "id", (md5_bigint(F.col("w")) % F.lit(dim)).alias("bucket"),
            sign.alias("sign"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("sign").alias("s"))
    )
    n2 = v.groupBy("id").agg(F.sum(F.col("s") * F.col("s")).alias("nrm2"))
    grid = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim"),
    )
    return (
        grid.join(v, (grid["id"] == v["id"]) & (grid["dim"] == v["bucket"]), "left")
        .select(grid["id"], grid["dim"], F.coalesce(v["s"], F.lit(0)).alias("s"))
        .join(n2, "id", "left")
        .select(
            "id",
            "dim",
            F.round(
                F.when(
                    F.col("nrm2") > 0,
                    F.col("s").cast("double")
                    / F.sqrt(F.col("nrm2").cast("double")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("v"),
        )
    )
