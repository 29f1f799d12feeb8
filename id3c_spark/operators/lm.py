"""N-gram language-model operators for corpus quality filtering and
data selection (north-star family).

Two published techniques every large-scale training-data pipeline runs:

  - **Bigram LM cross-entropy scoring** (CCNet-style quality filtering,
    Wenzek et al. 2020 trained KenLM models and kept low-perplexity
    text): train an add-one-smoothed bigram model on the corpus itself
    and score each document by its per-bigram cross-entropy. Outlier
    documents (gibberish, boilerplate, wrong language) score high.
  - **DSIR importance reweighting** (Data Selection via Importance
    Resampling, Xie et al. 2023): represent target and raw corpora as
    hashed-unigram bucket distributions, weight each raw document by the
    log-likelihood ratio of its tokens under target vs raw, and keep the
    highest-weight documents. Hashing makes the feature space a fixed,
    tiny B — the whole model broadcasts.

The reference has no LM operators (closest analogue: the quality/manifest
QC filters, `/root/reference/lib/id3c/cli/command/manifest.py:533-589`);
these extend the corpus toolkit the same way dedup/decontamination do.

Scale shape (100 TB):
  - Bigrams are built ROW-LOCALLY with the zip_with shingle chain
    (functions/text.word_shingles) — no window/shuffle to pair adjacent
    tokens. The only corpus-grain shuffles are the count aggregations,
    all map-side combined, and the count-join back to bigram occurrences,
    keyed on the bigram/history — the canonical word-count shape.
  - The bigram/unigram count relations are vocabulary-sized, not
    corpus-sized; they shuffle-join (AQE may broadcast when small).
  - DSIR's model is exactly B rows (default 256) — broadcast both ways;
    the raw corpus is scanned twice (count pass, score pass) and never
    shuffled at token grain beyond the B-key map-side-combined agg.

Determinism for the DuckDB oracle (plans/queries.py discipline): per-item
log terms are rounded to 8 dp as DECIMAL(18,8) before the exact sum;
final scores rounded to 6 dp before ranking with id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.functions.text import word_shingles, words_array
from id3c_spark.operators.dedup import md5_bigint


def _tokens(docs: DataFrame, id_col: str, text_col: str, *extra: str) -> DataFrame:
    """(id, w [, extra…]): one exploded lowercase-alpha token per row."""
    return docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra],
        F.explode(words_array(F.col(text_col))).alias("w"),
    )


def _fused_bigram_counts(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Single-task distinct-(doc, bigram)-grain integer relation
    (id, n_occ, cbg, ch, vsz) for the stats-gated small regime:
    tokenization stays the words_array Spark expression, ONE mapInPandas
    pass builds bigram/history/vocab counts (guide §4.2 — a global
    factorize + the shared pairing-recode helper), and the transcendental
    tail (log, 8-dp round, decimal sum) stays the caller's Spark
    expressions — summing lp once per distinct bigram times its exact
    integer count is the same exact decimal arithmetic as summing it per
    occurrence."""
    from id3c_spark.operators.dedup import _np_shingle_occurrences

    src = docs.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("ws")
    ).coalesce(1)

    def run(batches):
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
        # vocabulary: distinct words over ALL tokens (countDistinct(w))
        lens = np.asarray([len(w) for w in ws_rows], dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return
        flat = np.empty(total, dtype=object)
        pos = 0
        for w in ws_rows:
            flat[pos:pos + len(w)] = w
            pos += len(w)
        wcodes, uniq = pd.factorize(flat)
        wcodes = wcodes.astype(np.int64)
        vsz = np.int64(len(uniq))
        rowi = np.repeat(np.arange(len(ws_rows), dtype=np.int64), lens)
        # bigram occurrences + their history (first word) occurrences
        occ_row, bgc = _np_shingle_occurrences(ws_rows, 2)
        if occ_row is None:
            return
        valid = rowi[:-1] == rowi[1:] if total > 1 else np.zeros(0, bool)
        w1 = wcodes[:-1][valid]          # history of each bigram occurrence
        ch = np.bincount(w1)             # c(w1 ·) over bigram occurrences
        cbg = np.bincount(bgc)           # c(w1 w2)
        # a bigram's history is a function of the bigram: record each
        # bigram code's w1 once (vectorized last-wins assignment — every
        # occurrence of a code carries the same w1)
        span = np.int64(bgc.max()) + 1
        w1_of = np.zeros(int(span), dtype=np.int64)
        w1_of[bgc] = w1
        # distinct (doc, bigram) with occurrence counts
        key = occ_row * span + bgc
        ukey, n_occ = np.unique(key, return_counts=True)
        di = (ukey // span).astype(np.int64)
        bi = ukey % span
        yield pd.DataFrame({
            "id": ids[di],
            "n_occ": n_occ.astype(np.int64),
            "cbg": cbg[bi].astype(np.int64),
            "ch": ch[w1_of[bi]].astype(np.int64),
            "vsz": np.full(len(di), vsz, dtype=np.int64),
        })

    t = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(
        run, f"id {t}, n_occ long, cbg long, ch long, vsz long"
    )


def bigram_lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on the corpus itself.

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1·) + V)

    where c(w1·) counts w1 as a bigram history and V is the corpus
    unigram vocabulary size. Returns (id, n_bigrams, cross_entropy) for
    every document with ≥ 2 alpha words; cross_entropy = −mean log P,
    lower = more typical text.

    Train and score are the same pass here (self-scoring, the common
    "filter the corpus against itself" mode); to score against a foreign
    reference corpus, compute `cb`/`c1`/`v` from that corpus instead —
    the plan shape is identical.

    Below the regime gate (ann.fits_one_task) the two count aggregates +
    count-joins collapse into ONE narrow mapInPandas stage emitting the
    distinct-(doc, bigram) integer relation; the
    log/8-dp-round/decimal-sum tail stays the SAME Spark expressions
    (n_occ · lp is the same exact decimal arithmetic as summing lp per
    occurrence), so the visible arithmetic is unchanged. The distributed
    shape below is untouched past the gate.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(docs, (id_col,)):
        rel = _fused_bigram_counts(docs, id_col, text_col)
        lp = F.round(
            F.log((F.col("cbg") + F.lit(1.0)) / (F.col("ch") + F.col("vsz"))), 8
        ).cast("decimal(18,8)")
        return (
            rel.groupBy("id")
            .agg(
                F.sum("n_occ").alias("n_bigrams"),
                # n_occ enters the product as decimal(10,0): a bare
                # long would coerce to decimal(20,0) and push the product
                # past precision 38, where Spark ROUNDS the scale away —
                # decimal(10,0)·decimal(18,8) = decimal(29,8), exact
                F.round(
                    -F.sum(F.col("n_occ").cast("decimal(10,0)") * lp)
                    .cast("double")
                    / F.sum("n_occ"),
                    6,
                ).alias("cross_entropy"),
            )
            .select(F.col("id").alias(id_col), "n_bigrams", "cross_entropy")
        )
    # Bigram occurrences, built row-locally (no shuffle): shingle k=2.
    bg = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), 2)).alias("bg"),
    ).withColumn("w1", F.substring_index("bg", " ", 1))
    cb = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("ch"))
    v = (
        _tokens(docs, id_col, text_col)
        .agg(F.countDistinct("w").alias("vsz"))
    )
    lp = F.round(
        F.log((F.col("cbg") + F.lit(1.0)) / (F.col("ch") + F.col("vsz"))), 8
    ).cast("decimal(18,8)")
    scored = (
        bg.join(cb, "bg")
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select("id", lp.alias("lp"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias(
            "cross_entropy"
        ),
    ).select(F.col("id").alias(id_col), "n_bigrams", "cross_entropy")


def _fused_dsir_counts(
    docs: DataFrame,
    is_target: Column,
    id_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Single-task distinct-(doc, bucket)-grain integer relation
    (id, n_occ, cr, ct, r, t) for the stats-gated small regime: ONE
    mapInPandas pass hashes distinct words (hashlib md5 == Spark's
    conv(substring(md5, 1, 7), 16, 10) on the same UTF-8 bytes), builds
    the B-bucket raw/target counts and the per-doc bucket occurrence
    counts; the log-ratio/8-dp-round/decimal-sum tail stays the caller's
    Spark expressions."""
    src = docs.select(
        F.col(id_col).alias("id"),
        is_target.alias("__t"),
        words_array(F.col(text_col)).alias("ws"),
    ).coalesce(1)
    nb = int(n_buckets)

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        id_rows, t_rows, ws_rows = [], [], []
        for pdf in batches:
            if len(pdf):
                id_rows.append(pdf["id"].to_numpy(np.int64))
                # null is_target counts as non-target, like the staged
                # when(__t, 1).otherwise(0)
                t_rows.append(
                    pdf["__t"].fillna(False).to_numpy(bool)
                )
                ws_rows.extend(
                    list(w) if w is not None else [] for w in pdf["ws"].tolist()
                )
        if not id_rows:
            return
        ids = np.concatenate(id_rows)
        is_t = np.concatenate(t_rows)
        lens = np.asarray([len(w) for w in ws_rows], dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return
        flat = np.empty(total, dtype=object)
        pos = 0
        for w in ws_rows:
            flat[pos:pos + len(w)] = w
            pos += len(w)
        wcodes, uniq = pd.factorize(flat)
        wcodes = wcodes.astype(np.int64)
        # md5 bucket per DISTINCT word, then gather per token
        bkt_of = np.asarray(
            [
                int(hashlib.md5(w.encode("utf-8")).hexdigest()[:7], 16) % nb
                for w in uniq
            ],
            dtype=np.int64,
        )
        rowi = np.repeat(np.arange(len(ws_rows), dtype=np.int64), lens)
        tok_bkt = bkt_of[wcodes]
        cr = np.bincount(tok_bkt, minlength=nb)
        ct = np.bincount(tok_bkt[is_t[rowi]], minlength=nb)
        r_tot = np.int64(cr.sum())
        t_tot = np.int64(ct.sum())
        # distinct (doc, bucket) occurrence counts
        key = rowi * np.int64(nb) + tok_bkt
        ukey, n_occ = np.unique(key, return_counts=True)
        di = (ukey // nb).astype(np.int64)
        bi = ukey % nb
        yield pd.DataFrame({
            "id": ids[di],
            "n_occ": n_occ.astype(np.int64),
            "cr": cr[bi].astype(np.int64),
            "ct": ct[bi].astype(np.int64),
            "r": np.full(len(di), r_tot, dtype=np.int64),
            "t": np.full(len(di), t_tot, dtype=np.int64),
        })

    t = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(
        run, f"id {t}, n_occ long, cr long, ct long, r long, t long"
    )


def dsir_top_docs(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    k: int = 50,
) -> DataFrame:
    """Top-k documents by DSIR importance weight toward a target slice.

    *is_target* is a boolean Column over `docs` marking the target
    distribution (e.g. `F.col("lang") == "en"`); weights are computed for
    ALL documents (target membership only shapes the model), so the
    caller can select from the raw pool however it likes.

    weight(d) = Σ_{w ∈ d} log( p_target(bucket(w)) / p_raw(bucket(w)) )
    with add-one-smoothed bucket probabilities over B md5-hash buckets.

    Returns (id, n_tokens, weight, rank), rank ≤ k by weight desc with
    id tiebreak.

    Below the regime gate (ann.fits_one_task) the token explode + B-key
    aggregate + totals + score join collapse into ONE narrow mapInPandas
    stage emitting the distinct-(doc, bucket) integer relation; the
    log-ratio/round/sum/rank tail stays the SAME Spark expressions.
    Distributed shape untouched past the gate.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(docs, (id_col,)):
        rel = _fused_dsir_counts(docs, is_target, id_col, text_col, n_buckets)
        lr = F.round(
            F.log(
                ((F.col("ct") + F.lit(1.0)) / (F.col("t") + F.lit(float(n_buckets))))
                / ((F.col("cr") + F.lit(1.0)) / (F.col("r") + F.lit(float(n_buckets))))
            ),
            8,
        ).cast("decimal(18,8)")
        sc = rel.groupBy("id").agg(
            F.sum("n_occ").alias("n_tokens"),
            # decimal(10,0)·decimal(18,8) = decimal(29,8) — exact
            # (a bare long would overflow precision 38 and round)
            F.round(
                F.sum(F.col("n_occ").cast("decimal(10,0)") * lr)
                .cast("double"),
                6,
            ).alias("weight"),
        )
        top = sc.orderBy(F.col("weight").desc(), F.col("id")).limit(k)
        w = Window.orderBy(F.col("weight").desc(), F.col("id"))
        return top.withColumn(
            "rank", F.row_number().over(w).cast("int")
        ).select(F.col("id").alias(id_col), "n_tokens", "weight", "rank")
    tk = _tokens(docs.withColumn("__t", is_target), id_col, text_col, "__t").select(
        "id", "__t", (md5_bigint(F.col("w")) % n_buckets).alias("bkt")
    )
    # ONE corpus-grain pass → B-row model: raw + target counts together.
    b = tk.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct"),
    )
    tot = b.agg(F.sum("cr").alias("r"), F.sum("ct").alias("t"))
    lr = F.round(
        F.log(
            ((F.col("ct") + F.lit(1.0)) / (F.col("t") + F.lit(float(n_buckets))))
            / ((F.col("cr") + F.lit(1.0)) / (F.col("r") + F.lit(float(n_buckets))))
        ),
        8,
    ).cast("decimal(18,8)")
    ratio = b.crossJoin(F.broadcast(tot)).select("bkt", lr.alias("lr"))
    sc = (
        tk.join(F.broadcast(ratio), "bkt")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr").cast("double"), 6).alias("weight"),
        )
    )
    top = sc.orderBy(F.col("weight").desc(), F.col("id")).limit(k)
    w = Window.orderBy(F.col("weight").desc(), F.col("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        F.col("id").alias(id_col), "n_tokens", "weight", "rank"
    )
