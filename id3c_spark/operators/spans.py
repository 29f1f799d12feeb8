"""Shared-substring (duplicate-span) detection between documents.

Document-level near-dup (MinHash/SimHash, operators/dedup.py) misses
*partial* duplication — boilerplate headers, quoted passages, licence
blocks — which substring-level dedup removes (the approach popularized
for LLM corpora by suffix-array dedup; this is the distributed k-gram
formulation of the same idea). The reference's closest analogue is the
manifest content-hash diff (whole-record identity); this generalizes to
maximal shared word-level spans.

Algorithm (all DataFrame ops, one self-join + one window):
  1. positional k-word shingles per doc: (id, pos, h = md5(shingle))
  2. document-frequency cap drops boilerplate-of-the-corpus shingles
     whose posting lists would make the self-join quadratic (same
     stop-shingle discipline as dedup.ngram_jaccard_pairs)
  3. self-join on h (id_a < id_b): each match is a point on an alignment
     diagonal d = pos_a − pos_b
  4. islands-and-gaps per (id_a, id_b, d): consecutive pos_a runs merge
     into maximal spans; a run of m matched k-shingles covers m+k−1 words
  5. keep spans ≥ min_words

Scale: the join shuffles on shingle hash (uniform md5 keys, AQE splits
stragglers), the window shuffles on (id_a, id_b, d) — both well-keyed;
no driver materialization, no UDFs. The df-cap bounds per-key fanout the
way prefix filtering bounds SSJoin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.operators.dedup import _exploded_shingles


def positional_shingles(
    docs: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """(id, pos, h): 1-based shingle start position and md5 hash — built on
    the codegen explode+window shingle relation (see dedup.py), not the
    interpreted per-row HOF."""
    return _exploded_shingles(docs, id_col, text_col, k, with_pos=True).select(
        "id", (F.col("pos") + 1).cast("int").alias("pos"), F.md5("sh").alias("h")
    )


def _fused_span_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_words: int,
    max_df: int | None,
) -> DataFrame:
    """Single-task mirror of shared_span_pairs for the stats-gated small
    regime: tokenization stays a Spark expression (words_array —
    identical lexing by construction), then ONE mapInPandas pass
    shingles positionally, md5-hashes (hashlib == Spark md5 bit-exact),
    applies the distinct-doc-frequency stop-cap, joins occurrences on
    hash with id_a < id_b, and merges alignment-diagonal islands —
    replacing the shingle exchange + df aggregate + anti-join +
    self-join + islands window (9 exchanges). Same integer positions,
    same run-length island rule (grp = pos_a − row_number over
    (id_a, id_b, d) ordered by pos_a), same ≥ min_words filter."""
    import hashlib

    from id3c_spark.functions.text import words_array

    src = docs.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("ws")
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        vocab: dict = {}
        di_parts, pos_parts, si_parts = [], [], []
        for pdf in batches:
            for rid, ws in zip(pdf["id"], pdf["ws"]):
                ws = list(ws)
                rid = int(rid)
                for i in range(len(ws) - k + 1):
                    h = hashlib.md5(
                        " ".join(ws[i:i + k]).encode()
                    ).hexdigest()
                    code = vocab.setdefault(h, len(vocab))
                    di_parts.append(rid)
                    pos_parts.append(i + 1)  # 1-based, like the +1 cast
                    si_parts.append(code)
        if not vocab:
            return
        di = np.asarray(di_parts, dtype=np.int64)
        pos = np.asarray(pos_parts, dtype=np.int64)
        si = np.asarray(si_parts, dtype=np.int64)
        if max_df is not None:
            # df = countDistinct(id) per hash, like the stop aggregate
            o = np.lexsort((di, si))
            ds, ss = di[o], si[o]
            first = np.r_[True, (ds[1:] != ds[:-1]) | (ss[1:] != ss[:-1])]
            dfreq = np.bincount(ss[first], minlength=len(vocab))
            keep = dfreq[si] <= max_df
            di, pos, si = di[keep], pos[keep], si[keep]
            if not len(di):
                return
        # occurrence join on hash, id_a < id_b (strict, so same-doc and
        # same-id matches drop exactly like the staged filter)
        o = np.argsort(si, kind="stable")
        sdi, spos, ssi = di[o], pos[o], si[o]
        starts = np.flatnonzero(np.r_[True, ssi[1:] != ssi[:-1]])
        ends = np.r_[starts[1:], len(ssi)]
        ida_p, idb_p, pa_p, pb_p = [], [], [], []
        for s, e in zip(starts, ends):
            g = e - s
            if g < 2:
                continue
            gi = np.repeat(np.arange(s, e - 1), np.arange(g - 1, 0, -1))
            gj = np.concatenate(
                [np.arange(j + 1, e) for j in range(s, e - 1)]
            )
            a_lt = sdi[gi] < sdi[gj]
            b_lt = sdi[gj] < sdi[gi]
            ida_p.append(np.r_[sdi[gi][a_lt], sdi[gj][b_lt]])
            idb_p.append(np.r_[sdi[gj][a_lt], sdi[gi][b_lt]])
            pa_p.append(np.r_[spos[gi][a_lt], spos[gj][b_lt]])
            pb_p.append(np.r_[spos[gj][a_lt], spos[gi][b_lt]])
        if not ida_p:
            return
        ida = np.concatenate(ida_p)
        idb = np.concatenate(idb_p)
        pa = np.concatenate(pa_p)
        pb = np.concatenate(pb_p)
        d = pa - pb
        # islands per (id_a, id_b, d): sorted by pos_a, a run of
        # consecutive positions shares pos_a − rank — the window's grp
        o = np.lexsort((pa, d, idb, ida))
        ida, idb, pa, d = ida[o], idb[o], pa[o], d[o]
        new_grp = np.r_[
            True,
            (ida[1:] != ida[:-1]) | (idb[1:] != idb[:-1]) | (d[1:] != d[:-1]),
        ]
        grp_start = np.flatnonzero(new_grp)
        grp_sizes = np.diff(np.r_[grp_start, len(ida)])
        rn = np.arange(len(ida)) - np.repeat(grp_start, grp_sizes) + 1
        island_key = pa - rn
        new_isl = new_grp | np.r_[False, island_key[1:] != island_key[:-1]]
        isl_start = np.flatnonzero(new_isl)
        isl_sizes = np.diff(np.r_[isl_start, len(ida)])
        len_words = isl_sizes + (k - 1)
        keep = len_words >= min_words
        s0 = isl_start[keep]
        yield pd.DataFrame({
            "id_a": ida[s0],
            "id_b": idb[s0],
            "start_a": pa[s0].astype(np.int32),
            "start_b": (pa[s0] - d[s0]).astype(np.int32),
            "len_words": len_words[keep].astype(np.int32),
        })

    t = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(
        run, f"id_a {t}, id_b {t}, start_a int, start_b int, len_words int"
    )


def shared_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_words: int = 8,
    max_df: int | None = 200,
) -> DataFrame:
    """Maximal shared word spans between document pairs.

    Returns (id_a, id_b, start_a, start_b, len_words) with
    len_words >= min_words; start positions are 1-based word offsets.

    Below the regime gate (ann.fits_one_task) the whole
    shingle/df-cap/join/islands chain runs in a single narrow
    mapInPandas stage (_fused_span_pairs); anything
    larger keeps the distributed hash-keyed join below.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(docs, (id_col,)):
        return _fused_span_pairs(docs, id_col, text_col, k, min_words, max_df)
    # The shingle relation feeds the df-cap aggregate AND both sides of
    # the self-join — share it through ONE explicit Exchange(h) rather
    # than a persist (the return is lazy, so a cache here could never be
    # released): the hot-hash aggregate, the broadcast anti-join, and
    # both join sides all sit ABOVE the identical exchange, so the
    # explode+window+md5 pass (the dominant per-row cost) is a single
    # ReusedExchange per action and the h-keyed equi-join needs no
    # further shuffle.
    sh = positional_shingles(docs, id_col, text_col, k).repartition("h")
    if max_df is not None:
        hot = sh.groupBy("h").agg(F.countDistinct("id").alias("df")).filter(
            F.col("df") > max_df
        )
        sh = sh.join(F.broadcast(hot.select("h")), "h", "left_anti")

    a = sh.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
    b = sh.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "h")
    hits = a.join(b, "h").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pos_a", "pos_b", (F.col("pos_a") - F.col("pos_b")).alias("d")
    )

    w = Window.partitionBy("id_a", "id_b", "d").orderBy("pos_a")
    runs = hits.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    spans = (
        runs.groupBy("id_a", "id_b", "d", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + (k - 1)).cast("int").alias("len_words"),
        )
        .filter(F.col("len_words") >= min_words)
        .select("id_a", "id_b", "start_a", "start_b", "len_words")
    )
    return spans
