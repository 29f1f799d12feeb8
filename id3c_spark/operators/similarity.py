"""Barcode similarity join + identifier minting (SURVEY §2.3, §2.9).

Reference: candidate barcodes must be Hamming ≥ 3 from every existing
barcode; a positional-2-gram ("slices") prefilter blocks the O(n²) scan
(schema/deploy/warehouse/identifier/triggers/barcode-distance-check.sql:35-46,
design: dev/doc/01-barcode-slices.md). Minting loops insert→check→retry
(schema/deploy/functions/mint_identifiers.sql:5-55, caller
lib/id3c/db/__init__.py:36-76) under an exclusive table lock.

Spark shape: the *same blocking algorithm*, as explode → equi-join on the
slice key → distinct candidate pairs → vectorized Hamming refine. The
slices prefilter is complete for distance < 3 (see functions.strings.
barcode_slices), so results equal the brute-force cross join — the oracle
checks exactly that. Minting becomes a driver loop of set-oriented rounds
(generate k·n candidates → one blocked join → keep survivors), replacing
the row-at-a-time lock with single-writer batch semantics.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from id3c_spark.functions.strings import barcode_slices, hamming_distance


def _exploded_slices(df: DataFrame, code_col: str, side: str) -> DataFrame:
    return df.select(
        F.col(code_col).alias(f"{side}_code"),
        F.explode(barcode_slices(F.col(code_col))).alias("slice"),
    )


def hamming_close_pairs(
    left: DataFrame,
    right: DataFrame,
    code_col: str = "barcode",
    max_distance: int = 2,
) -> DataFrame:
    """All (l_code, r_code, distance) pairs with Hamming ≤ max_distance.

    Complete for max_distance ≤ 2 with width-2 overlapping slices on
    8-char codes (pigeonhole: 2 mismatches kill ≤ 4 of 7 slices).
    Each side scans once; the join shuffles (slice, code) pairs only.
    """
    ls = _exploded_slices(left, code_col, "l")
    rs = _exploded_slices(right, code_col, "r")
    cand = (
        ls.join(rs, "slice")
        .select("l_code", "r_code")
        .distinct()
    )
    return cand.withColumn(
        "distance", hamming_distance(F.col("l_code"), F.col("r_code"))
    ).filter(F.col("distance") <= max_distance)


def conflicting_candidates(
    candidates: DataFrame, existing: DataFrame, code_col: str = "barcode", min_distance: int = 3,
) -> DataFrame:
    """Candidate codes too close (Hamming < min_distance) to an existing
    code OR to another candidate — the exact rejection set of the
    barcode-distance-check trigger."""
    vs_existing = hamming_close_pairs(candidates, existing, code_col, min_distance - 1)
    vs_self = hamming_close_pairs(candidates, candidates, code_col, min_distance - 1).filter(
        F.col("l_code") != F.col("r_code")
    )
    return (
        vs_existing.select(F.col("l_code").alias(code_col))
        .unionByName(vs_self.select(F.col("l_code").alias(code_col)))
        .unionByName(vs_self.select(F.col("r_code").alias(code_col)))
        .distinct()
    )


def mint_identifiers(
    spark: SparkSession,
    existing: DataFrame,
    n: int,
    identifier_set_id: int,
    seed: str = "mint",
    overgen: int = 4,
    max_rounds: int = 10,
) -> DataFrame:
    """Mint n new identifiers whose barcodes keep pairwise Hamming ≥ 3.

    Deterministic given ``seed``: uuid bytes come from md5(seed, round, i).
    Each round generates overgen·n candidates, rejects conflicts with ONE
    blocked similarity join, keeps survivors; loops until n minted
    (mint_identifiers.sql retry-loop parity, instrumented the same way:
    tries / failures per round).
    """
    minted = spark.createDataFrame([], "uuid string, barcode string, identifier_set_id bigint")
    stats = {"tries": 0, "failures": 0, "rounds": 0}
    rnd = 0
    while minted.count() < n and rnd < max_rounds:
        want = (n - minted.count()) * overgen
        rows = []
        for i in range(want):
            h = hashlib.md5(f"{seed}:{rnd}:{i}".encode()).hexdigest()
            uuid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
            rows.append((uuid, uuid[-8:], identifier_set_id))
        cands = spark.createDataFrame(rows, "uuid string, barcode string, identifier_set_id bigint").dropDuplicates(["barcode"])
        pool = existing.select("barcode").unionByName(minted.select("barcode"))
        bad = conflicting_candidates(cands.select("barcode"), pool)
        ok = cands.join(bad, "barcode", "left_anti")
        # self-conflicts within the surviving batch, keep first by barcode order
        self_bad = hamming_close_pairs(ok.select("barcode"), ok.select("barcode"), max_distance=2).filter(
            F.col("l_code") < F.col("r_code")
        )
        ok = ok.join(self_bad.select(F.col("r_code").alias("barcode")), "barcode", "left_anti")
        take = ok.orderBy("barcode").limit(n - minted.count())
        kept = take.count()
        stats["tries"] += want
        stats["failures"] += want - kept
        stats["rounds"] += 1
        minted = minted.unionByName(take.select("uuid", "barcode", "identifier_set_id"))
        rnd += 1
    minted = minted.withColumn("generated", F.current_timestamp())
    # mint_identifiers.sql:42-46 perf-notice parity
    import logging
    logging.getLogger(__name__).info("id3c_minting_performance::%s", stats)
    return minted


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """(id_a < id_b, dist) — near-duplicate strings by Levenshtein
    distance in (0, max_distance], within *block_col* blocks.

    The generalization of hamming_close_pairs to variable-length edits
    (fuzzy product/name matching). Blocking is an equi-join on
    block_col, so the shuffle is keyed and each block's candidate set is
    local; a |len(a) − len(b)| ≤ max_distance prefilter (implied by the
    distance bound, so it never changes the result) prunes candidates
    before the O(len²) DP, and levenshtein's threshold form lets Spark
    abandon a row early once the bound is exceeded. Distance-0 rows
    (identical strings) are excluded — exact duplicates belong to
    exact_dedup, this operator reports the *near* misses.

    At 100 TB the block key choice carries the cost: a key giving blocks
    of b rows costs Σ b²/2 DPs; skewed blocks should be pre-split
    (operators.skew.salted_join) or sub-blocked on a length band.
    """
    a = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
    )
    # Spread the probe side when the input arrives in fewer partitions
    # than the cluster can run: with a broadcast build side the join's
    # parallelism is exactly the probe partitioning, and a compact dim
    # table often reads as ONE parquet split (measured 3.4× on the
    # part-name query: 5.7 s → 1.7 s at sf0.1, 1 input partition).
    par = df.sparkSession.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
    )
    # thresholded form: banded O(len·k) DP with early abandon, returns
    # -1 past the bound — for surviving pairs it equals the exact
    # distance, so the result is unchanged (measured ~1.6× faster than
    # the unbounded DP on the part-name catalog query)
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance)
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("_ta") - F.length("_tb")) <= F.lit(max_distance)
        )
        .filter(F.col("_ta") != F.col("_tb"))
        .filter(dist >= 0)
        .select("id_a", "id_b", dist.alias("dist"))
    )


def _np_levenshtein(a_names: list, b_names: list, k: int):
    """Exact numpy mirror of Spark's levenshtein over name PAIRS
    (a_names[i] vs b_names[i]), vectorized across the pair axis:
    unit-cost DP over CODE POINTS (UTF8String.levenshteinDistance
    compares code points, as does Python ord — pinned on unicode edge
    cases in tests). Returns the exact distance; values > k are only
    guaranteed to be > k (callers threshold at k, like the -1 of
    Spark's thresholded form)."""
    import numpy as np

    p = len(a_names)
    la = np.asarray([len(s) for s in a_names], dtype=np.int32)
    lb = np.asarray([len(s) for s in b_names], dtype=np.int32)
    maxa, maxb = (int(la.max()), int(lb.max())) if p else (0, 0)
    # code-point matrices with DISTINCT pads (-1/-2): padded cells only
    # feed DP cells right of / below the (la, lb) gather point
    A = np.full((p, maxa), -1, dtype=np.int32)
    B = np.full((p, maxb), -2, dtype=np.int32)
    for i, s in enumerate(a_names):
        A[i, : len(s)] = [ord(ch) for ch in s]
    for i, s in enumerate(b_names):
        B[i, : len(s)] = [ord(ch) for ch in s]
    prev = np.tile(np.arange(maxb + 1, dtype=np.int32), (p, 1))
    res = np.where(la == 0, lb, 0).astype(np.int32)
    rows = np.arange(p)
    for i in range(1, maxa + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        ai = A[:, i - 1]
        for j in range(1, maxb + 1):
            cost = (ai != B[:, j - 1]).astype(np.int32)
            cur[:, j] = np.minimum(
                np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                prev[:, j - 1] + cost,
            )
        hit = la == i
        if hit.any():
            res[hit] = cur[rows[hit], lb[hit]]
        prev = cur
    return res


def _fused_entity_resolution(
    df: DataFrame, id_col: str, text_col: str, block_col: str,
    max_distance: int,
) -> DataFrame:
    """Single-task mirror of the full MDM composition for the
    stats-gated small regime: (exact-name ∪ Levenshtein ≤ k) pairs
    within blocks → min-id connected components → canonical record +
    member count — all in ONE narrow mapInPandas task, replacing the
    blocked self-joins + union distinct + the components probe's eager
    pair-pipeline job + count/attach aggregates.

    The trick making the task cheap: pairing semantics only depend on
    DISTINCT (block, name) groups. Name-level candidates are prefiltered
    per block by |len diff| <= k and a code-point-count GEMM bound
    (each edit moves the count vector by L2 <= sqrt(2), so ED <= k
    implies squared-L2 <= 2k² — a pure necessary condition, results
    unchanged), surviving name pairs get the exact _np_levenshtein DP,
    and components run over group super-nodes: ids in one (block, name)
    group are pairwise connected (size >= 2), near name pairs connect
    whole groups, and a singleton group with no incident edge has no
    pairs — exactly the id-level graph the distributed path feeds to
    dedup_clusters."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("nm"),
    ).coalesce(1)

    def run(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf[pdf["blk"].notna() & pdf["nm"].notna()]
        if not len(pdf):
            return
        ids = pdf["id"].to_numpy(np.int64)
        bcode, _ = pd.factorize(pdf["blk"], sort=True)
        ncode, names = pd.factorize(pdf["nm"], sort=True)
        names = list(names)
        nn = len(names)
        # (block, name) groups
        gkey = bcode.astype(np.int64) * nn + ncode
        gvals, ginv = np.unique(gkey, return_inverse=True)
        g_blk, g_nm = gvals // nn, gvals % nn
        gsize = np.bincount(ginv, minlength=len(gvals))
        # name-level candidates per block: len filter + count-GEMM bound
        lens = np.asarray([len(s) for s in names], dtype=np.int64)
        cps, cpi = pd.factorize(
            np.concatenate([[ord(ch) for ch in s] for s in names])
            if nn else np.empty(0, dtype=np.int64)
        )
        counts = np.zeros((nn, len(cpi)), dtype=np.float64)
        if nn:
            row = np.repeat(np.arange(nn), lens)
            np.add.at(counts, (row, cps), 1.0)
        sq = (counts * counts).sum(axis=1)
        block_cands = []                  # (block code, name-pair codes)
        order = np.argsort(g_blk, kind="stable")
        bstarts = np.flatnonzero(
            np.r_[True, g_blk[order][1:] != g_blk[order][:-1]]
        )
        bends = np.r_[bstarts[1:], len(order)]
        for s, e in zip(bstarts, bends):
            mem = np.unique(g_nm[order[s:e]])
            m = len(mem)
            if m < 2:
                continue
            iu, ju = np.triu_indices(m, k=1)
            ok = np.abs(lens[mem[iu]] - lens[mem[ju]]) <= max_distance
            iu, ju = iu[ok], ju[ok]
            if not len(iu):
                continue
            gram = counts[mem] @ counts[mem].T
            d2 = sq[mem[iu]] + sq[mem[ju]] - 2 * gram[iu, ju]
            ok = d2 <= 2.0 * max_distance * max_distance
            if ok.any():
                block_cands.append(
                    (g_blk[order[s]],
                     mem[iu[ok]] * np.int64(nn) + mem[ju[ok]])
                )
        kept = np.empty(0, dtype=np.int64)
        if block_cands:
            # each distinct NAME pair's distance computes once, whatever
            # the number of blocks it recurs in
            upairs = np.unique(np.concatenate([c for _, c in block_cands]))
            ua, ub = upairs // nn, upairs % nn
            dist = _np_levenshtein(
                [names[i] for i in ua], [names[i] for i in ub], max_distance
            )
            kept = upairs[(dist >= 1) & (dist <= max_distance)]
        # group-graph components (union-find over super-nodes)
        parent = list(range(len(gvals)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        active = gsize >= 2
        for blk, codes in block_cands:
            sel = codes[
                np.isin(codes, kept, assume_unique=False)
            ]
            if not len(sel):
                continue
            ga = np.searchsorted(gvals, blk * np.int64(nn) + sel // nn)
            gb = np.searchsorted(gvals, blk * np.int64(nn) + sel % nn)
            active[ga] = True
            active[gb] = True
            for a, b in zip(ga.tolist(), gb.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        roots = np.asarray([find(g) for g in range(len(gvals))])
        keep_rows = active[ginv]
        if not keep_rows.any():
            return
        rid = ids[keep_rows]
        rroot = roots[ginv[keep_rows]]
        o = np.lexsort((rid, rroot))
        rid, rroot = rid[o], rroot[o]
        starts = np.flatnonzero(np.r_[True, rroot[1:] != rroot[:-1]])
        sizes = np.diff(np.r_[starts, len(rroot)])
        canon = rid[starts]  # min id per component (id-sorted runs)
        name_of = pd.Series(
            pdf["nm"].to_numpy(object), index=ids
        ).groupby(level=0).first()
        yield pd.DataFrame({
            "canonical_id": canon,
            "canonical_name": name_of.reindex(canon).to_numpy(object),
            "n_members": sizes.astype(np.int64),
        })

    t = src.schema["id"].dataType.simpleString()
    return src.mapInPandas(
        run, f"canonical_id {t}, canonical_name string, n_members long"
    )


def entity_resolution(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """Entity resolution end-to-end (the classic MDM composition):
    blocked candidate pairs — exact-name plus Levenshtein <= k — feed
    connected components, and each entity resolves to its canonical
    min-id record with a member count → (canonical_id, canonical_name,
    n_members).

    Below the regime gate (ann.fits_one_task) the whole composition
    runs as one narrow stage (_fused_entity_resolution); otherwise every
    stage keeps its already-scale-shaped distributed operator:
    block-keyed joins, pointer-jumping components past the driver
    cutoff, broadcast dim attach."""
    from id3c_spark.operators import dedup
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        return _fused_entity_resolution(
            df, id_col, text_col, block_col, max_distance
        )
    near = edit_distance_pairs(
        df, id_col, text_col, block_col, max_distance=max_distance
    ).select("id_a", "id_b")
    keyed = df.select(block_col, text_col, id_col)
    exact = (
        keyed.withColumnRenamed(id_col, "id_a")
        .join(keyed.withColumnRenamed(id_col, "id_b"), [block_col, text_col])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    clusters = dedup.dedup_clusters(near.unionByName(exact).distinct())
    return (
        clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(
            F.broadcast(
                df.select(
                    F.col(id_col).alias("cluster"),
                    F.col(text_col).alias("canonical_name"),
                )
            ),
            "cluster",
        )
        .select(
            F.col("cluster").alias("canonical_id"), "canonical_name", "n_members"
        )
    )
