"""Deduplication suite for training-data pipelines (north star operators).

All variants are pure DataFrame compositions over the ``documents`` table:

  - exact_dedup        — hash-groupBy (content md5), keep lowest id.
  - ngram_jaccard_pairs— shared-shingle blocking → exact Jaccard refine.
  - minhash_lsh_pairs  — MinHash signatures + banded LSH candidate join
                         → exact Jaccard verify.
  - simhash            — 32-bit SimHash; near-dup pairs via byte-band
                         blocking + bit_count(xor) refine.

Hash design: every hash is derived from md5 (substr → hex → bigint), so
the DuckDB oracle can reproduce values bit-for-bit; integer arithmetic
stays below 2^62 so neither engine overflows. No Python UDFs anywhere —
shingling, hashing and banding are higher-order column expressions that
vectorize in codegen.

Scale notes (100 TB): the explode-on-shingles join is the classic
candidate-blocking shape — shuffle keys are (shingle hash) / (band hash),
so load balances across executors; duplicate-heavy shingles (stop-shingle
skew) are handled by AQE skew-join splitting; the Jaccard refine only runs
on candidate pairs, never the cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.functions.text import word_shingles, words_array
from id3c_spark.operators.bounded import bounded_collect

MERSENNE31 = 2147483647          # modulus for the MinHash permutation family


def md5_bigint(col: Column, hex_chars: int = 7) -> Column:
    """Deterministic non-negative bigint from md5 prefix (28 bits for 7
    hex chars — small enough that a*h+b stays in int64)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (lowest id) per exact content hash."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__keep", F.min(id_col).over(Window.partitionBy("__h")))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Soft deduplication: instead of dropping duplicates, weight every
    row by the reciprocal of its duplicate multiplicity (SoftDeDup-style
    loss reweighting — a cluster of n copies contributes total weight 1,
    preserving content coverage while removing repetition bias).
    Multiplicity groups on md5 of whitespace-normalized lowercased text,
    so trivially reformatted copies collapse together. Returns every
    input row as (id, n_copies, weight=round(1/n, 6)).

    Scale shape: one hash-partitioned window count over the 28-byte
    digest — identical cost to exact_dedup's keep-min window, combines
    map-side under AQE, and the digest (not the 100 TB text) is the
    shuffle key and payload.

    NULL text is NOT a duplicate class: md5(NULL) is NULL and
    Window.partitionBy groups NULLs together, so without the guard every
    null-text doc would count as a copy of every other (weight 1/n) —
    and diverge from SQL equi-join oracles, where NULL keys never match.
    Null-text rows keep n_copies=1, weight=1.0."""
    norm = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
    n = F.when(
        F.col("__h").isNull(), F.lit(1).cast("long")
    ).otherwise(F.count(F.lit(1)).over(Window.partitionBy("__h")))
    return (
        df.withColumn("__h", norm)
        .withColumn("n_copies", n)
        .withColumn("weight", F.round(F.lit(1.0) / F.col("n_copies"), 6))
        .select(id_col, "n_copies", "weight")
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the cached RDD behind a localCheckpointed frame. ONLY safe
    when nothing will read the frame again — a truncated lineage cannot
    recompute, so unpersisting a checkpoint that is still referenced
    fails the job. Used by iterative algorithms to drop superseded
    per-round checkpoints (N rounds over a large relation must not pin N
    copies in executor storage). Best-effort: a leaked superseded round
    beats a crashed job if the internal plan shape ever changes."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def words_relation(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, w) — one row per word occurrence: the tokenize+explode
    pass every shingle-based operator starts from. Build it ONCE, persist,
    and pass it via the operators' ``words=`` parameter when several
    stages shingle the same text at different k (the curation pipeline's
    decontamination k=5 + near-dup k=3 reuse) — re-deriving it per stage
    repeats the regex tokenization AND the doc-id shuffle. Persisting
    after ``.repartition("id").sortWithinPartitions("id", "pos")`` lets
    every downstream lead() window read the cached partitioning/ordering
    with no new Exchange or Sort."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words_array(F.col(text_col))).alias("pos", "w"),
    )


def _exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    with_pos: bool = False,
    words: DataFrame | None = None,
) -> DataFrame:
    """(id[, pos], sh) — one row per k-word-shingle occurrence (pos is the
    0-based shingle start when requested). *words* injects a prebuilt
    (persisted) words_relation to share across stages.

    Shape: posexplode words, then per-doc lead() windows and one concat_ws.
    Higher-order array functions (zip_with/transform) are interpreted per
    element in Spark, and the zip-chain Column shape (functions/text.py
    word_shingles) measured ~10× slower than this explode+window relation,
    which stays in codegen and costs one shuffle on doc id — the same
    shuffle the downstream distinct/aggregate needs anyway."""
    w = Window.partitionBy("id").orderBy("pos")
    if words is None:
        words = words_relation(df, id_col, text_col)
    parts = [
        (F.lead("w", j).over(w) if j else F.col("w")).alias(f"_w{j}")
        for j in range(k)
    ]
    sh = F.concat_ws(" ", *[f"_w{j}" for j in range(k)]).alias("sh")
    keep = ["id", "pos"] if with_pos else ["id"]
    return (
        words.select("id", "pos", *parts)
        .filter(F.col(f"_w{k - 1}").isNotNull())
        .select(*keep, sh)
    )


def _distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int,
    words: DataFrame | None = None,
) -> DataFrame:
    return _exploded_shingles(df, id_col, text_col, k, words=words).distinct()


def _np_shingle_occurrences(ws_rows: list, k: int):
    """(rowi, codes) — one entry per k-word-shingle OCCURRENCE across
    *ws_rows* (a list of per-row word lists): one global word factorize
    + k−1 pairing-recode rounds (guide §4.2). Words are the caller's
    tokens ([a-z]+ only in every call site), so word-code k-tuples and
    joined shingle strings identify shingles interchangeably; the codes
    only ever act as grouping keys. Returns (None, None) when no row
    holds a full k-window. Shared by _fused_shingle_inter and the fused
    curation composition (plans/curation.py)."""
    import numpy as np
    import pandas as pd

    lens = np.asarray([len(w) for w in ws_rows], dtype=np.int64)
    total = int(lens.sum())
    m = total - k + 1
    if m <= 0:
        return None, None
    flat = np.empty(total, dtype=object)
    pos = 0
    for w in ws_rows:
        flat[pos:pos + len(w)] = w
        pos += len(w)
    wcodes, uniq = pd.factorize(flat)
    wcodes = wcodes.astype(np.int64)
    nv = np.int64(len(uniq))
    rowi = np.repeat(np.arange(len(ws_rows), dtype=np.int64), lens)
    valid = rowi[:m] == rowi[k - 1:]
    c = wcodes[:m]
    for j in range(1, k):
        # pairing + recode keeps magnitudes < (#windows)·(#words)
        c = c * nv + wcodes[j:j + m]
        _, c = np.unique(c, return_inverse=True)
        c = c.astype(np.int64)
    sc = c[valid]
    if not len(sc):
        return None, None
    return rowi[:m][valid], sc


def _np_pair_intersections(di, si, n: int):
    """(ai, bi, n_inter) — ordered doc-index pairs (ai < bi, indices in
    [0, n)) with distinct-shingle intersection counts, from a DISTINCT
    (doc-index, shingle-code) relation. Buckets by shingle with members
    doc-sorted IN the one sort (lexsort (di, si) == per-group np.sort),
    then emits every group's ordered index pairs in ONE vectorized
    expansion: element at in-group position p pairs as the left side
    with the g−1−p members after it, so lefts are a repeat() and rights
    a global position-arithmetic gather — no per-group Python loop (tens
    of thousands of groups paid ~20 µs of interpreter each). The
    pair-code buffer stays exactly Σ C(group, 2); ascending sort +
    run-length boundaries produce the identical (codes, counts) pairs
    the per-group loop emitted. Returns (None, None, None) when no
    shingle group has ≥ 2 members."""
    import numpy as np

    o = np.lexsort((di, si))
    sdi, ssi = di[o], si[o]
    starts = np.flatnonzero(np.r_[True, ssi[1:] != ssi[:-1]])
    ends = np.r_[starts[1:], len(ssi)]
    glen = ends - starts
    raw_total = int((glen * (glen - 1) // 2).sum())
    if raw_total == 0:
        return None, None, None
    g_per_elem = np.repeat(glen, glen)
    pos = np.arange(len(sdi)) - np.repeat(starts, glen)
    nright = g_per_elem - 1 - pos          # pairs led by each element
    qi_all = np.repeat(sdi, nright)
    block0 = np.zeros(len(sdi) + 1, dtype=np.int64)
    np.cumsum(nright, out=block0[1:])
    within = np.arange(raw_total) - np.repeat(block0[:-1], nright)
    ci_all = sdi[np.repeat(np.arange(len(sdi)), nright) + 1 + within]
    codes_all = qi_all * np.int64(n) + ci_all
    codes_all.sort()
    new_code = np.r_[True, codes_all[1:] != codes_all[:-1]]
    first = np.flatnonzero(new_code)
    counts = np.diff(np.r_[first, len(codes_all)])
    codes = codes_all[first]
    return codes // n, codes % n, counts.astype(np.int64)


def _fused_shingle_inter(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int | None
) -> DataFrame:
    """Single-task (id_a, id_b, n_a, n_b, n_inter) relation for the
    stats-gated small regime: tokenization stays a Spark expression
    (words_array — identical to the distributed path by construction),
    then ONE mapInPandas pass shingles, distincts, applies the stop-cap,
    and counts per-pair intersections — replacing the explode + two
    windows + stop aggregate + shingle-keyed self-join + pair aggregate
    (6 exchanges). Everything in the task is string/integer work; the
    jaccard division + rounding + threshold stay the caller's Spark
    expressions, so the visible arithmetic is unchanged. (A
    spread-tokenize-then-gather variant — repartition out, split, one
    exchange back — was A/B'd cold in r16 and lost to noise while
    sometimes regressing the graph consumers; the one-task chain
    stays.)"""
    from id3c_spark.functions.text import words_array

    t = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("ws")
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        id_rows, ws_rows = [], []
        for pdf in batches:
            if len(pdf):
                id_rows.append(pdf["id"].to_numpy(np.int64))
                ws_rows.extend(pdf["ws"].tolist())
        if not id_rows:
            return
        row_ids = np.concatenate(id_rows)
        # index order == id order (mirrors the distributed a.id < b.id);
        # duplicate-id rows merge through the distinct (doc, shingle)
        # key below, exactly like the old per-id set union
        ids = np.unique(row_ids)
        n = len(ids)
        # factorize-flattened shingling (r16, guide §4.2) — see
        # _np_shingle_occurrences
        rowi, sc = _np_shingle_occurrences(ws_rows, k)
        if rowi is None:
            return
        di0 = np.searchsorted(ids, row_ids[rowi])
        # distinct (doc, shingle)
        s_span = np.int64(sc.max()) + 1
        ukey = np.unique(di0 * s_span + sc)
        di = ukey // s_span
        si = ukey % s_span
        if max_df is not None:
            freq = np.bincount(si)
            keep = freq[si] <= max_df
            di, si = di[keep], si[keep]
            if not len(di):
                return
        sizes = np.bincount(di, minlength=n)
        ai, bi, counts = _np_pair_intersections(di, si, n)
        if ai is None:
            return
        yield pd.DataFrame({
            "id_a": ids[ai], "id_b": ids[bi],
            "n_a": sizes[ai], "n_b": sizes[bi],
            "n_inter": counts.astype(np.int64),
        })

    return src.mapInPandas(
        run, f"id_a {t}, id_b {t}, n_a long, n_b long, n_inter long"
    )


def _jaccard_from_inter(inter: DataFrame, threshold: float) -> DataFrame:
    """Shared Spark-side tail of every fused pair path: the jaccard
    division, 6-dp rounding and threshold are the SAME expressions the
    distributed paths end in, so fused vs distributed differ only in
    how the integer (n_a, n_b, n_inter) relation is produced."""
    return (
        inter
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _fused_minhash_inter(
    new: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Single-task (id_a, id_b, n_a, n_b, n_inter) relation restricted
    to the banded-MinHash candidate pairs, for the stats-gated small
    regime: tokenization stays the words_array Spark expression (lexing
    identical to the distributed path by construction); ONE mapInPandas
    pass shingles, hashes (hashlib.md5 — bit-identical to Spark md5 on
    UTF-8 bytes), takes the (2i+1)·h+(11i+7) mod M31 signature minima,
    buckets docs by each band's r-tuple of signature values, and counts
    exact shingle intersections for in-bucket pairs only — replacing
    the explode + 32 min-aggs + band explode + band self-join +
    candidate-restricted verify (6+ exchanges). Bucketing on the value
    tuple instead of md5(to_json(slice)) is candidate-equivalent
    (md5 equality ⇔ tuple equality absent a hash collision, and any
    extra collision candidate still has to pass the exact-Jaccard
    verify), so results are unchanged.

    With *corpus* (the incremental mode) inputs ride one tagged union
    and candidates pair side 0 (new) against side 1 (corpus) only; ids
    may overlap between sides. Docs with < k words produce no signature
    row, exactly like the distributed groupBy over an empty explode.
    id_a/id_b keep the id types of *new*/*corpus*."""
    from id3c_spark.functions.text import words_array

    r = num_hashes // bands
    sides = [new] if corpus is None else [new, corpus]
    ta = new.schema[id_col].dataType.simpleString()
    tb = sides[-1].schema[id_col].dataType.simpleString()
    tagged = None
    for s_idx, s_df in enumerate(sides):
        part = s_df.select(
            F.lit(s_idx).alias("side"),
            F.col(id_col).alias("id"),
            words_array(F.col(text_col)).alias("ws"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    src = tagged.coalesce(1)
    cross = corpus is not None

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        by_key: dict = {}
        for pdf in batches:
            for side, rid, ws in zip(pdf["side"], pdf["id"], pdf["ws"]):
                ws = list(ws)
                by_key.setdefault((int(side), int(rid)), set()).update(
                    " ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)
                )
        if not by_key:
            return
        keys = sorted(by_key)  # (side, id) asc — self-mode pair order
        sets = [by_key[key] for key in keys]
        hcache: dict = {}

        def h28(sh):
            v = hcache.get(sh)
            if v is None:
                v = int(hashlib.md5(sh.encode("utf-8")).hexdigest()[:7], 16)
                hcache[sh] = v
            return v

        coef_a = np.arange(num_hashes, dtype=np.int64) * 2 + 1
        coef_b = np.arange(num_hashes, dtype=np.int64) * 11 + 7
        buckets: dict = {}
        for idx, s in enumerate(sets):
            if not s:
                continue
            hs = np.asarray([h28(sh) for sh in s], dtype=np.int64)
            sig = (
                (coef_a[:, None] * hs[None, :] + coef_b[:, None]) % MERSENNE31
            ).min(axis=1)
            for b in range(bands):
                bkey = (b, tuple(sig[b * r:(b + 1) * r].tolist()))
                buckets.setdefault(bkey, []).append(idx)
        cand = set()
        for members in buckets.values():
            if len(members) < 2:
                continue
            if cross:
                lo = [i for i in members if keys[i][0] == 0]
                hi = [i for i in members if keys[i][0] == 1]
                cand.update((i, j) for i in lo for j in hi)
            else:
                cand.update(
                    (members[i], members[j])
                    for i in range(len(members) - 1)
                    for j in range(i + 1, len(members))
                )
        if not cand:
            return
        rows = [
            (keys[i][1], keys[j][1], len(sets[i]), len(sets[j]),
             len(sets[i] & sets[j]))
            for i, j in cand
        ]
        a, b, na, nb, ni = zip(*rows)
        yield pd.DataFrame({
            "id_a": np.asarray(a, dtype=np.int64),
            "id_b": np.asarray(b, dtype=np.int64),
            "n_a": np.asarray(na, dtype=np.int64),
            "n_b": np.asarray(nb, dtype=np.int64),
            "n_inter": np.asarray(ni, dtype=np.int64),
        })

    return src.mapInPandas(
        run, f"id_a {ta}, id_b {tb}, n_a long, n_b long, n_inter long"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with shingle-set Jaccard ≥ threshold.

    Blocking on shared shingles is *exact* for threshold > 0: any pair with
    a non-zero Jaccard shares at least one shingle. Output jaccard is
    rounded to 6 dp (integer-ratio → stable across engines).

    max_df (SSJoin prefix-filter lite / stop-shingle removal): drop
    shingles whose document frequency exceeds *max_df* from the relation
    before the self-join — the O(f²) pair blowup on stop-shingles is
    quadratic per hot key, which AQE skew splitting rebalances but cannot
    shrink. Jaccard is then exact over the capped vocabulary (the standard
    stopword-removal semantics; sizes and intersections use the same
    relation, mirrored in the oracle). Pairs whose every shared shingle is
    ultra-common can be missed — at a sane cap they sit far below any
    useful threshold. An empty stop set makes the anti-join a semantic
    no-op, so the whole flow stays LAZY — no eager emptiness probe
    blocking the driver per call (the probe was a measurable share of
    the curation pipeline's latency).
    """
    # below the regime gate (ann.fits_one_task) the whole shingle →
    # stop-cap → self-join → intersection-count pipeline collapses into
    # _fused_shingle_inter's single narrow stage; the jaccard
    # division/round/threshold below are shared by both paths, so the
    # visible arithmetic is identical (parity-tested in
    # tests/test_dedup_similarity.py). Callers passing a prebuilt
    # *words* relation (the curation flow) keep the distributed shape —
    # their words cache is the better sharing vehicle.
    from id3c_spark.operators.ann import fits_one_task

    if words is None and fits_one_task(df, (id_col,)):
        inter = _fused_shingle_inter(df, id_col, text_col, k, max_df)
        return _jaccard_from_inter(inter, threshold)
    # NO persist anywhere: the shingle pipeline is shared across the
    # self-join sides by an explicit exchange on the join key (both
    # sides become the identical shuffle → ReusedExchange, one compute
    # per action), and the stop-set aggregate's second derivation reads
    # the caller-cached words relation, one codegen mapper pass. The
    # former sh/shn persists cost two cache WRITES per call and leaked
    # storage blocks past the caller's action (the operator returns a
    # lazy plan, so it can never unpersist them itself).
    sh = _distinct_shingles(df, id_col, text_col, k, words=words)
    if max_df is not None:
        # The STOP set (df > max_df) is small by construction — broadcast
        # it and anti-join; broadcasting the KEEP set would ship nearly
        # every distinct shingle to every executor.
        stop = (
            sh.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
        )
        sh = sh.join(F.broadcast(stop.select("sh")), "sh", "left_anti")
    # Per-doc set size rides ON the shingle rows (one id-keyed window
    # into the shingle relation, no separate sizes aggregate), so the
    # PPJoin length filter applies INSIDE the self-join and the final
    # jaccard needs no size joins at all: J(A,B) ≤ min(n_a,n_b) /
    # max(n_a,n_b), so any pair at jaccard ≥ t has sizes within ratio t
    # — on a real corpus, where doc lengths span orders of magnitude,
    # cross-size candidates are most of the candidate volume, and the
    # bound is exact, so results are unchanged.
    shn = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("id"))
    ).repartition("sh")
    # one self-join: the grouped intersection counts ARE the candidate set
    # (any pair with jaccard > 0 shares a shingle and lands here once)
    inter = (
        shn.alias("a")
        .join(
            shn.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.n").cast("double") * F.lit(float(threshold)) <= F.col("b.n"))
            & (F.col("b.n").cast("double") * F.lit(float(threshold)) <= F.col("a.n")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def gazetteer_tag(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrases: list[str],
) -> DataFrame:
    """Dictionary / gazetteer phrase tagging: every occurrence of every
    phrase (multi-word supported) in every document → (id, phrase, pos)
    with pos the 0-based word offset. The blocklist-screening /
    entity-tagging primitive of a curation pipeline — 'find all docs
    mentioning any of these N names' without N regex passes.

    Phrases are normalized with the SAME tokenizer as the documents
    (lowercase alpha words), grouped by word length, and each length
    joins ONE positional shingle relation against the broadcast phrase
    set — so a million-entry gazetteer costs one broadcast and at most
    max-phrase-length explode passes over the corpus, never a per-phrase
    scan. Matches are exact token-boundary matches (no substring false
    hits, the regex approach's classic bug).

    A phrase the tokenizer CHANGES is refused, not silently rewritten: a
    blocklist entry like 'covid 19' would normalize to the 1-word phrase
    'covid' and over-match every bare mention, and an all-digit phrase
    would vanish entirely — both surprising failure modes for a screening
    primitive, so they raise with the offending phrases listed; callers
    that mean the normalized form pass it explicitly."""
    import re

    by_len: dict[int, list[str]] = {}
    rewritten: list[str] = []
    for p in phrases:
        words = [x for x in re.split(r"[^a-z]+", p.lower()) if x]
        if " ".join(words) != " ".join(
            x for x in re.split(r"\s+", p.lower().strip()) if x
        ):
            rewritten.append(p)
            continue
        if words:
            by_len.setdefault(len(words), []).append(" ".join(words))
    if rewritten:
        raise ValueError(
            "phrases change under the alpha-word tokenizer (digits/"
            f"punctuation are not matchable): {rewritten!r}; pass the "
            "normalized alpha-word form explicitly if that is what you mean"
        )
    spark = df.sparkSession
    parts = []
    for length, plist in sorted(by_len.items()):
        occ = _exploded_shingles(df, id_col, text_col, length, with_pos=True)
        pdf = spark.createDataFrame(
            [(p,) for p in sorted(set(plist))], "sh string"
        )
        parts.append(
            occ.join(F.broadcast(pdf), "sh").select(
                "id", F.col("sh").alias("phrase"), "pos"
            )
        )
    if not parts:
        raise ValueError("no non-empty phrases")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
    MOSS algorithm): hash every k-word shingle, slide a window of *w*
    consecutive hashes, and select each window's minimum (rightmost
    position on ties). Returns the distinct selected (id, pos, h) —
    a density-guaranteed fingerprint set: any match of length
    >= w + k - 1 words between two documents is CAUGHT by a shared
    selected hash, while only ~2/(w+1) of positions are kept.

    One posexplode + two frame windows per doc — the selection min runs
    as min(struct(h, -pos)) over a w-row frame (lexicographic struct
    min = min hash then rightmost), so the whole operator stays in
    codegen with a single doc-keyed shuffle. md5-derived hashes make
    the selected set engine-replayable for the oracle."""
    occ = _exploded_shingles(df, id_col, text_col, k, with_pos=True).withColumn(
        "h", md5_bigint(F.col("sh"), 12)
    )
    frame = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    )
    n_w = Window.partitionBy("id")
    sel = (
        occ.withColumn(
            "pick",
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(frame),
        )
        .withColumn("n_sh", F.count(F.lit(1)).over(n_w))
        # windows must be FULL w-hash windows: starts run 0..n_sh-w
        .filter(F.col("pos") <= F.col("n_sh") - w)
        .select(
            "id",
            (-F.col("pick.np")).alias("pos"),
            F.col("pick.h").alias("h"),
        )
        .distinct()
    )
    return sel


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard self-join via PPJoin-style prefix filtering
    (Chaudhuri/Ganti/Kaushik SSJoin, Xiao et al. PPJoin): order every
    document's distinct k-gram shingles by ascending global document
    frequency and keep only the first |d| - ceil(t·|d|) + 1 as its
    *prefix*; any pair with Jaccard >= t must share a prefix token under
    a common total order, so equi-joining prefixes alone generates a
    COMPLETE candidate set. Candidates are verified with exact integer
    arithmetic (den·inter >= num·union — no float threshold anywhere),
    so the result is identical to the brute-force join.

    The complementary generator to blocking/LSH: no hashing, no missed
    pairs, and the prefix keys are by construction the RAREST shingles —
    bucket sizes shrink as the corpus grows more diverse, the opposite
    skew profile of shared-shingle blocking. Threshold is converted to
    an exact rational so ceil() runs in integer arithmetic (a float
    0.8·n can land an ulp above the true product and silently shorten
    the prefix below completeness).

    Scale shape: frequency agg + one per-doc window over (freq, shingle)
    — the same explode/window cost as the shingle relation itself — then
    a prefix-keyed equi-join and the candidate-restricted intersection
    count. Everything combines map-side; the full shingle relation feeds
    ranking, verification, and sizes through ONE shared exchange — every
    consumer embeds the identical distinct subtree, so its
    Exchange(id, sh) is a single ReusedExchange per action (no cache:
    the returned plan is lazy, a persist here could never be released)."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    # The prefix filter only prunes CANDIDATES — the integer-exact
    # verification makes the result identical to the brute-force join
    # (docstring above), and every pair at J ≥ t > 0 shares a shingle.
    # So the small regime below the gate reuses
    # _fused_shingle_inter's shared-shingle pair relation outright (no
    # frequency ranking needed when the whole corpus is one task) and
    # applies the SAME den·ni ≥ num·union integer filter and rounding.
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        inter = _fused_shingle_inter(df, id_col, text_col, k, None)
        union_f = F.col("n_a") + F.col("n_b") - F.col("n_inter")
        return (
            inter.filter(den * F.col("n_inter") >= num * union_f)
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("n_inter").cast("double") / union_f.cast("double"), 6
                ).alias("jaccard"),
            )
        )
    sh = _distinct_shingles(df, id_col, text_col, k)
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("f"))
    # per-doc size rides ON the rows via an id-keyed window that SHARES
    # the prefix-rank window's partitioning (one Exchange(id) + sort
    # serves both), replacing a separate sizes aggregate that was joined
    # back three times — three fewer embeds of the shingle subtree, and
    # the candidate pairs carry (n_a, n_b) through to verification so
    # the final size joins disappear entirely
    w_id = Window.partitionBy("id")
    w = Window.partitionBy("id").orderBy("f", "sh")
    shn = (
        sh.join(freq, "sh")
        .withColumn("n", F.count(F.lit(1)).over(w_id))
        .withColumn("rn", F.row_number().over(w))
    )
    plen = F.col("n") - F.expr(f"(({num} * n + {den - 1}) div {den})") + 1
    prefix = shn.filter(F.col("rn") <= plen).select("id", "sh", "n")
    cand = (
        prefix.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), "sh")
        .join(
            prefix.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), "sh"),
            "sh",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("ni")
    return (
        inter.filter(den * F.col("ni") >= num * union)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("ni").cast("double") / union.cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature array per document.

    h_i(s) = (a_i * H(s) + b_i) mod (2^31 - 1), H = md5-derived 28-bit
    bigint, a_i = 2i+1, b_i = 11i+7 — a fixed universal-ish family shared
    with the DuckDB oracle. Docs with < k words get an empty signature.
    """
    # Shape matters: a per-row higher-order expression re-evaluates the
    # md5-of-every-shingle subtree once per hash function (Catalyst inlines
    # the common subexpression — measured 32× slowdown). Instead explode
    # shingles, hash each ONCE, and take num_hashes parallel MIN aggregates
    # — also the right distributed shape (map-side partial min, one shuffle
    # on doc id, no giant array values). Duplicate shingle occurrences
    # don't move a MIN, so the occurrence relation works as the set here.
    exploded = _exploded_shingles(df, id_col, text_col, k).select(
        "id", F.conv(F.substring(F.md5("sh"), 1, 7), 16, 10).cast("bigint").alias("h")
    )
    mins = exploded.groupBy("id").agg(
        *[
            F.min(((2 * i + 1) * F.col("h") + (11 * i + 7)) % MERSENNE31).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.

    Candidate generation: split the signature into ``bands`` bands of
    r = num_hashes/bands rows; docs agreeing on any whole band join on
    md5(band values). Verification recomputes true shingle Jaccard on the
    candidates only, so the output is exact-above-threshold ∩ LSH-recalled
    — the standard quality/cost trade (probability of recall at jaccard s
    is 1-(1-s^r)^b).
    """
    assert num_hashes % bands == 0
    # below the regime gate (ann.fits_one_task) a corpus runs
    # signature + banding + candidate pairing + exact verify in ONE
    # narrow mapInPandas stage (_fused_minhash_inter); large or
    # in-memory corpora keep the banded join below. The jaccard
    # division/round/threshold are shared (_jaccard_from_inter), so the
    # visible arithmetic is identical (parity-tested in
    # tests/test_dedup_similarity.py).
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        inter = _fused_minhash_inter(
            df, None, id_col, text_col, k, num_hashes, bands
        )
        return _jaccard_from_inter(inter, threshold)
    # NO persist anywhere (the operator returns a lazy plan, so it could
    # never unpersist them itself — every cache here leaked past the
    # caller's action). Work sharing is structural instead: the shingle
    # relation's own window Exchange(id) is the bottom of BOTH the
    # signature aggregate and the verify's distinct, so the tokenize+
    # explode pass — the single most expensive subtree — is one
    # ReusedExchange per action; the banded and distinct relations
    # likewise each dedupe across their consumers via identical
    # exchanges (see _jaccard_verify).
    sh_occ = _exploded_shingles(df, id_col, text_col, k)
    # banded feeds both sides of the candidate self-join: an explicit
    # exchange on the join keys makes the sides the identical shuffle
    # (ReusedExchange) so the signature pipeline (explode + 32 min-aggs)
    # runs once per action with nothing cached
    banded = _minhash_banded(sh_occ, num_hashes, bands).repartition(
        "band", "bh"
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(cand, sh_occ, threshold)


def _minhash_banded(sh_occ: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bh) banded-signature relation from a shingle-occurrence
    relation — the LSH candidate key."""
    r = num_hashes // bands
    hashed = sh_occ.select(
        "id", F.conv(F.substring(F.md5("sh"), 1, 7), 16, 10).cast("bigint").alias("h")
    )
    sig = hashed.groupBy("id").agg(
        *[
            F.min(((2 * i + 1) * F.col("h") + (11 * i + 7)) % MERSENNE31).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    ).select("id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(F.to_json(F.slice("sig", b * r + 1, r))).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def _jaccard_verify(
    cand: DataFrame, sh_occ: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate (id_a, id_b)
    pairs — the whole point of LSH is to never touch the full
    shared-shingle pair set. The distinct relation feeds both pair
    sides + the size aggregate, but needs no cache: all three consumers
    embed the identical distinct subtree, so its Exchange(id, sh) — and
    everything expensive below it — is a single ReusedExchange per
    action (renames/partial aggs sit ABOVE the exchange and don't break
    canonical equality)."""
    sh = sh_occ.distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a_sh = sh.select(F.col("id").alias("id_a"), "sh")
    b_sh = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        cand.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_lsh_dedup(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric (new-batch vs existing-corpus) near-dup detection: which
    incoming documents duplicate something already ingested — the
    cross-version dedup step every refreshed training corpus needs, as
    opposed to the within-corpus self-join of minhash_lsh_pairs.

    Returns (new_id, corpus_id, jaccard ≥ threshold). Both sides run
    through ONE tagged union pipeline (one shingle pass, one signature
    aggregate); the band join then pairs across sides only, so the
    self-join quadratic term within either side is never generated.
    Ids may overlap between the two frames — sides are tracked by a
    struct key, not id arithmetic.

    Scale: identical shapes to minhash_lsh_pairs (band-key equi-join,
    candidate-restricted verify); the corpus side's banded signatures are
    the natural thing to persist in the warehouse between batches, making
    the per-batch cost proportional to the NEW data only.
    """
    assert num_hashes % bands == 0
    # when BOTH inputs fit one task (ann.fits_one_task), signatures,
    # cross-side banding and the exact verify run in one narrow stage
    # over a tagged union (sides tracked separately inside the task, so
    # overlapping ids stay distinct); otherwise the distributed band
    # join below.
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(new, (id_col,)) and fits_one_task(corpus, (id_col,)):
        inter = _fused_minhash_inter(
            new, corpus, id_col, text_col, k, num_hashes, bands
        )
        return _jaccard_from_inter(inter, threshold).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("corpus_id"),
            "jaccard",
        )
    tagged = (
        new.select(
            F.lit(0).alias("__side"),
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__text"),
        )
        .unionByName(
            corpus.select(
                F.lit(1).alias("__side"),
                F.col(id_col).alias("__id"),
                F.col(text_col).alias("__text"),
            )
        )
        .withColumn("__key", F.struct("__side", "__id"))
    )
    # No persists (lazy return — caches here can never be released; see
    # minhash_lsh_pairs). The side filters below push through the banded
    # aggregate down to the union, so each side's signature pipeline
    # computes over ITS OWN docs only — the two branches partition the
    # work the single cached pass used to do, same total rows; the
    # verify's distinct subtree dedupes across its consumers via
    # ReusedExchange as in _jaccard_verify.
    sh_occ = _exploded_shingles(tagged, "__key", "__text", k)
    banded = _minhash_banded(sh_occ, num_hashes, bands)
    cand = (
        banded.filter(F.col("id.__side") == 0).alias("a")
        .join(
            banded.filter(F.col("id.__side") == 1).alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(cand, sh_occ, threshold).select(
        F.col("id_a.__id").alias("new_id"),
        F.col("id_b.__id").alias("corpus_id"),
        "jaccard",
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    driver_cutoff: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over a
    dup-pair relation, labeling every member with the minimum id in its
    component — the step that turns pairwise near-dup evidence into a
    keep-one-canonical-document decision (keep rows where id == cluster).

    Two regimes, picked by the EXACT raw pair count (free — the pair
    relation is materialized by the checkpoint either way; the
    symmetrize+distinct pass only the label regime needs is deferred
    until that regime is chosen):

      - edges ≤ *driver_cutoff*: min-root union-find on the driver. The
        dup-pair graph is the output of heavy distributed filtering and is
        typically orders smaller than the corpus; when it provably fits,
        one linear pass replaces O(diameter) Spark rounds whose per-round
        job overhead dwarfs the work (the same materialization-boundary
        argument as the BPE merge table).
      - larger graphs: iterative min-label propagation WITH pointer
        jumping (label ← label[label] each round), the Pregel-style
        connected-components shape at O(log diameter) rounds; per-round
        state is (node, label) pairs shuffled on node id, never collected.

    Both regimes produce identical min-label components, so the DuckDB
    oracle's recursive reachability replay matches either path.
    """
    # Regime choice via a BOUNDED probe — bounded_collect runs the heavy
    # pair pipeline once and collects at most cutoff+1 rows PER PARTITION
    # in a single ordinary job (see operators/bounded.py for the bound +
    # detection proof), so driver memory stays bounded while the common
    # small-graph case needs NO checkpoint at all: the old
    # localCheckpoint-then-count shape pinned the materialized pairs in
    # executor storage forever (a leak in every dedup_clusters consumer —
    # semantic_dedup, the curation flow, the dup-cluster queries).
    #
    # Single wave, per-plan: the r12 shape got one wave by temporarily
    # raising spark.sql.limit.initialNumPartitions — a session-GLOBAL
    # conf a concurrent same-session limit query could inherit (ADVICE
    # r12). The mapInPandas cap is scoped to this plan alone: no conf is
    # touched, no executeTake ramp (measured 1.5-5 s of re-launched
    # result-stage waves at sf0.1), identical worst-case driver transfer.
    raw_plan = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    probe = bounded_collect(raw_plan, driver_cutoff)
    if len(probe) <= driver_cutoff:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:       # path compression
                parent[x], x = root, parent[x]
            return root

        rows = probe
        for row in rows:
            ra, rb = find(row["a"]), find(row["b"])
            if ra != rb:                       # min root wins → min labels
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = {r["a"] for r in rows} | {r["b"] for r in rows}
        out = [(n, find(n)) for n in sorted(nodes)]
        # schema follows the edges' id type (string ids etc. — not just long)
        from pyspark.sql.types import StructField, StructType

        id_type = raw_plan.schema["a"].dataType
        schema = StructType(
            [StructField("id", id_type), StructField("cluster", id_type)]
        )
        return pairs.sparkSession.createDataFrame(out, schema)

    # Distributed label propagation. localCheckpoint (not persist):
    # iterative plans grow a level of lineage per round, and Spark's plan
    # stringification alone OOMs past ~15 rounds — checkpointing truncates
    # the logical plan so every round starts from a LogicalRDD of constant
    # depth. The pair pipeline runs once more here (the probe above could
    # not keep it without pinning storage in the small regime); large
    # graphs pay one extra pass, then O(log diameter) rounds dominate.
    # Superseded checkpoints are FREED as soon as the next round's
    # checkpoint materializes — 30 rounds over a billion-node label
    # relation must not pin 30 copies in executor storage. The FINAL
    # labels checkpoint stays cached deliberately: it backs the returned
    # frame (a truncated lineage cannot recompute), and it is one
    # (node, label) relation, not a per-round accumulation.
    raw = raw_plan.localCheckpoint()
    edges = (
        raw.unionByName(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    _free_local_checkpoint(raw)  # symmetrized edges supersede the raw pairs
    labels = (
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_ckpt = labels  # the checkpointed frame itself (not a projection)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.withColumnsRenamed({"node": "b", "label": "nl"}), "b"
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nmin"))
            .withColumnsRenamed({"a": "node"})
        )
        hop = F.least(F.col("label"), F.coalesce("nmin", F.col("label")))
        hopped = labels.join(neighbor_min, "node", "left").select(
            "node", F.col("label").alias("old"), hop.alias("label")
        )
        # pointer jump: every label is itself a node, so one self-join
        # rewrites label → label[label]; combined with the hop above the
        # distance to the component minimum shrinks superlinearly per round
        mapping = hopped.select(
            F.col("node").alias("label"), F.col("label").alias("ll")
        )
        jumped_label = F.coalesce("ll", F.col("label"))
        # the changed flag rides in the checkpointed frame, so convergence
        # detection is a count over materialized data — one job per round
        new_labels = (
            hopped.join(mapping, "label", "left")
            .select(
                "node",
                jumped_label.alias("label"),
                (jumped_label != F.col("old")).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("changed").limit(1).count()
        _free_local_checkpoint(prev_ckpt)  # superseded by the new round
        prev_ckpt = new_labels
        labels = new_labels.drop("changed")
        if not changed:
            break
    _free_local_checkpoint(edges)  # the returned frame reads only labels
    return labels.select(F.col("node").alias("id"), F.col("label").alias("cluster"))


def cluster_representatives(
    clusters: DataFrame,
    members: DataFrame,
    order_by: list,
    id_col: str = "id",
) -> DataFrame:
    """Collapse each near-dup cluster to its best member — the curation
    step after clustering: keep ONE document per duplicate group, chosen
    by a quality ordering rather than arbitrary id.

    *clusters* is dedup_clusters output (id, cluster); *members* carries
    the per-id quality features (joined on *id_col*); *order_by* ranks
    within a cluster (pass a unique tiebreaker last). Returns one row per
    cluster: (cluster, rep_id, n_members) plus the representative's
    member columns.

    Scale shape: one equi-join of the (small) cluster relation to member
    features on the id key, then a single window shuffle keyed by
    cluster — both keyed on blocking outputs, never corpus-quadratic.
    Unclustered documents are not in the relation (they keep themselves);
    the caller unions them back if it wants the full kept-corpus.
    """
    from id3c_spark.operators.topk import distinct_on

    joined = clusters.join(
        members.withColumnRenamed(id_col, "id") if id_col != "id" else members,
        "id",
    )
    sizes = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    best = distinct_on(joined, ["cluster"], order_by)
    return best.join(sizes, "cluster").withColumnRenamed("id", "rep_id")


def _fused_simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Single-task (id, simhash) for the stats-gated small regime:
    tokenization stays the words_array Spark expression (the SAME
    split/lower/filter the distributed path inlines), then one
    mapInPandas pass hashes each distinct token once (hashlib.md5 ==
    Spark md5 on UTF-8 bytes; 8 hex chars → h < 2^32), accumulates the
    per-bit ±1 votes over token OCCURRENCES in exact int64, and packs
    sign bits — replacing the explode + ``bits`` parallel SUM aggregates
    (one exchange + wide aggregate). Docs whose token array is empty
    produce no row, exactly like the distributed groupBy over an empty
    explode; duplicate-id rows accumulate into one vote vector like the
    distributed per-id aggregate."""
    from id3c_spark.functions.text import words_array

    t = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(id_col).alias("id"), words_array(F.col(text_col)).alias("ws")
    ).coalesce(1)

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        votes: dict = {}
        hcache: dict = {}
        jbits = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            for rid, ws in zip(pdf["id"], pdf["ws"]):
                acc = None
                for w in ws:
                    hv = hcache.get(w)
                    if hv is None:
                        h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16)
                        hv = hcache[w] = ((h >> jbits) & 1) * 2 - 1
                    if acc is None:
                        rid_i = int(rid)
                        acc = votes.get(rid_i)
                        if acc is None:
                            acc = votes[rid_i] = np.zeros(bits, dtype=np.int64)
                    acc += hv
        if not votes:
            return
        ids = np.asarray(sorted(votes), dtype=np.int64)
        vm = np.stack([votes[i] for i in ids.tolist()])
        packed = ((vm > 0) * (np.int64(1) << jbits)).sum(axis=1)
        yield pd.DataFrame({"id": ids, "simhash": packed})

    return src.mapInPandas(run, f"id {t}, simhash long")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
) -> DataFrame:
    """32-bit SimHash over word tokens (md5-derived token hashes).

    bit_j(doc) = sign of Σ_tokens (2*((H(tok) >> j) & 1) - 1); packed into
    one bigint. Pure integer expression — identical in the oracle.
    """
    # below the regime gate: the single-task path (see _fused_simhash);
    # the distributed explode + SUM-aggregate shape below is kept for
    # large or in-memory corpora. All-integer arithmetic on identical
    # md5-derived values, so the packed hashes are equal by construction
    # (parity-tested in tests/test_dedup_similarity.py).
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        return _fused_simhash(df, id_col, text_col, bits)
    # Same explode+aggregate shape as minhash_signature: hash each token
    # once, take `bits` parallel SUM aggregates of the per-bit ±1 votes,
    # then pack. bit_j extracted via exact power-of-2 arithmetic
    # (F.shiftright needs a literal shift; h < 2^32 so doubles are exact).
    words = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda w: w != "")
    exploded = df.select(F.col(id_col).alias("id"), F.explode(words).alias("w")).select(
        "id", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint").alias("h")
    )
    bit_votes = [
        F.sum(
            (F.floor(F.col("h") / F.lit(float(2 ** j))).cast("bigint") % 2) * 2 - 1
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = exploded.groupBy("id").agg(*bit_votes)
    packed = sum(
        [F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("bigint")).otherwise(F.lit(0).cast("bigint")) for j in range(bits)],
        start=F.lit(0).cast("bigint"),
    )
    return sums.select("id", packed.alias("simhash"))


def _fused_simhash_band_pairs(
    sh: DataFrame, max_distance: int
) -> DataFrame:
    """Single-task mirror of the byte-band blocking + bit_count(xor)
    refine over a (id, simhash) relation: bucket docs by each of the 4
    byte bands, pair within buckets (id_a < id_b), keep Hamming ≤
    max_distance — the same candidate semantics as the band equi-join
    (band agreement is checked, not assumed, so a max_distance > 3
    caller gets the identical band-limited result). Distance is an int,
    like the staged bit_count."""
    t = sh.schema["id"].dataType.simpleString()
    src = sh.coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        id_parts, h_parts = [], []
        for pdf in batches:
            if len(pdf):
                id_parts.append(pdf["id"].to_numpy(np.int64))
                h_parts.append(pdf["simhash"].to_numpy(np.int64))
        if not id_parts:
            return
        ids = np.concatenate(id_parts)
        hv = np.concatenate(h_parts)
        order = np.argsort(ids, kind="stable")
        ids, hv = ids[order], hv[order]
        n = len(ids)
        # candidate pair codes per byte band, vectorized: bucket members
        # share a band value, emit the C(m,2) position pairs per bucket
        # (positions ascend in the id-sorted layout, so i<j IS the old
        # id_a < id_b orientation), dedup across bands with one sort —
        # the same candidate set the per-bucket Python set produced,
        # without 10^6 tuple allocations on a skewed corpus (near-dup
        # corpora concentrate whole buckets by construction).
        code_parts = []
        for b in range(4):
            bv = (hv >> (8 * b)) & 255
            o = np.argsort(bv, kind="stable")
            sb = bv[o]
            starts = np.flatnonzero(np.r_[True, sb[1:] != sb[:-1]])
            ends = np.r_[starts[1:], n]
            for s, e in zip(starts, ends):
                g = e - s
                if g < 2:
                    continue
                mem = np.sort(o[s:e])
                gi = np.repeat(mem[:-1], np.arange(g - 1, 0, -1))
                gj = np.concatenate([mem[j + 1:] for j in range(g - 1)])
                code_parts.append(gi * np.int64(n) + gj)
        if not code_parts:
            return
        codes = np.unique(np.concatenate(code_parts))
        pi, pj = codes // n, codes % n
        # Hamming refine: 16-bit popcount LUT over the 32-bit xor —
        # exact, like int.bit_count
        lut = np.unpackbits(
            np.arange(65536, dtype=np.uint16).view(np.uint8)
        ).reshape(65536, 16).sum(axis=1).astype(np.int64)
        x = hv[pi] ^ hv[pj]
        dist = lut[x & 0xFFFF] + lut[(x >> 16) & 0xFFFF]
        keep = dist <= max_distance
        if not keep.any():
            return
        yield pd.DataFrame({
            "id_a": ids[pi[keep]],
            "id_b": ids[pj[keep]],
            "distance": dist[keep],
        })

    return src.mapInPandas(run, f"id_a {t}, id_b {t}, distance int")


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_distance: int = 3, bits: int = 32,
) -> DataFrame:
    """Pairs within SimHash Hamming distance ≤ max_distance.

    Blocking: split the 32-bit hash into 4 bytes; by pigeonhole any pair
    within distance ≤ 3 agrees on ≥ 1 whole byte → equi-join per byte,
    refine with bit_count(xor). Same trick as the reference's barcode
    slices (dev/doc/01-barcode-slices.md), lifted to bit bands.
    """
    # below the regime gate simhash() is the fused stage, chained into a
    # second narrow banding/refine stage (two mapInPandas, zero
    # exchanges); otherwise the band self-join below.
    from id3c_spark.operators.ann import fits_one_task

    sh = simhash(df, id_col, text_col, bits)
    if fits_one_task(df, (id_col,)):
        return _fused_simhash_band_pairs(sh, max_distance)
    # both sides of the band self-join share this subplan via an
    # explicit exchange on the join keys (ReusedExchange: the simhash
    # aggregate runs once per action, nothing cached — a persist here
    # leaked past the caller's action, the operator being lazy)
    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.struct(
                    b.alias("band"),
                    (
                        F.floor(
                            F.col("simhash").cast("double") / F.pow(F.lit(2.0), (b * 8).cast("double"))
                        ).cast("bigint")
                        % 256
                    ).alias("bv"),
                ),
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bv").repartition("band", "bv")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("distance"),
        )
        .distinct()
        .filter(F.col("distance") <= max_distance)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b, containment) with max-directional shingle
    containment |A∩B| / min(|A|, |B|) ≥ threshold — Broder's containment
    measure, symmetrized by the smaller side.

    Jaccard misses subset duplication: a paragraph fully embedded in a
    10× longer page scores |A|/|B| ≈ 0.1 Jaccard but 1.0 containment.
    Same exact shared-shingle blocking + candidate-restricted verify as
    ngram_jaccard_pairs (any pair with containment > 0 shares a
    shingle), same max_df stop-shingle skew cap.
    """
    # Same lazy, cache-free shape as ngram_jaccard_pairs: an empty stop
    # set makes the anti-join a semantic no-op, so no eager emptiness
    # probe; per-doc set size rides ON the shingle rows via an id-keyed
    # window (no separate sizes aggregate or size joins); both self-join
    # sides read ONE explicit Exchange(sh) (ReusedExchange — the shingle
    # pipeline computes once per action, nothing persisted past the
    # caller's action).
    #
    # Below the regime gate: the same fused integer relation as
    # ngram_jaccard_pairs (_fused_shingle_inter covers both measures —
    # any pair with containment > 0 shares a shingle, and the stop-cap
    # semantics are identical); only the Spark-side tail differs.
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df, (id_col,)):
        inter = _fused_shingle_inter(df, id_col, text_col, k, max_df)
        fc = F.round(
            F.col("n_inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
            6,
        )
        return (
            inter.filter(fc >= threshold)
            .select("id_a", "id_b", fc.alias("containment"))
        )
    sh = _distinct_shingles(df, id_col, text_col, k)
    if max_df is not None:
        stop = (
            sh.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
        )
        sh = sh.join(F.broadcast(stop.select("sh")), "sh", "left_anti")
    shn = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("id"))
    ).repartition("sh")
    inter = (
        shn.alias("a")
        .join(
            shn.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    containment = F.round(
        F.col("n_inter").cast("double")
        / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        6,
    )
    return (
        inter.filter(containment >= threshold)
        .select("id_a", "id_b", containment.alias("containment"))
    )
