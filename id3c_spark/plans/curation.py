"""End-to-end training-corpus curation pipeline — the composition proof
for the north-star operator family: every stage is one of the catalog
operators, chained as a single declarative DataFrame flow.

    raw docs
      → quality gate        (corpus.repetition_metrics keep flag)
      → decontamination     (corpus.decontaminate anti-join)
      → exact dedup         (dedup.exact_dedup keep-lowest-id)
      → near-dup dedup      (dedup.minhash_lsh_pairs → dedup_clusters,
                             keep each cluster's canonical doc)
      → stratified sample   (corpus.stratified_sample)
      → shard + pack        (corpus.shuffle_shards / corpus.pack_sequences
                             on token counts)

Everything stays lazy until the caller acts; the only driver-side
materialization anywhere in the flow is dedup_clusters' bounded
convergence loop. Each stage's semantics are oracle-verified
individually by the catalog (see plans/queries.py); this module is about
their composition, tested in test_corpus_asof_multimodal.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from id3c_spark.functions.text import token_count
from id3c_spark.operators import corpus, dedup


class CurationStages(Mapping):
    """Stage map whose tail entries build on first access: curate()
    returns every stage, but constructing a plan nobody reads is not
    free — the pack/shard tail alone costs ~0.15 s of driver-side
    DataFrame construction (a pandas-UDF registration plus py4j
    chatter) — so callers that act on one stage (the oracle-verified
    composition query reads only ``sampled``) should not pay for the
    others.

    A ``Mapping`` (not a dict subclass) so EVERY standard mapping
    operation — ``in``, iteration, ``len``, ``.get()``, ``.items()``,
    ``dict(stages)`` — sees the lazy tail entries too (``items()`` /
    ``values()`` / ``dict()`` force them, the honest cost of
    enumerating; ``in`` / ``iter`` / ``len`` stay free).

    Also the stage lifecycle handle: the flow persists three relations
    (shared words, quality, exact) that would otherwise stay cached for
    the session's lifetime. ``close()`` — or leaving a ``with`` block —
    frees them (idempotent); the stage DataFrames remain valid
    afterwards, they just recompute instead of reading cache."""

    def __init__(self, eager: dict, thunks: dict, cached: list[DataFrame]):
        self._built = dict(eager)
        self._thunks = dict(thunks)
        self._cached = list(cached)

    def __getitem__(self, key):
        if key not in self._built:
            if key not in self._thunks:
                raise KeyError(key)
            self._built[key] = self._thunks.pop(key)()
        return self._built[key]

    def __iter__(self):
        yield from self._built
        yield from self._thunks

    def __len__(self):
        return len(self._built) + len(self._thunks)

    def close(self) -> None:
        """Unpersist the flow's cached relations (idempotent)."""
        cached, self._cached = self._cached, []
        for df in cached:
            df.unpersist()

    def __enter__(self) -> "CurationStages":
        return self

    def __exit__(self, *exc) -> bool:
        self.close()
        return False


def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    jaccard_threshold: float = 0.8,
    token_budget: int = 2048,
    n_shards: int = 8,
    pair_fn=None,
) -> CurationStages:
    """Run the full curation flow; returns each stage's output keyed by
    stage name (callers act on ``packed``/``shards``, or inspect
    intermediate stages for audit counts). The returned handle owns the
    flow's persisted relations — long-lived sessions should ``close()``
    it (or use it as a context manager) once done consuming stages."""
    # ONE tokenize+explode pass feeds EVERY word-grain stage — the Gopher
    # metrics aggregates, decontamination's k=5 shingles, and the
    # near-dup k=3 shingles all read this relation: build it over the raw
    # input once, co-partition + sort so every downstream lead() window
    # and id-keyed aggregate reads the cached layout with no new
    # Exchange/Sort. Stage-specific doc subsets come from semi-joins
    # (the big side's partitioning/order survives; only the small id set
    # shuffles), or — for decontamination — from not filtering at all:
    # shingling a few non-quality docs too is cheaper than re-tokenizing,
    # and contaminated ids outside `quality` are nullified by the
    # anti-join against quality anyway.
    words_all = (
        dedup.words_relation(docs, id_col, text_col)
        .repartition("id")
        .sortWithinPartitions("id", "pos")
        .persist()
    )
    metrics = corpus.repetition_metrics(
        docs, id_col, text_col, words=words_all
    )
    # persist: quality is re-read by the decontamination probe and both
    # sides of the exact-dedup split — Spark does not dedupe common
    # subplans across one action, so without the cache the metrics
    # aggregation would run 3-4×.
    quality = docs.join(
        metrics.filter("keep").select(F.col("id").alias(id_col)), id_col, "left_semi"
    ).persist()

    contaminated = corpus.decontaminate(
        docs, benchmark, id_col, text_col, corpus_words=words_all
    ).select(F.col("id").alias(id_col))
    clean = quality.join(contaminated, id_col, "left_anti")

    exact_keep = dedup.exact_dedup(clean, text_col, id_col).select(id_col)
    # persist: the widest fan-out point — the near-dup pair generator
    # (materialized by dedup_clusters' regime probe),
    # the `unique` anti-join, and every returned stage all re-derive the
    # full quality→decontaminate→exact lineage otherwise (Spark does not
    # dedupe common subplans across actions).
    # Semi-join the CACHED quality relation, not `clean`: exact_keep is
    # already a subset of clean's ids (the exact-dedup winners), so the
    # row set is identical — but joining `clean` would embed the
    # decontamination probe a SECOND time in one action (clean appears
    # both inside exact_keep's lineage and as the join's left side, and
    # Spark does not dedupe common subplans within an action either).
    # Why this stays a second persist rather than riding quality's
    # (r12 verdict #8, adjudicated r13): the alternatives re-run the
    # decontaminate words-grain join per post-probe action (no persist)
    # or re-shuffle the full wide corpus per consumer to semi-join a
    # narrow cached id set (persist ids only — exact_keep is ~N ids at
    # scale, too big to broadcast). At 100 TB, caching the wide
    # survivors once is strictly cheaper than either recompute; the
    # relation is owned and released by CurationStages.close().
    exact = quality.join(exact_keep, id_col, "left_semi").persist()
    words_exact = words_all.join(
        exact.select(F.col(id_col).alias("id")), "id", "left_semi"
    )

    # pair_fn injects the near-dup candidate strategy (minhash banding by
    # default; exact n-gram jaccard where full-recall verification is
    # wanted — the oracle-backed composition query uses that). It receives
    # (exact_docs, their words relation) so shingle-based strategies reuse
    # the shared tokenization.
    pairs = (
        pair_fn(exact, words_exact) if pair_fn is not None
        else dedup.minhash_lsh_pairs(
            exact, id_col, text_col, threshold=jaccard_threshold
        )
    )
    clusters = dedup.dedup_clusters(pairs)
    non_canonical = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    unique = exact.join(non_canonical, id_col, "left_anti")

    sampled = corpus.stratified_sample(
        unique, id_col, stratum_col, sample_rates or {}, default_rate
    )

    def _packed() -> DataFrame:
        with_tokens = sampled.withColumn(
            "n_tokens", token_count(F.col(text_col))
        )
        return corpus.pack_sequences(
            with_tokens, id_col, "n_tokens", token_budget
        )

    return CurationStages(
        {
            "metrics": metrics,
            "quality": quality,
            "clean": clean,
            "exact": exact,
            "unique": unique,
            "sampled": sampled,
        },
        {
            "packed": _packed,
            "shards": lambda: corpus.shuffle_shards(sampled, id_col, n_shards),
        },
        cached=[words_all, quality, exact],
    )


def curate_sampled_exact(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    jaccard_threshold: float = 0.8,
    k: int = 3,
    max_df: int | None = 200,
) -> DataFrame:
    """The curation composition's SAMPLED stage with the exact n-gram
    Jaccard pair strategy (full-recall verification — the oracle-backed
    composition query's configuration), with a fused small-regime path
    (guide §2.4/§4.2). Either regime returns exactly
    ``(id_col, stratum_col)`` with the source column types.

    Distributed regime (the default at scale): exactly ``curate()`` with
    ``pair_fn = ngram_jaccard_pairs(k, threshold, max_df, words=shared)``
    — one shared tokenize pass feeding every word-grain stage, unchanged
    from the adjudicated r12/r13 shape.

    Fused regime (a string stratum and BOTH inputs below the regime gate
    ann.fits_one_task — integral ids + a file-backed source whose listed
    bytes fit one task): the whole quality → decontaminate → exact-dedup →
    near-dup-components → keep-canonical tail runs as ONE mapInPandas
    task over (id, stratum, md5(text), words_array(text)) rows —
    tokenization and the content hash stay Spark expressions, identical
    to the distributed path by construction; the final stratified-sample
    filter stays the SAME ``corpus.stratified_sample`` operator over the
    task's output. Per-doc ids are assumed unique (the pipeline's input
    contract — duplicate ids make the staged flow's semi-join grains
    ill-defined too). Parity with the staged path is pinned in
    tests/test_corpus_asof_multimodal.py."""
    from pyspark.sql import types as T

    from id3c_spark.operators.ann import fits_one_task

    if (
        isinstance(docs.schema[stratum_col].dataType, T.StringType)
        and fits_one_task(docs, (id_col,))
        and fits_one_task(benchmark, (id_col,))
    ):
        unique = _fused_curation_unique(
            docs, benchmark, id_col, text_col, stratum_col,
            jaccard_threshold, k, max_df,
        )
        return corpus.stratified_sample(
            unique, id_col, stratum_col, sample_rates or {}, default_rate
        )
    stages = curate(
        docs,
        benchmark,
        id_col=id_col,
        text_col=text_col,
        stratum_col=stratum_col,
        sample_rates=sample_rates,
        default_rate=default_rate,
        pair_fn=lambda exact, words: dedup.ngram_jaccard_pairs(
            exact, id_col, text_col, k=k, threshold=jaccard_threshold,
            max_df=max_df, words=words,
        ),
    )
    return stages["sampled"].select(id_col, stratum_col)


def _fused_curation_unique(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    stratum_col: str,
    jaccard_threshold: float,
    k: int,
    max_df: int | None,
    max_top_word_frac: float = 0.2,
    min_distinct_ratio: float = 0.3,
    k_decontam: int = 5,
) -> DataFrame:
    """Single-task (id, stratum) relation of the curation UNIQUE stage —
    the numpy mirror of quality → decontaminate → exact dedup → near-dup
    components keep-canonical, over corpus+benchmark rows gathered into
    one narrow Arrow task. Exactness notes:

    - tokenize (words_array) and md5(text) are the SAME Spark
      expressions the staged operators evaluate; only word/integer work
      and the two round(x, 6) comparisons run in the task;
    - round(x, 6) replays Spark's BigDecimal(Double.toString) HALF_UP
      (repr(float) is the identical shortest round-trip decimal — the
      clustering.micros6/graph replay discipline), with a vectorized
      fast path: values farther than 2e-6 from the comparison threshold
      cannot change side under a ±5e-7 rounding perturbation, so only
      the near-tie band pays the Decimal replay;
    - empty/null-text docs have no word rows in the staged metrics
      aggregate and drop out of `quality` via the inner semi-join —
      mirrored by the n_words > 0 requirement;
    - decontamination shingles ALL corpus docs (the staged flow passes
      the unfiltered words relation; non-quality contaminated ids are
      nullified by the later intersection, identically);
    - the stop-shingle cap and pair intersections run over exact-winner
      docs only, exactly like ngram_jaccard_pairs(exact, words_exact);
    - components are min-root union-find over the surviving pairs — the
      same labels dedup_clusters' small regime produces."""
    from id3c_spark.functions.text import words_array
    from id3c_spark.operators.dedup import (
        _np_pair_intersections,
        _np_shingle_occurrences,
    )

    id_type = docs.schema[id_col].dataType.simpleString()
    st_type = docs.schema[stratum_col].dataType.simpleString()
    src = (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(stratum_col).alias("stratum"),
            F.md5(F.col(text_col)).alias("h"),
            words_array(F.col(text_col)).alias("ws"),
            F.lit(False).alias("is_bench"),
        )
        .unionByName(
            benchmark.select(
                F.col(id_col).alias("id"),
                F.lit(None).cast(st_type).alias("stratum"),
                F.lit(None).cast("string").alias("h"),
                words_array(F.col(text_col)).alias("ws"),
                F.lit(True).alias("is_bench"),
            )
        )
        .coalesce(1)
    )
    thr = float(jaccard_threshold)
    top_frac = float(max_top_word_frac)
    min_ratio = float(min_distinct_ratio)

    def run(batches):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        ids_l, strat_l, h_l, ws_l, bench_l = [], [], [], [], []
        for pdf in batches:
            if len(pdf):
                ids_l.append(pdf["id"].to_numpy(np.int64))
                strat_l.append(pdf["stratum"].to_numpy(object))
                h_l.append(pdf["h"].to_numpy(object))
                ws_l.extend(pdf["ws"].tolist())
                bench_l.append(pdf["is_bench"].to_numpy(bool))
        if not ids_l:
            return
        ids = np.concatenate(ids_l)
        strat = np.concatenate(strat_l)
        hh = np.concatenate(h_l)
        isb = np.concatenate(bench_l)
        ws_rows = [list(w) if w is not None else [] for w in ws_l]
        nrows = len(ids)
        six = Decimal("0.000001")

        def r6(x: float) -> float:
            # Spark Round(double, 6): BigDecimal.valueOf == repr replay
            return float(Decimal(repr(float(x))).quantize(six, ROUND_HALF_UP))

        def r6_cmp(x, t, ge: bool):
            """Vector round6(x) >= t (ge) / <= t (not ge): direct float
            compare outside the ±2e-6 tie band (round6 moves x by at
            most 5e-7), Decimal replay inside it."""
            x = np.asarray(x, dtype=np.float64)
            out = (x >= t) if ge else (x <= t)
            near = np.abs(x - t) <= 2e-6
            for i in np.flatnonzero(near):
                rx = r6(x[i])
                out[i] = (rx >= t) if ge else (rx <= t)
            return out

        corp = ~isb
        lens = np.asarray([len(w) for w in ws_rows], dtype=np.int64)
        # ---- quality gate: per-doc word stats (k=1 occurrences) ----
        quality = np.zeros(nrows, dtype=bool)
        rowi1, wcodes = _np_shingle_occurrences(ws_rows, 1)
        if rowi1 is not None:
            nv = np.int64(wcodes.max()) + 1
            ukey, ucnt = np.unique(rowi1 * nv + wcodes, return_counts=True)
            urow = (ukey // nv).astype(np.int64)
            n_distinct = np.bincount(urow, minlength=nrows)
            top_c = np.zeros(nrows, dtype=np.int64)
            np.maximum.at(top_c, urow, ucnt)
            hasw = corp & (lens > 0)
            nw = np.where(lens > 0, lens, 1).astype(np.float64)
            quality = (
                hasw
                & r6_cmp(top_c / nw, top_frac, ge=False)
                & r6_cmp(n_distinct / nw, min_ratio, ge=True)
            )
        # ---- decontamination: k_decontam-shingle overlap with bench ----
        contaminated = np.zeros(nrows, dtype=bool)
        rowd, coded = _np_shingle_occurrences(ws_rows, k_decontam)
        if rowd is not None:
            occ_b = isb[rowd]
            bcodes = np.unique(coded[occ_b])
            if len(bcodes):
                occ_c = ~occ_b
                hit = np.isin(coded[occ_c], bcodes)
                contaminated[np.unique(rowd[occ_c][hit])] = True
        clean = quality & ~contaminated
        # ---- exact dedup on md5(text): keep min id per hash ----
        exact = np.zeros(nrows, dtype=bool)
        ci = np.flatnonzero(clean)
        if len(ci):
            hcode, _ = pd.factorize(hh[ci])
            gmin = np.full(
                int(hcode.max()) + 1, np.iinfo(np.int64).max, dtype=np.int64
            )
            np.minimum.at(gmin, hcode, ids[ci])
            exact[ci[ids[ci] == gmin[hcode]]] = True
        # ---- near-dup pairs among exact winners → min-root components ----
        ex_idx = np.flatnonzero(exact)
        removed: set = set()
        if len(ex_idx) >= 2:
            rowe, codee = _np_shingle_occurrences(
                [ws_rows[i] for i in ex_idx], k
            )
            if rowe is not None:
                span = np.int64(codee.max()) + 1
                ukey2 = np.unique(rowe * span + codee)
                di = (ukey2 // span).astype(np.int64)
                si = ukey2 % span
                if max_df is not None:
                    freq = np.bincount(si)
                    keepm = freq[si] <= max_df
                    di, si = di[keepm], si[keepm]
                if len(di):
                    nex = len(ex_idx)
                    sizes = np.bincount(di, minlength=nex)
                    ai, bi, ninter = _np_pair_intersections(di, si, nex)
                    if ai is not None:
                        na = sizes[ai].astype(np.float64)
                        nb = sizes[bi].astype(np.float64)
                        jr = ninter.astype(np.float64) / (na + nb - ninter)
                        keep_pair = r6_cmp(jr, thr, ge=True)
                        exact_ids = ids[ex_idx]
                        parent: dict = {}

                        def find(x):
                            root = x
                            while parent.get(root, root) != root:
                                root = parent[root]
                            while parent.get(x, x) != x:
                                parent[x], x = root, parent[x]
                            return root

                        nodes = set()
                        for a_i, b_i in zip(
                            ai[keep_pair], bi[keep_pair]
                        ):
                            a_id = int(exact_ids[a_i])
                            b_id = int(exact_ids[b_i])
                            nodes.add(a_id)
                            nodes.add(b_id)
                            ra, rb = find(a_id), find(b_id)
                            if ra != rb:
                                if rb < ra:
                                    ra, rb = rb, ra
                                parent[rb] = ra
                        removed = {x for x in nodes if find(x) != x}
        keep_rows = [
            i for i in np.flatnonzero(exact) if int(ids[i]) not in removed
        ]
        if not keep_rows:
            return
        yield pd.DataFrame(
            {
                id_col: ids[keep_rows],
                stratum_col: [strat[i] for i in keep_rows],
            }
        )

    return src.mapInPandas(run, f"{id_col} {id_type}, {stratum_col} {st_type}")
