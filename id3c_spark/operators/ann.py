"""Similarity search over embedding columns (north star operators).

  - cosine_topk        — exact brute-force top-k neighbors; the baseline.
  - lsh_bucketed_topk  — random-hyperplane (SimHash) LSH buckets as the
                         scale path: candidates only within matching
                         buckets (multi-probe via band agreement).

Dot products are higher-order column expressions (zip_with + aggregate) —
JVM-side, no Python. Embeddings cast float→double before arithmetic so
results are reproducible against the oracle; similarity is rounded to 6 dp
before ranking with an id tiebreak, making top-k deterministic.

Scale (100 TB corpus): brute force is O(|Q|·|C|) — only for small query
sets or reranking. The LSH path shuffles on bucket keys; recall is tuned
by (planes, bands). For a production ANN at this scale you'd add an IVF
variant (k-means coarse quantizer via Spark ML, probe nearest centroids);
the bucketed join shape below is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.operators.dedup import md5_bigint


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _packed_blocks(
    df: DataFrame, id_col: str, vec_col: str, n_blocks: int, label: str
) -> DataFrame:
    """Pack vectors into block rows of (block, ids binary, mat binary) —
    the unit of the blocked cross-GEMM below — WITHOUT shuffling the
    corpus: each input partition packs itself in one Arrow pass,
    emitting a block row per ≤ AUTO_SHARD_ROWS rows. Blocked matmul is
    blocking-agnostic (every partial top-k / pair mask is merged by a
    global, 6-dp + id-tiebreak criterion), so ANY disjoint tiling gives
    identical results — hash-distributing rows to blocks first, as
    earlier rounds did, paid a full corpus shuffle purely to pick block
    boundaries. *n_blocks* only labels the expected block-count scale
    for the pair repartition (actual blocks follow the scan layout:
    ~maxPartitionBytes each — the same sizing the shard count derives
    from).

    The block payload is raw little-endian bytes (int64 ids, float64
    row-major matrix): shipping an array<struct<id, array<double>>>
    through the later crossJoin pays the Arrow nested-object conversion
    per block PAIR (measured 10×+ the GEMM itself); bytes convert with
    zero-copy np.frombuffer. The block id is the first row's id hashed —
    unique enough to spread the pair repartition; collisions only skew
    partitions, never results."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )

    def to_blocks(batches):
        acc_i: list = []
        acc_m: list = []
        n = 0
        out: list = []

        def flush():
            nonlocal acc_i, acc_m, n
            ids = np.concatenate(acc_i)
            mat = np.vstack(acc_m)
            blk = (int(ids[0]) * 2654435761) % (2**31 - 1)
            out.append((blk, ids.tobytes(), mat.tobytes()))
            acc_i, acc_m, n = [], [], 0

        for pdf in batches:
            if not len(pdf):
                continue
            acc_i.append(pdf["id"].to_numpy(dtype=np.int64))
            acc_m.append(
                np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
            )
            n += len(pdf)
            if n >= AUTO_SHARD_ROWS:
                flush()
        if n:
            flush()
        if out:
            yield pd.DataFrame(out, columns=[label, "ids", "mat"])

    return src.mapInPandas(to_blocks, f"{label} long, ids binary, mat binary")


def _unpack(ids_bytes: bytes, mat_bytes: bytes) -> tuple:
    import numpy as np

    ids = np.frombuffer(ids_bytes, dtype=np.int64)
    mat = np.frombuffer(mat_bytes, dtype=np.float64).reshape(len(ids), -1)
    return ids, mat


#: Rows per GEMM shard when shard counts are auto-derived: ~32 MB of
#: float64 at 64 dims. Callers with much fatter vectors should size
#: shards explicitly (bytes/shard scales linearly with dim).
AUTO_SHARD_ROWS = 65536


#: Parquet bytes per GEMM shard when sizing from file stats: compressed
#: source bytes under-represent in-memory float64 rows ~2-4×, so the
#: divisor is conservative relative to AUTO_SHARD_ROWS' 32 MB in-memory
#: target.
AUTO_SHARD_BYTES = 16 << 20


def _auto_shards(df: DataFrame, cap: int = 4096) -> int:
    """Stats-driven shard count — the same statistics-before-strategy
    step AQE applies to joins, applied to the block layout: a 2 k-vector
    corpus becomes ONE matmul task instead of a fixed 8×8 grid of
    overhead, while 100 M vectors get ~1.5 k shards that each fit a
    task's memory comfortably.

    When the frame maps to source files, shards come from the files'
    total size — a driver-side listing, NO Spark job (the per-call
    count() was a measurable share of small-corpus latency, and at
    100 TB a listing beats a scan outright; bytes-per-shard is how Spark
    itself sizes scan partitions). Filters between the scan and the
    GEMM only shrink rows, so file bytes over-estimate and the layout
    just gets a few extra (cheap, possibly empty) blocks. Frames with
    no file lineage (in-memory, post-shuffle) keep the exact
    column-pruned count."""
    total = source_bytes(df)
    if total is not None:
        return max(1, min(cap, -(-total // AUTO_SHARD_BYTES)))
    n = df.count()
    return max(1, min(cap, -(-n // AUTO_SHARD_ROWS)))


def source_bytes(df: DataFrame) -> int | None:
    """Estimated total source-file bytes behind *df*, or None when the
    frame has no file lineage (in-memory, post-shuffle). Driver-side
    listing only — NO Spark job (at 100 TB a listing beats a scan
    outright; bytes are the same statistic Spark itself sizes scan
    partitions from).

    Stats a bounded sample and extrapolates: a 100 TB table lists ~100k
    files, and one RPC per file would make the "cheap stats step" a
    listing storm; byte-driven layout choices only need the right order
    of magnitude. The sample STRIDES across the sorted listing rather
    than taking the first 64 — listings often lead with one bulk file
    or trail with compaction stragglers, and a positionally biased
    sample can misestimate by orders of magnitude (a severe
    underestimate routes jobs to their single-task paths)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return None
    jvm = df.sparkSession._jvm
    conf = df.sparkSession._jsc.hadoopConfiguration()
    ordered = sorted(files)
    stride = max(1, len(ordered) // 64)
    sample = ordered[::stride][:64]
    total = 0
    for f in sample:
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    return int(total * len(files) / len(sample))


def fits_one_task(
    df: DataFrame, int_cols: tuple = (), double_cols: tuple = ()
) -> bool:
    """The one regime gate: True when *df* runs as ONE fused narrow
    task instead of the distributed plan — every column in *int_cols*
    is integral (the numpy mirrors carry ids as int64), every column in
    *double_cols* is double, and the frame is file-backed with listed
    source bytes ≤ AUTO_SHARD_BYTES (source_bytes: driver-side listing,
    no Spark job). Derived frames keep their lineage through
    inputFiles(), so a filtered scan gates on its source; in-memory
    frames and large sources keep the distributed plans. File-backed
    also guarantees ≥ 1 scan partition (a parquet footer is never 0
    bytes), so the fused task runs even on an empty source. Both
    regimes return the same schema; callers gating several frames
    combine calls with ``and``."""
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    schema = df.schema
    if not all(isinstance(schema[c].dataType, integral) for c in int_cols):
        return False
    if not all(isinstance(schema[c].dataType, T.DoubleType) for c in double_cols):
        return False
    b = source_bytes(df)
    return b is not None and b <= AUTO_SHARD_BYTES


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_shards: int | None = None,
    query_blocks: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors (excluding self) per query vector.

    Fully distributed blocked GEMM — nothing is collected to the driver:
    queries pack into B block-rows and the corpus into S shard-rows (both
    by id hash), the B×S crossJoin gives one task per block pair, and each
    task runs one BLAS matmul + partial top-k over its (query block,
    corpus shard). The global exact top-k per query is the top-k of the
    ≤ k·S partial candidates, taken with a window over rows that number
    |Q|·S·k — never the full |Q|·|C| similarity matrix.

    Communication cost is the classic block-matmul bound S·|Q| + B·|C|
    rows shuffled. Shard counts default to STATS-DRIVEN (_auto_shards:
    ceil(N / 65536), ~32 MB per shard at 64-dim float64) so a small
    corpus runs as one matmul task while 100 M × 64-dim gets ~1.5 k
    shards that each fit a task comfortably; FLOPs are unchanged by the
    layout (exact search is O(|Q|·|C|·dim) regardless — past exact-search
    scale use lsh/ivf_topk). Pass explicit counts for fat vectors.

    Similarity is rounded to 6 dp before ranking with an id tiebreak (both
    in the partial and final ranking), so results are deterministic and
    oracle-matching regardless of block boundaries.
    """
    import numpy as np
    import pandas as pd

    if queries is corpus:
        auto = (corpus_shards or query_blocks or _auto_shards(corpus))
        corpus_shards = corpus_shards or auto
        query_blocks = query_blocks or auto
    else:
        corpus_shards = corpus_shards or _auto_shards(corpus)
        query_blocks = query_blocks or _auto_shards(queries)
    same = queries is corpus and query_blocks == corpus_shards
    if same and corpus_shards == 1:
        # single-shard self-search fast path (see cosine_pairs_above):
        # the corpus fits one GEMM task, so the pack exchange, crossJoin,
        # AND the final row_number window (its partial top-k is already
        # global when there is exactly one block pair) all collapse into
        # one narrow stage. Ordering, 6-dp rounding, and id tiebreak are
        # identical to the sharded path, so results are bit-equal.
        src = corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        ).coalesce(1)

        def fused_topk(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            norm = np.sqrt((mat * mat).sum(axis=1))
            # chunked GEMM + vectorized per-row top-k: one (chunk, n)
            # sims block at a time instead of the full n×n matrix —
            # bounds peak memory at O(chunk·n) whatever the single
            # shard holds (the gate admits up to AUTO_SHARD_ROWS rows,
            # where n² would be tens of GB). Candidate columns are
            # pre-sorted by (id asc, position asc), so a STABLE row
            # argsort on -sims reads out the identical
            # (sim desc, id asc) order the previous per-row lexsort
            # produced; self-exclusion (by ID, as before) masks to
            # -inf — which sorts after every real cosine and before
            # NaNs, exactly where the excluded rows sat — then the
            # window is sized past the worst per-row self count and
            # self slots are dropped.
            n = len(ids)
            corder = np.argsort(ids, kind="stable")
            ids_s = ids[corder]
            mat_s = mat[corder]
            norm_s = norm[corder]
            chunk = max(16, (2 << 20) // max(n, 1))
            q_parts, n_parts, s_parts, r_parts = [], [], [], []
            for c0 in range(0, n, chunk):
                c1 = min(c0 + chunk, n)
                sims_c = np.round(
                    (mat[c0:c1] @ mat_s.T) / np.outer(norm[c0:c1], norm_s), 6
                )
                self_mask = ids_s[None, :] == ids[c0:c1, None]
                sims_c[self_mask] = -np.inf
                t1 = min(
                    k + int(self_mask.sum(axis=1).max(initial=0)), n
                )
                order = np.argsort(-sims_c, axis=1, kind="stable")[:, :t1]
                sel = np.take_along_axis(sims_c, order, axis=1)
                not_self = sel.ravel() > -np.inf
                nan_sel = np.isnan(sel.ravel())
                keep_sel = not_self | nan_sel
                rq = np.repeat(np.arange(c0, c1), t1)[keep_sel]
                rn = ids_s[order.ravel()[keep_sel]]
                rs = sel.ravel()[keep_sel]
                if not len(rq):
                    continue
                row_start = np.flatnonzero(np.r_[True, rq[1:] != rq[:-1]])
                row_sizes = np.diff(np.r_[row_start, len(rq)])
                posw = np.arange(len(rq)) - np.repeat(row_start, row_sizes)
                keep_k = posw < k
                q_parts.append(ids[rq[keep_k]])
                n_parts.append(rn[keep_k])
                s_parts.append(rs[keep_k])
                r_parts.append((posw[keep_k] + 1).astype(np.int32))
            if not q_parts:
                return
            yield pd.DataFrame({
                "query_id": np.concatenate(q_parts),
                "neighbor_id": np.concatenate(n_parts),
                "sim": np.concatenate(s_parts),
                "rank": pd.array(np.concatenate(r_parts), dtype="int32"),
            })

        return src.mapInPandas(
            fused_topk,
            schema="query_id long, neighbor_id long, sim double, rank int",
        )
    qpacked = _packed_blocks(queries, id_col, vec_col, query_blocks, "qb")
    if same:
        # self-search: one packing pass feeds both crossJoin sides. An
        # explicit exchange below the crossJoin makes the two sides the
        # identical shuffle, which Spark reuses (ReusedExchange) — the
        # packing mapInPandas runs ONCE per action with nothing cached,
        # so repeated calls leak no storage blocks (a persist here
        # outlived the caller's action; measured the exchange is also
        # faster than the cache write at bench scale)
        qpacked = qpacked.repartition("qb")
        cpacked = qpacked
    else:
        # materialize BOTH pack stages behind an exchange before the
        # crossJoin (r16): a cartesian recomputes its un-materialized
        # child lineage once per partition PAIR, so the bare packed
        # sides re-ran their Python pack passes O(P_q x P_c) times —
        # at scale that is O(S) redundant passes over the query side,
        # and on a many-partition in-memory frame it re-paid Python
        # runner setup per sub-pair (measured 300+ s for a 6-row corpus
        # on local[32]; 0.7 s with the exchanges). The exchange bytes
        # are the packed blocks themselves — the S·|Q| + B·|C| bound the
        # layout already pays.
        qpacked = qpacked.repartition("qb")
        cpacked = _packed_blocks(
            corpus, id_col, vec_col, corpus_shards, "cb"
        ).repartition("cb")
    q = qpacked.toDF("qb", "q_ids", "q_mat")
    c = cpacked.toDF("cb", "c_ids", "c_mat")
    n_pairs = query_blocks * corpus_shards
    if n_pairs > 1:
        # spread the block pairs one-per-task
        pairs = q.crossJoin(c).repartition(n_pairs, "qb", "cb")
    else:
        # single pair: an exchange is a pure extra stage, but the bare
        # crossJoin inherits the pack groupBy's (mostly empty) partitions
        # — coalesce narrows to one task without a shuffle
        pairs = q.crossJoin(c).coalesce(1)

    def partial_topk(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                qids, qmat = _unpack(row["q_ids"], row["q_mat"])
                cids, cmat = _unpack(row["c_ids"], row["c_mat"])
                qnorm = np.sqrt((qmat * qmat).sum(axis=1))
                cnorm = np.sqrt((cmat * cmat).sum(axis=1))
                sims = np.round((qmat @ cmat.T) / np.outer(qnorm, cnorm), 6)
                out_q, out_n, out_s = [], [], []
                for i in range(len(qids)):
                    mask = cids != qids[i]
                    cand_ids = cids[mask]
                    cand_sims = sims[i][mask]
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                    out_q.extend([qids[i]] * len(order))
                    out_n.extend(cand_ids[order])
                    out_s.extend(cand_sims[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
                )

    partial = pairs.mapInPandas(
        partial_topk, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )


def cosine_pairs_above(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_shards: int | None = None,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) with cosine ≥ threshold —
    embedding-based near-dup detection. Same blocked cross-GEMM shape as
    cosine_topk (no driver collect, no broadcast): S×S shard pairs, one
    matmul + boolean mask per pair, threshold applied before any
    quadratic row materialization.

    Scale: for corpora past exact-search size, run lsh_bucketed_topk
    first and threshold-filter its rerank output instead.
    """
    import numpy as np
    import pandas as pd

    corpus_shards = corpus_shards or _auto_shards(corpus)
    if corpus_shards == 1:
        # single-shard fast path: the whole corpus fits one GEMM task
        # (≤ ~AUTO_SHARD_ROWS by the stats that chose 1 shard), so the
        # pack stage, its exchange, and the crossJoin buy nothing — fuse
        # scan → normalize → GEMM → threshold mask into ONE narrow stage
        # (coalesce is not a shuffle). Identical arithmetic and rounding
        # to the sharded path, so results are bit-equal; at bench scale
        # this halves the fixed per-run cost of a sub-second plan.
        src = corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        ).coalesce(1)

        def fused_pairs(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            mat = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
            # chunked GEMM: one (chunk, n) sims block at a time instead
            # of the full n×n matrix — bounds the task's peak memory at
            # O(chunk·n) whatever the single shard holds (the gate
            # admits up to AUTO_SHARD_ROWS rows, where a full n² block
            # would be tens of GB). Arithmetic per pair is the identical
            # round(row @ mat.T, 6); the (id_a asc row order,
            # id_b asc within row) emission order is unchanged.
            n = len(ids)
            chunk = max(16, (2 << 20) // max(n, 1))
            a_parts, b_parts, s_parts = [], [], []
            for c0 in range(0, n, chunk):
                c1 = min(c0 + chunk, n)
                sims_c = np.round(mat[c0:c1] @ mat.T, 6)
                hit = (ids[None, :] > ids[c0:c1, None]) & (sims_c >= threshold)
                ri, ci = np.nonzero(hit)
                if not len(ri):
                    continue
                a_parts.append(ids[c0:c1][ri])
                b_parts.append(ids[ci])
                s_parts.append(sims_c[ri, ci])
            if not a_parts:
                return
            yield pd.DataFrame({
                "id_a": np.concatenate(a_parts),
                "id_b": np.concatenate(b_parts),
                "sim": np.concatenate(s_parts),
            })

        return src.mapInPandas(
            fused_pairs, schema="id_a long, id_b long, sim double"
        )
    # one exchange feeds both crossJoin sides via ReusedExchange — the
    # packing pass runs once per action, nothing cached (see cosine_topk)
    blocks = _packed_blocks(
        corpus, id_col, vec_col, corpus_shards, "qb"
    ).repartition("qb")
    pairs = blocks.toDF("qb", "a_ids", "a_mat").crossJoin(
        blocks.toDF("cb", "c_ids", "c_mat")
    )
    pairs = (
        pairs.repartition(corpus_shards * corpus_shards, "qb", "cb")
        if corpus_shards > 1
        else pairs.coalesce(1)  # see cosine_topk: no exchange for one pair
    )

    def shard_pairs(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                aids, amat = _unpack(row["a_ids"], row["a_mat"])
                cids, cmat = _unpack(row["c_ids"], row["c_mat"])
                amat = amat / np.sqrt((amat * amat).sum(axis=1))[:, None]
                cmat = cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]
                sims = np.round(amat @ cmat.T, 6)
                out_a, out_b, out_s = [], [], []
                for i in range(len(aids)):
                    mask = (cids > aids[i]) & (sims[i] >= threshold)
                    out_a.extend([aids[i]] * int(mask.sum()))
                    out_b.extend(cids[mask])
                    out_s.extend(sims[i][mask])
                yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s})

    return pairs.mapInPandas(shard_pairs, schema="id_a long, id_b long, sim double")


def hyperplanes(dim: int, planes: int, seed: str = "lsh"):
    """Deterministic pseudo-random hyperplane matrix (planes × dim):
    w[p][d] = (md5_int(seed:p:d) / 2^27) - 1 ∈ [-1, 1). Computed once on
    the driver — constants must never be re-derived per row."""
    import hashlib

    import numpy as np

    w = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:7], 16)
            w[p, d] = h / float(2 ** 27) - 1.0
    return w


#: Fixed-point scale for SRP projections: multiplying a float by 2^20 is
#: EXACT in IEEE double (pure exponent shift), so trunc(v * SRP_SCALE) is
#: the same integer in numpy and any SQL engine — the whole sketch is
#: exact int64 arithmetic with zero float-order sensitivity.
SRP_SCALE = 1 << 20


def srp_sign_matrix(dim: int, bits: int, seed: str = "srp"):
    """±1 sign matrix (bits × dim) from md5 parity — deterministic,
    engine-independent, and cheap enough to re-derive inside each task
    (bits × dim digests) instead of shipping through a broadcast."""
    import hashlib

    import numpy as np

    s = np.empty((bits, dim), dtype=np.int64)
    for b in range(bits):
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{b}:{d}".encode()).hexdigest()
            s[b, d] = 1 if int(h[0], 16) % 2 == 0 else -1
    return s


def srp_sketch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 48,
    seed: str = "srp",
) -> DataFrame:
    """Signed-random-projection (SimHash-for-vectors, Charikar 2002)
    sketch: bit j of the int64 sketch is 1 iff the dot product with the
    j-th ±1 hyperplane is >= 0. Hamming distance between sketches
    estimates angular distance at 1 bit per plane — a 64-dim float
    embedding compresses 48× into one bigint that equi-joins, bands,
    and XORs like any key.

    Exactness: components are fixed-pointed via trunc(v * SRP_SCALE)
    (exact — see SRP_SCALE) and the GEMM runs in int64, so the sketch is
    bit-identical across engines and partitionings. One mapInPandas pass
    (Arrow-batched numpy matmul), no shuffle; bits <= 62 keeps the packed
    value in a non-negative signed int64."""
    import numpy as np
    import pandas as pd

    if not 0 < bits <= 62:
        raise ValueError("bits must be in (0, 62] to pack into int64")
    src = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))

    def gen(batches):
        signs = None
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if signs is None:
                signs = srp_sign_matrix(mat.shape[1], bits, seed)
            q = np.trunc(mat * SRP_SCALE).astype(np.int64)
            proj = q @ signs.T
            sk = ((proj >= 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "sketch": sk})

    return src.mapInPandas(gen, "id long, sketch long")


def _fused_sketch_pairs(
    sk: DataFrame, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """Single-task mirror of the banded hamming self-join for the
    stats-gated small regime: ONE small exchange (repartition(1) — the
    upstream sketch pass keeps its parallelism) gathers the 8-byte
    (id, sketch) rows, then band-bucket candidate generation + a 16-bit
    popcount-LUT refine replay the band equi-join + bit_count(xor) +
    distinct tail (4 exchanges) in numpy. Identical pairs: candidates
    are exactly the row pairs agreeing on >= 1 band slice (the same
    slices, via the same unsigned shifts), id_a < id_b and the triple
    distinct are applied the same way, and the popcount equals
    bit_count on the 64-bit xor."""
    import numpy as np
    import pandas as pd

    width = bits // bands
    src = sk.repartition(1)

    def run(batches):
        id_parts, sk_parts = [], []
        for pdf in batches:
            if len(pdf):
                id_parts.append(pdf["id"].to_numpy(np.int64))
                sk_parts.append(pdf["sketch"].to_numpy(np.int64))
        if not id_parts:
            return
        ids = np.concatenate(id_parts)
        u = np.concatenate(sk_parts).view(np.uint64)
        # id-sorted layout: in-bucket position pairs i<j then give
        # ids[i] <= ids[j] directly (id_a < id_b after dropping equals)
        order = np.argsort(ids, kind="stable")
        ids, u = ids[order], u[order]
        n = len(ids)
        mask = np.uint64((1 << width) - 1)
        code_parts = []
        for b in range(bands):
            bv = (u >> np.uint64(b * width)) & mask
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
        x = u[pi] ^ u[pj]
        lut = np.unpackbits(
            np.arange(65536, dtype=np.uint16).view(np.uint8)
        ).reshape(65536, 16).sum(axis=1).astype(np.int64)
        m16 = np.uint64(0xFFFF)
        ham = (
            lut[(x & m16).astype(np.int64)]
            + lut[((x >> np.uint64(16)) & m16).astype(np.int64)]
            + lut[((x >> np.uint64(32)) & m16).astype(np.int64)]
            + lut[((x >> np.uint64(48)) & m16).astype(np.int64)]
        )
        keep = (ham <= max_hamming) & (ids[pi] != ids[pj])
        if not keep.any():
            return
        # triple distinct (duplicate-id rows can repeat a triple, like
        # the distributed .distinct())
        triples = np.unique(
            np.stack([ids[pi[keep]], ids[pj[keep]], ham[keep]], axis=1),
            axis=0,
        )
        yield pd.DataFrame({
            "id_a": triples[:, 0],
            "id_b": triples[:, 1],
            "hamming": triples[:, 2].astype(np.int32),
        })

    t = sk.schema["id"].dataType.simpleString()
    return src.mapInPandas(run, f"id_a {t}, id_b {t}, hamming int")


def sketch_hamming_pairs(
    sk: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """All pairs of int64 bit-sketches (columns: id, sketch) within
    *max_hamming* — the shared banded-join core behind srp_pairs and
    multimodal.image_phash_pairs. Returns (id_a, id_b, hamming),
    id_a < id_b.

    COMPLETE, not approximate: the sketch splits into *bands* equal bit
    slices and pairs equi-join on any identical slice; by pigeonhole a
    pair differing in max_hamming < bands bits must agree on >= 1 whole
    slice, so banding loses nothing while reducing the join to bucket
    collisions. The verify step is one XOR+popcount per candidate —
    int64 ops in codegen, no Python. Scale: sketches are 8 bytes/row;
    the band shuffle keys on (band, slice value) exactly like the
    MinHash-LSH banded join."""
    if max_hamming >= bands:
        raise ValueError(
            "completeness needs max_hamming < bands (pigeonhole guarantee)"
        )
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    # a small file-backed sketch source runs the band-bucket + popcount
    # refine as one narrow task after one tiny exchange (see
    # _fused_sketch_pairs); sketches are 8 bytes/row, so the gate bounds
    # the gathered relation far below one task's memory
    if fits_one_task(sk, ("id",)):
        return _fused_sketch_pairs(sk, bits, bands, max_hamming)
    width = bits // bands
    mask = (1 << width) - 1
    banded = sk.select(
        "id",
        "sketch",
        F.explode(
            F.array(
                *(
                    F.struct(
                        F.lit(b).alias("band"),
                        # logical shift: a full-64-bit sketch is negative
                        # in two's complement and arithmetic shift would
                        # sign-extend the top band
                        F.shiftrightunsigned("sketch", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                )
            )
        ).alias("bv"),
    ).select("id", "sketch", "bv.band", "bv.val")
    # one exchange on the join keys BELOW the self-join: both sides are
    # then the identical shuffle and Spark reuses it (ReusedExchange), so
    # the sketch pipeline upstream computes ONCE per action with no
    # persist — a persist here would outlive the caller's action and
    # accumulate storage blocks across calls in a long-lived session
    banded = banded.repartition("band", "val")
    left = banded.select(
        F.col("id").alias("id_a"), F.col("sketch").alias("sk_a"), "band", "val"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("sketch").alias("sk_b"), "band", "val"
    )
    ham = F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _fused_sketch_join(
    left: DataFrame, right: DataFrame, bits: int, bands: int, max_hamming: int
) -> DataFrame:
    """Single-task mirror of the bipartite banded hamming join for the
    stats-gated small regime: a constant-key cogroup gathers both
    8-byte sketch relations into one task (two tiny exchanges replace
    two band exchanges + join + distinct), band-bucket candidates pair
    left rows against right rows only, and the popcount refine +
    triple distinct replay the distributed tail. Ids stay opaque pandas
    values (struct ids ride through Arrow as dicts), so the id schema
    is whatever the caller's relations carry — identical to the
    distributed output schema."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    width = bits // bands
    out_schema = T.StructType([
        T.StructField("id_a", left.schema["id"].dataType),
        T.StructField("id_b", right.schema["id"].dataType),
        T.StructField("hamming", T.IntegerType()),
    ])

    def run(key: tuple, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        # object-dtype empties: a default float64 empty column cannot
        # Arrow-cast to a struct id type (struct ids ride as dicts)
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype=object),
            "id_b": pd.Series([], dtype=object),
            "hamming": pd.Series([], dtype="int32"),
        })
        if not len(lpdf) or not len(rpdf):
            return empty
        ua = lpdf["sketch"].to_numpy(np.int64).view(np.uint64)
        ub = rpdf["sketch"].to_numpy(np.int64).view(np.uint64)
        na, nb = len(ua), len(ub)
        mask = np.uint64((1 << width) - 1)
        code_parts = []
        for b in range(bands):
            va = (ua >> np.uint64(b * width)) & mask
            vb = (ub >> np.uint64(b * width)) & mask
            oa, ob = np.argsort(va, kind="stable"), np.argsort(vb, kind="stable")
            sa, sbv = va[oa], vb[ob]
            common = np.intersect1d(sa, sbv)
            for val in common:
                ia = oa[np.searchsorted(sa, val): np.searchsorted(sa, val, "right")]
                ib = ob[np.searchsorted(sbv, val): np.searchsorted(sbv, val, "right")]
                code_parts.append(
                    (ia[:, None] * np.int64(nb) + ib[None, :]).reshape(-1)
                )
        if not code_parts:
            return empty
        codes = np.unique(np.concatenate(code_parts))
        pi, pj = codes // nb, codes % nb
        x = ua[pi] ^ ub[pj]
        lut = np.unpackbits(
            np.arange(65536, dtype=np.uint16).view(np.uint8)
        ).reshape(65536, 16).sum(axis=1).astype(np.int64)
        m16 = np.uint64(0xFFFF)
        ham = (
            lut[(x & m16).astype(np.int64)]
            + lut[((x >> np.uint64(16)) & m16).astype(np.int64)]
            + lut[((x >> np.uint64(32)) & m16).astype(np.int64)]
            + lut[((x >> np.uint64(48)) & m16).astype(np.int64)]
        )
        keep = ham <= max_hamming
        if not keep.any():
            return empty
        pi, pj, ham = pi[keep], pj[keep], ham[keep]
        # triple distinct over (id value, id value, hamming): map each
        # side's id VALUES to codes (dict ids hash by canonical items)
        def id_codes(series):
            seen: dict = {}
            out = np.empty(len(series), dtype=np.int64)
            for i, v in enumerate(series):
                k = tuple(sorted(v.items())) if isinstance(v, dict) else v
                out[i] = seen.setdefault(k, len(seen))
            return out

        ca = id_codes(lpdf["id"])[pi]
        cb = id_codes(rpdf["id"])[pj]
        _, first = np.unique(
            np.stack([ca, cb, ham], axis=1), axis=0, return_index=True
        )
        first.sort()
        return pd.DataFrame({
            "id_a": lpdf["id"].to_numpy(object)[pi[first]],
            "id_b": rpdf["id"].to_numpy(object)[pj[first]],
            "hamming": ham[first].astype(np.int32),
        })

    lg = left.groupBy(F.lit(0).alias("__g"))
    rg = right.groupBy(F.lit(0).alias("__g"))
    return lg.cogroup(rg).applyInPandas(run, out_schema)


def sketch_hamming_join(
    left: DataFrame,
    right: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """Bipartite variant of sketch_hamming_pairs: all (left.id, right.id)
    pairs whose int64 bit-sketches differ in <= *max_hamming* bits —
    same banded equi-join and pigeonhole completeness argument, but
    across two DIFFERENT relations (e.g. benchmark-image hashes vs
    video-frame hashes), so no id_a < id_b dedup and each side keeps its
    own banding pass. Inputs: (id, sketch) on both sides; returns
    (id_a from left, id_b from right, hamming)."""
    if max_hamming >= bands:
        raise ValueError(
            "completeness needs max_hamming < bands (pigeonhole guarantee)"
        )
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    # when BOTH sketch sources fit one task, the band join + distinct
    # collapse into one narrow cogroup task (see _fused_sketch_join)
    if fits_one_task(left) and fits_one_task(right):
        return _fused_sketch_join(left, right, bits, bands, max_hamming)
    width = bits // bands
    mask = (1 << width) - 1

    def banded(df: DataFrame, id_out: str, sk_out: str) -> DataFrame:
        return df.select(
            F.col("id").alias(id_out),
            F.col("sketch").alias(sk_out),
            F.explode(
                F.array(
                    *(
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftrightunsigned("sketch", b * width)
                            .bitwiseAND(F.lit(mask))
                            .alias("val"),
                        )
                        for b in range(bands)
                    )
                )
            ).alias("bv"),
        ).select(id_out, sk_out, "bv.band", "bv.val").repartition("band", "val")

    ham = F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
    return (
        banded(left, "id_a", "sk_a")
        .join(banded(right, "id_b", "sk_b"), ["band", "val"])
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def srp_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 48,
    bands: int = 6,
    max_hamming: int = 5,
    seed: str = "srp",
) -> DataFrame:
    """All pairs whose SRP sketches differ in <= *max_hamming* of *bits*
    planes — angular near-duplicate candidates found WITHOUT any vector
    math at join time; see sketch_hamming_pairs for the completeness
    argument and scale shape."""
    # no persist: sketch_hamming_pairs shares the sketch pass across both
    # self-join sides via its join-key exchange (ReusedExchange), so a
    # cache here would only leak storage blocks past the caller's action
    sk = srp_sketch(df, id_col, vec_col, bits, seed)
    return sketch_hamming_pairs(sk, bits, bands, max_hamming)


def _score_pairs(cand: DataFrame, qe: DataFrame, ce: DataFrame) -> DataFrame:
    """Distributed exact-cosine rerank shared by the LSH and IVF paths:
    join candidate pairs back to the embedding columns (two equi-joins on
    id — embeddings never leave executors) and score each Arrow batch with
    vectorized numpy row-dots. *qe* = (query_id, qv), *ce* = (neighbor_id,
    cv)."""
    import numpy as np
    import pandas as pd

    pairs = cand.join(qe, "query_id").join(ce, "neighbor_id")

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["qv"]])
            cm = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
            sims = np.round(
                (qm * cm).sum(axis=1)
                / (np.sqrt((qm * qm).sum(axis=1)) * np.sqrt((cm * cm).sum(axis=1))),
                6,
            )
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "neighbor_id": pdf["neighbor_id"], "sim": sims}
            )

    return pairs.mapInPandas(score, "query_id long, neighbor_id long, sim double")


def _prep(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))


def _ivf_pivots(cp: DataFrame, nlist: int):
    """Deterministic coarse-quantizer pivots: the *nlist* corpus vectors
    with the smallest md5(id) — an order-invariant uniform sample both
    Spark and the DuckDB oracle derive exactly. Returns a broadcast of
    (pivot_ids sorted asc, row-normalized pivot matrix, RAW pivot
    matrix), tiny (nlist × dim); the raw matrix is what residual (IVFADC)
    encoding subtracts."""
    import numpy as np

    piv_rows = (
        cp.orderBy(F.md5(F.col("id").cast("string")), F.col("id")).limit(nlist).collect()
    )
    piv_ids = np.asarray([r.id for r in piv_rows])
    order = np.argsort(piv_ids)
    piv_ids = piv_ids[order]
    # an empty corpus has no pivots: a (0, 0) matrix keeps the staged
    # passes well-formed (their assignment sees no rows)
    raw = (
        np.asarray([np.asarray(piv_rows[i].v, dtype=np.float64) for i in order])
        if piv_rows else np.empty((0, 0))
    )
    piv_mat = raw / np.sqrt((raw * raw).sum(axis=1))[:, None]
    return cp.sparkSession.sparkContext.broadcast((piv_ids, piv_mat, raw))


def _ivf_assign(df: DataFrame, bp, n_cells: int) -> DataFrame:
    """(id, cell) rows: each vector's *n_cells* nearest pivots (cosine,
    6-dp rounded, pivot-id tiebreak) — one Arrow GEMM pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        ids, mat = bp.value[0], bp.value[1]
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            vm = vm / np.sqrt((vm * vm).sum(axis=1))[:, None]
            sims = np.round(vm @ mat.T, 6)
            out_id, out_cell = [], []
            for i, rid in enumerate(pdf["id"].values):
                # stable sort: ties broken by pivot id ascending, matching
                # the oracle's ORDER BY sim DESC, pivot_id
                top = np.argsort(-sims[i], kind="stable")[:n_cells]
                out_id.extend([rid] * len(top))
                out_cell.extend(ids[top])
            yield pd.DataFrame({"id": out_id, "cell": out_cell})

    return df.mapInPandas(gen, "id long, cell long")


def _self_cell_topk_np(ids, mat, cell_of, probes, n_cells, k):
    """Task-side IVF self-search scorer shared by the fused ivf_topk and
    ivf_trained_topk paths: per probed cell, one small GEMM of the
    probing queries against the cell members — the same
    round(GEMM/outer(norms)) formula as _cell_gemm_topk's score(), so
    fused and staged sims are the same doubles. Scoring cell-by-cell in
    bounded probe chunks (instead of gathering |pairs|×dim pair-expanded
    matrices) caps peak temporaries at O(chunk·cell) however large the
    single shard is. Per-cell top-k pruning is exact: a corpus row lives
    in exactly ONE cell, so candidates are disjoint across cells and the
    global top-k equals the merge of per-cell top-k (the _cell_gemm_topk
    partial-top-k argument); the merge input stays ≤ n·nprobe·k rows.
    Returns the ranked pandas DataFrame, or None when nothing scored.

    Self-exclusion is BY ID (the staged cids != qids[i] rule — ADVICE
    r15). Bit-parity with the staged path assumes UNIQUE corpus ids:
    duplicate ids leave the md5 pivot choice and the staged window's
    duplicate-row crowding ill-defined, though the exclusion rule
    itself still holds (pinned in test_dedup_similarity)."""
    import numpy as np
    import pandas as pd

    n = len(ids)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    qi_parts, ci_parts, s_parts = [], [], []
    chunk = 1024
    for c in range(n_cells):
        mem = np.flatnonzero(cell_of == c)
        if not len(mem):
            continue
        probing = np.flatnonzero((probes == c).any(axis=1))
        if not len(probing):
            continue
        # columns ordered by (id asc, input position asc): a
        # STABLE row argsort on -sims then reads out exactly the
        # (sim desc, id asc) candidate order of the staged
        # window and the previous per-pair lexsort
        mem = mem[np.argsort(ids[mem], kind="stable")]
        for s0 in range(0, len(probing), chunk):
            pr = probing[s0:s0 + chunk]
            sims_c = np.round(
                (mat[pr] @ mat[mem].T) / np.outer(nrm[pr], nrm[mem]),
                6,
            )
            # self-exclusion BY ID (r16, ADVICE): the staged
            # _cell_gemm_topk drops every candidate whose id equals
            # the query's id (cids != qids[i]), so with duplicate
            # corpus ids all self-id columns mask to -inf — they sort
            # after every real cosine and before NaNs, which argsort
            # orders last exactly like the staged lexsort; the window
            # widens past the worst per-row self count, then self
            # slots drop and the first k real candidates remain
            self_mask = ids[mem][None, :] == ids[pr][:, None]
            sims_c[self_mask] = -np.inf
            kk1 = min(
                k + int(self_mask.sum(axis=1).max(initial=0)), len(mem)
            )
            order = np.argsort(-sims_c, axis=1, kind="stable")[:, :kk1]
            sel = np.take_along_axis(sims_c, order, axis=1)
            flat = sel.ravel()
            not_self = (flat > -np.inf) | np.isnan(flat)
            rq = np.repeat(pr, kk1)[not_self]
            rc = mem[order.ravel()[not_self]]
            rs = flat[not_self]
            if not len(rq):
                continue
            row_new = np.r_[True, rq[1:] != rq[:-1]]
            row_start = np.flatnonzero(row_new)
            row_sizes = np.diff(np.r_[row_start, len(rq)])
            posw = (
                np.arange(len(rq))
                - np.repeat(row_start, row_sizes)
            )
            keep_k = posw < k
            qi_parts.append(rq[keep_k])
            ci_parts.append(rc[keep_k])
            s_parts.append(rs[keep_k])
    if not qi_parts:
        return None
    qi = np.concatenate(qi_parts)
    ci = np.concatenate(ci_parts)
    sims = np.concatenate(s_parts)
    if not len(qi):
        return None
    qids, cids = ids[qi], ids[ci]
    o = np.lexsort((cids, -sims, qids))
    qs, cs, ss = qids[o], cids[o], sims[o]
    grp_start = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    sizes = np.diff(np.r_[grp_start, len(qs)])
    rank = np.arange(len(qs)) - np.repeat(grp_start, sizes) + 1
    top = rank <= k
    return pd.DataFrame({
        "query_id": qs[top], "neighbor_id": cs[top],
        "sim": ss[top],
        "rank": pd.array(rank[top], dtype="int32"),
    })


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the production-scale companion to lsh_bucketed_topk.

    Instead of trained k-means centroids (whose Lloyd iterations are not
    reproducible across engines), the *nlist* coarse cells are anchored on
    deterministic data pivots: the corpus vectors with the smallest
    ``md5(vec_id)`` — an order-invariant uniform sample that both Spark and
    the DuckDB oracle can derive exactly. Each corpus vector joins its
    nearest pivot's cell (cosine, 6-dp rounded, pivot-id tiebreak); each
    query probes its *nprobe* nearest cells; candidates are reranked with
    the shared exact-cosine scorer.

    Scale: pivots are tiny (nlist × dim — broadcast once); cell assignment
    is one mapInPandas GEMM pass per side; the candidate join shuffles on
    cell id, so cells are the unit of parallelism. Recall/cost is tuned by
    (nlist, nprobe) exactly like FAISS IVF.
    """
    # no persist: the only internal action (the pivot collect) reads cp
    # once, and the lazy tail's re-reads are a projection over the source
    # scan — a cache would outlive the caller's action (leak) for zero
    # shared work
    cp = _prep(corpus, id_col, vec_col)

    # self-search below the gate: the pivot-collect job, both assignment
    # passes, the cell-keyed pack join, and the rank window collapse into
    # one narrow mapInPandas stage. Pivot selection, 6-dp cosine
    # assignment with pivot-id tiebreak, self-exclusion, rerank rounding
    # and the (sim desc, neighbor_id asc) rank are identical to the
    # staged path (parity-tested); larger corpora keep the cell-keyed
    # layout.
    if queries is corpus and fits_one_task(corpus):
        import hashlib

        import numpy as np
        import pandas as pd

        src = cp.coalesce(1)

        def fused(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            n = len(ids)
            # pivots: smallest md5(str(id)) with id tiebreak (hex sort ==
            # Spark's string ordering on md5 output), then id-ascending
            # like _ivf_pivots
            md5s = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
            by_md5 = sorted(range(n), key=lambda j: (md5s[j], ids[j]))[:nlist]
            piv_rows = sorted(by_md5, key=lambda j: ids[j])
            piv_ids = ids[piv_rows]
            raw = mat[piv_rows]
            pmat = raw / np.sqrt((raw * raw).sum(axis=1))[:, None]
            # assignment/probes: 6-dp cosine, pivot-id tiebreak (stable
            # argsort over id-ascending pivots — same as _ivf_assign)
            vm = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
            asims = np.round(vm @ pmat.T, 6)
            order = np.argsort(-asims, axis=1, kind="stable")
            cell_of = order[:, 0]                      # corpus side, 1 cell
            probes = order[:, : min(nprobe, len(piv_ids))]
            out = _self_cell_topk_np(ids, mat, cell_of, probes, len(piv_ids), k)
            if out is not None:
                yield out

        return src.mapInPandas(
            fused,
            schema="query_id long, neighbor_id long, sim double, rank int",
        )

    qp = cp if queries is corpus else _prep(queries, id_col, vec_col)
    bp = _ivf_pivots(cp, nlist)
    cells = _ivf_assign(cp, bp, 1)
    probes = _ivf_assign(qp, bp, nprobe)

    # a corpus vector lives in exactly one cell and a query probes nprobe
    # DISTINCT cells, so each (query, neighbor) pair appears at most once
    # and partial top-k per pack + the global window is exact; the packed
    # per-cell GEMM ships each cell's vectors once per probing pack
    # instead of once per candidate pair (_score_pairs' shape)
    return _cell_gemm_topk(probes.join(qp, "id"), cells.join(cp, "id"), k)


def ivf_trained_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iter: int = 2,
    coarse=None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — ``ivf_topk`` with Lloyd
    k-means cells instead of md5-pivot cells (reusing pq_train's m=1
    instance over unit-normalized vectors, the same coarse stage as
    residual IVFPQ, so one oracle-mirrored discipline serves both).
    Trained cells track the data's actual density: measured near-dup
    candidate recall at nprobe=6/nlist=16 is 0.81 vs 0.70 for md5 pivots,
    and since candidates are exact-cosine reranked
    the end recall IS the candidate recall. Same scale shape as ivf_topk:
    broadcast centroids, one Arrow assignment pass per side, cell-keyed
    candidate join.

    *coarse* injects a pretrained pq_train(m=1, k=nlist) model (the
    FAISS train-once/serve-many separation): a production index trains
    on a sample ONCE and every serving query skips the Lloyd passes —
    at 100 TB, retraining per lookup would dwarf the lookup."""
    from id3c_spark.operators.pq import (
        EmptyCorpusError,
        _assign_topn,
        _normalized,
        pq_train,
    )

    same = queries is corpus
    train_here = coarse is None
    cp = _prep(corpus, id_col, vec_col)

    # self-search below the gate: the Lloyd training collects, both
    # normalize/assign passes, the cell-keyed pack join and the rank
    # window collapse into ONE lazy narrow mapInPandas stage with zero
    # plan-build driver jobs. Normalization, lloyd_np training, 6-dp L2
    # assignment with index tiebreak and the per-cell exact-cosine rerank
    # replay the staged path's np ops elementwise (parity-tested); larger
    # corpora keep the broadcast-centroid distributed shape untouched.
    if same and fits_one_task(cp, ("id",)):
        import numpy as np
        import pandas as pd

        from id3c_spark.operators.clustering import lloyd_np

        bc_pre = (
            None
            if train_here
            else cp.sparkSession.sparkContext.broadcast(coarse)
        )
        src = cp.coalesce(1)

        def fused(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            # _normalized's exact op
            vm = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
            cent = (
                lloyd_np(ids, vm, 1, nlist, train_iter)[0]
                if bc_pre is None
                else bc_pre.value[0]
            )  # (nlist', dim)
            # _assign_topn's exact ops: 6-dp squared L2, index tiebreak
            d2 = np.round(((vm[:, None, :] - cent[None]) ** 2).sum(axis=2), 6)
            order = np.argsort(d2, axis=1, kind="stable")
            cell_of = order[:, 0]
            probes = order[:, : min(nprobe, cent.shape[0])]
            out = _self_cell_topk_np(ids, mat, cell_of, probes, cent.shape[0], k)
            if out is not None:
                yield out

        return src.mapInPandas(
            fused,
            schema="query_id long, neighbor_id long, sim double, rank int",
        )
    # persists span ONLY the training action (the pq.py discipline):
    # after pq_train's Lloyd passes the caches are released, and the lazy
    # tail recomputes the prep/normalize Arrow passes at most once each —
    # deterministic, so results are bit-identical. With an injected
    # pretrained *coarse* there is no internal action and nothing caches.
    cp = cp.persist() if (same and train_here) else cp
    qp = cp if same else _prep(queries, id_col, vec_col)
    vn = _normalized(cp)
    vn = vn.persist() if train_here else vn
    qn = vn if same else _normalized(qp)
    if train_here:
        try:
            coarse = pq_train(vn, "id", "v", m=1, k=nlist, max_iter=train_iter)
        except EmptyCorpusError:
            # no cells: the passes below run over no rows and return the
            # empty result, as the fused path does
            import numpy as np

            coarse = np.empty((1, 0, 0))
        vn.unpersist()
    bcg = cp.sparkSession.sparkContext.broadcast(coarse)
    cells = _assign_topn(vn, bcg, 1)
    probes = _assign_topn(qn, bcg, nprobe)
    # packed per-cell GEMM over the RAW vectors (cosine is scale-free, so
    # scoring raw while assigning normalized is exact) — see ivf_topk
    out = _cell_gemm_topk(probes.join(qp, "id"), cells.join(cp, "id"), k)
    if same and train_here:
        cp.unpersist()
    return out


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "lsh",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band
    (planes/bands sign bits), exact cosine rerank within candidates.

    Pipeline shape (the part that scales):
      1. band signatures via numpy GEMM in mapInPandas (one pass per side);
      2. candidate pairs via a plain equi-join on (band, signature) —
         a shuffle keyed by bucket, AQE handles skewed buckets;
      3. rerank distributed: join candidates back to the embedding columns
         (equi-joins on id) and score per Arrow batch with numpy row-dots —
         no driver-side collect anywhere in the plan.
    Recall is tuned by (planes, bands): match probability per band is
    p_agree^(planes/bands), any-of-bands 1-(1-p^r)^b. *multiprobe* > 0
    additionally probes, per query band, the *multiprobe* buckets
    reached by flipping the lowest-|projection| sign bits (the
    least-confident hyperplane decisions — Lv et al. 2007): near-miss
    neighbors that landed one marginal bit away become candidates at
    (1+multiprobe)× QUERY-side band rows, with the corpus side and its
    index untouched — the classic recall/cost dial that beats adding
    bands (which re-hashes the corpus too).

    Self-search below the regime gate (fits_one_task), the band
    exchange, bucket self-join, rerank joins, and rank window all
    collapse into one narrow mapInPandas stage (projection → banding →
    in-memory bucket grouping → candidate dedup → exact-cosine rerank →
    per-query top-k). Candidates, 6-dp rounding, and the (sim desc,
    neighbor_id asc) rank criterion are identical to the banded path,
    so results are bit-equal (parity-tested). Multi-shard corpora keep
    the banded shuffle layout — the 100 TB shape is untouched.
    """
    assert planes % bands == 0
    r = planes // bands

    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    w_mat = hyperplanes(dim, planes, seed)

    if queries is corpus and fits_one_task(corpus):
        src = corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        ).coalesce(1)
        n_probe = min(multiprobe, r)

        def fused(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            n = len(ids)
            proj = mat @ w_mat.T
            signs = proj > 0
            weights = 1 << np.arange(r)
            pair_codes: list = []  # qidx * n + cidx, deduped at the end
            for b in range(bands):
                sig = signs[:, b * r:(b + 1) * r].dot(weights)
                order = np.argsort(sig, kind="stable")
                ssig = sig[order]
                starts = np.flatnonzero(np.r_[True, ssig[1:] != ssig[:-1]])
                ends = np.r_[starts[1:], n]
                for s, e in zip(starts, ends):
                    if e - s > 1:
                        grp = order[s:e]
                        qi = np.repeat(grp, len(grp))
                        ci = np.tile(grp, len(grp))
                        pair_codes.append(qi * np.int64(n) + ci)
                if n_probe:
                    # query-side flips of the n_probe least-confident sign
                    # bits, matched against the CORPUS base buckets only —
                    # mirrors band_rows(probes)'s asymmetry exactly
                    margins = np.abs(proj[:, b * r:(b + 1) * r])
                    mo = np.argsort(margins, axis=1)[:, :n_probe]
                    for p in range(n_probe):
                        fl = sig ^ weights[mo[:, p]]
                        lo = np.searchsorted(ssig, fl, side="left")
                        hi = np.searchsorted(ssig, fl, side="right")
                        hit = np.flatnonzero(hi > lo)
                        if len(hit):
                            cnt = (hi - lo)[hit]
                            qi = np.repeat(hit, cnt)
                            ci = np.concatenate(
                                [order[lo[i]:hi[i]] for i in hit]
                            )
                            pair_codes.append(qi * np.int64(n) + ci)
            if not pair_codes:
                return
            codes = np.unique(np.concatenate(pair_codes))
            qi = codes // n
            ci = codes % n
            keep = ids[qi] != ids[ci]
            qi, ci = qi[keep], ci[keep]
            if not len(qi):
                return
            nrm = np.sqrt((mat * mat).sum(axis=1))
            # chunked rerank with REUSED buffers: the one-shot
            # pair-expanded gather (mat[qi], mat[ci], their product —
            # 3·|pairs|·dim·8 bytes of fresh temporaries) was both the
            # wrong memory shape for a task and pathological on hosts
            # where large fresh mmaps fault slowly; fixed-size buffers
            # bound peak memory at O(chunk·dim) and the per-pair
            # arithmetic — (q·c row dot) / (‖q‖‖c‖), rounded 6 dp — is
            # the identical elementwise op, so every sim is unchanged
            dim = mat.shape[1]
            chunk = min(len(qi), 32768)
            qbuf = np.empty((chunk, dim))
            cbuf = np.empty((chunk, dim))
            sims = np.empty(len(qi))
            for s0 in range(0, len(qi), chunk):
                e0 = min(s0 + chunk, len(qi))
                m0 = e0 - s0
                np.take(mat, qi[s0:e0], axis=0, out=qbuf[:m0])
                np.take(mat, ci[s0:e0], axis=0, out=cbuf[:m0])
                np.multiply(qbuf[:m0], cbuf[:m0], out=qbuf[:m0])
                sims[s0:e0] = np.round(
                    qbuf[:m0].sum(axis=1) / (nrm[qi[s0:e0]] * nrm[ci[s0:e0]]),
                    6,
                )
            qids, cids = ids[qi], ids[ci]
            o = np.lexsort((cids, -sims, qids))
            qs, cs, ss = qids[o], cids[o], sims[o]
            grp_new = np.r_[True, qs[1:] != qs[:-1]]
            grp_start = np.flatnonzero(grp_new)
            sizes = np.diff(np.r_[grp_start, len(qs)])
            rank = np.arange(len(qs)) - np.repeat(grp_start, sizes) + 1
            top = rank <= k
            yield pd.DataFrame({
                "query_id": qs[top], "neighbor_id": cs[top],
                "sim": ss[top],
                "rank": pd.array(rank[top], dtype="int32"),
            })

        return src.mapInPandas(
            fused,
            schema="query_id long, neighbor_id long, sim double, rank int",
        )

    bw = spark.sparkContext.broadcast(w_mat)

    def band_rows(side: str, probes: int = 0):
        def gen(batches):
            w = bw.value
            weights = 1 << np.arange(r)
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["id"].values
                mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                proj = mat @ w.T
                signs = proj > 0  # n × planes
                out_id, out_band, out_sig = [], [], []
                for b in range(bands):
                    chunk = signs[:, b * r:(b + 1) * r]
                    sig = chunk.dot(weights)  # pack bits → int
                    out_id.extend(ids)
                    out_band.extend([b] * len(ids))
                    out_sig.extend(sig)
                    if probes:
                        # flip the `probes` least-confident bits, one at
                        # a time (margin = |projection| per plane)
                        margins = np.abs(proj[:, b * r:(b + 1) * r])
                        order = np.argsort(margins, axis=1)[:, :probes]
                        for p in range(min(probes, r)):
                            flipped = sig ^ weights[order[:, p]]
                            out_id.extend(ids)
                            out_band.extend([b] * len(ids))
                            out_sig.extend(flipped)
                yield pd.DataFrame({"id": out_id, "band": out_band, "sig": out_sig})
        return gen

    def prep(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )

    # self-search (queries IS corpus, the common dedup/knn-graph case):
    # the explicit exchange on the join keys makes both candidate-join
    # sides the identical shuffle, so the band-signature mapInPandas runs
    # once per action via ReusedExchange — with nothing persisted,
    # repeated calls leak no storage blocks
    qb = prep(queries).mapInPandas(
        band_rows("q", probes=multiprobe), "id long, band int, sig long"
    ).repartition("band", "sig")
    cb = (
        prep(corpus).mapInPandas(band_rows("c"), "id long, band int, sig long")
        if multiprobe and queries is corpus
        else qb
        if queries is corpus
        else prep(corpus).mapInPandas(band_rows("c"), "id long, band int, sig long")
    )
    cand = (
        qb.alias("q")
        .join(cb.alias("c"), (F.col("q.band") == F.col("c.band")) & (F.col("q.sig") == F.col("c.sig")))
        .filter(F.col("q.id") != F.col("c.id"))
        .select(F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )

    # rerank: fully distributed (_score_pairs) — no driver materialization:
    # this is the path that must survive corpora too big to broadcast, so
    # nothing here collects.
    qe = prep(queries).select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    ce = (
        qe.select(F.col("query_id").alias("neighbor_id"), F.col("qv").alias("cv"))
        if queries is corpus
        else prep(corpus).select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"))
    )
    scored = _score_pairs(cand, qe, ce)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _auto_nlist(n: int) -> int:
    """nlist = ceil(sqrt(N)) — the FAISS-style balance point. Cell
    assignment costs O(N·nlist) GEMM FLOPs and within-cell pairing costs
    O(nlist·(N/nlist)²) = O(N²/nlist); nlist = √N makes both O(N^1.5),
    the minimum of their sum. A fixed nlist would leave the pair term
    O(N²/const) — quadratic at 100× the corpus."""
    import math

    r = math.isqrt(max(n, 1))
    return r if r * r >= n else r + 1


def _packed_cells(assigned: DataFrame, max_cell_rows: int) -> DataFrame:
    """Pack each IVF cell's vectors into (cell, sub, ids, mat) byte rows —
    the GEMM unit for within-cell pair scoring. *assigned* = (id, v, cell).

    Cells larger than *max_cell_rows* (skewed cells) are split into
    ceil(cnt/max) hash sub-blocks so no single task's matmul exceeds
    max² similarities; the sub-block pair join below turns one oversized
    cell into n_sub·(n_sub+1)/2 bounded tasks. Payloads are raw
    little-endian bytes (int64 ids, float64 row-major mat) exactly as
    _packed_blocks: zero-copy np.frombuffer on unpack, no Arrow
    nested-object cost in the self-join."""
    import numpy as np
    import pandas as pd

    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    sub = F.pmod(
        F.hash(F.col("id")), F.ceil(F.col("cnt") / F.lit(max_cell_rows)).cast("int")
    ).alias("sub")
    grouped = (
        assigned.join(counts, "cell")
        .select(
            "cell",
            sub,
            F.struct(F.col("id"), F.col("v")).alias("rec"),
        )
        .groupBy("cell", "sub")
        .agg(F.collect_list("rec").alias("recs"))
    )

    def to_bytes(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                recs = row["recs"]
                ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                mat = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in recs])
                out.append((row["cell"], row["sub"], ids.tobytes(), mat.tobytes()))
            yield pd.DataFrame(out, columns=["cell", "sub", "ids", "mat"])

    return grouped.mapInPandas(to_bytes, "cell long, sub int, ids binary, mat binary")


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 4096,
) -> DataFrame:
    """Semantic (embedding-space) deduplication: cluster near-identical
    embeddings and keep one canonical document per cluster — the
    SemDeDup recipe (Abbas et al. 2023): k-cluster the corpus coarsely,
    compare pairs only WITHIN a cluster, union-find the pairs above the
    cosine threshold, keep each component's minimum id.

    Returns (id_col, cluster, keep): cluster = min id of the member's
    duplicate component (its own id if unique), keep = (id == cluster).

    *nlist* defaults to ceil(sqrt(N)) (one count job) so cell size tracks
    √N and total work stays O(N^1.5·dim) — see _auto_nlist; pass an
    explicit nlist to pin resolution.

    Approximation contract: near-dup pairs split across coarse cells are
    missed — the standard SemDeDup trade; raise *nlist* resolution or run
    lsh/ivf candidates instead when recall matters more than cost.
    Deterministic end to end (md5-sampled pivots, 6-dp rounded cosines,
    min-label components), so the DuckDB oracle replays it exactly.

    Scale: cell assignment is one Arrow GEMM pass; each cell is packed
    once into byte payloads and scored with ONE matmul per (sub-block
    pair) task — threshold and the id_a < id_b triangle are applied to
    the boolean mask before any pair row materializes, so no per-pair
    join ever ships embedding vectors (the former _score_pairs shape
    paid two vector shuffles per pair side). Oversized (skewed) cells
    split into hash sub-blocks, bounding every task's matmul at
    max_cell_rows². Clustering reuses the distributed dedup_clusters
    path — nothing driver-side but the nlist pivot rows.
    """
    import numpy as np
    import pandas as pd

    from id3c_spark.operators.dedup import dedup_clusters

    cp = _prep(corpus, id_col, vec_col)

    # below the regime gate the nlist count job, the pivot collect, the
    # persist/join/pack machinery, the block self-join and
    # dedup_clusters' regime probe all collapse into ONE lazy narrow
    # mapInPandas stage. Pivot selection, 6-dp cosine assignment and
    # pair scoring replay the staged np ops elementwise; the components
    # are min-root union-find — the identical min-label components both
    # dedup_clusters regimes produce. The max_cell_rows sub-block split
    # only bounds task matmuls (the hit set is the union over blocks
    # either way), and rows sharing an id hash to the same sub-block, so
    # the strict id triangle applies to them in both paths. Larger
    # corpora keep the packed-cell layout — the 100 TB shape —
    # untouched.
    if fits_one_task(cp, ("id",)):
        import hashlib

        fixed_nlist = nlist
        src = cp.coalesce(1)

        def run(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            ids = np.concatenate(ids_acc)
            mat = np.vstack(mat_acc)
            n = len(ids)
            nl = fixed_nlist if fixed_nlist is not None else _auto_nlist(n)
            # pivots + assignment: the fused ivf_topk prologue verbatim
            md5s = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
            by_md5 = sorted(range(n), key=lambda j: (md5s[j], ids[j]))[:nl]
            piv_rows = sorted(by_md5, key=lambda j: ids[j])
            raw = mat[piv_rows]
            pmat = raw / np.sqrt((raw * raw).sum(axis=1))[:, None]
            nrm = np.sqrt((mat * mat).sum(axis=1))
            vm = mat / nrm[:, None]
            asims = np.round(vm @ pmat.T, 6)
            cell_of = np.argsort(-asims, axis=1, kind="stable")[:, 0]
            # within-cell pairs ≥ threshold, strict id triangle, chunked
            ea_parts, eb_parts = [], []
            for c in range(len(piv_rows)):
                mem = np.flatnonzero(cell_of == c)
                if len(mem) < 2:
                    continue
                chunk = max(16, (2 << 20) // len(mem))
                for s0 in range(0, len(mem), chunk):
                    pr = mem[s0:s0 + chunk]
                    sims = np.round(
                        (mat[pr] @ mat[mem].T) / np.outer(nrm[pr], nrm[mem]),
                        6,
                    )
                    hit = (sims >= threshold) & (
                        ids[mem][None, :] > ids[pr][:, None]
                    )
                    ai, bj = np.nonzero(hit)
                    if len(ai):
                        ea_parts.append(ids[pr][ai])
                        eb_parts.append(ids[mem][bj])
            # min-root union-find — dedup_clusters' label contract
            cluster = dict(zip(ids.tolist(), ids.tolist()))
            if ea_parts:
                ea = np.concatenate(ea_parts)
                eb = np.concatenate(eb_parts)
                uniq = np.unique(np.concatenate([ea, eb]))
                idx = {int(v): i for i, v in enumerate(uniq)}
                parent = np.arange(len(uniq), dtype=np.int64)

                def find(a):
                    while parent[a] != a:
                        parent[a] = parent[parent[a]]
                        a = parent[a]
                    return a

                for x, y in zip(ea.tolist(), eb.tolist()):
                    ra, rb = find(idx[int(x)]), find(idx[int(y)])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
                roots = np.asarray([find(i) for i in range(len(uniq))])
                minid = np.full(len(uniq), np.iinfo(np.int64).max)
                np.minimum.at(minid, roots, uniq)
                for v, r in zip(uniq.tolist(), roots.tolist()):
                    cluster[int(v)] = int(minid[r])
            cl = np.asarray([cluster[int(i)] for i in ids], dtype=np.int64)
            yield pd.DataFrame({
                "id": ids, "cluster": cl, "keep": ids == cl
            })

        t = cp.schema["id"].dataType.simpleString()
        return src.mapInPandas(
            run, f"id {t}, cluster long, keep boolean"
        ).select(F.col("id").alias(id_col), "cluster", "keep")

    cp = cp.persist()
    if nlist is None:
        nlist = _auto_nlist(cp.count())
    cells = _ivf_assign(cp, _ivf_pivots(cp, nlist), 1)
    assigned = cp.join(cells, "id").select("id", "v", "cell")
    # persisted: the packed relation feeds both sides of its self-join
    packed = _packed_cells(assigned, max_cell_rows).persist()
    block_pairs = (
        packed.toDF("cell", "a_sub", "a_ids", "a_mat")
        .join(packed.toDF("cell", "b_sub", "b_ids", "b_mat"), "cell")
        .filter(F.col("a_sub") <= F.col("b_sub"))
        .repartition("cell", "a_sub", "b_sub")
    )

    def cell_pairs(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                aids, amat = _unpack(row["a_ids"], row["a_mat"])
                bids, bmat = _unpack(row["b_ids"], row["b_mat"])
                anrm = np.sqrt((amat * amat).sum(axis=1))
                bnrm = np.sqrt((bmat * bmat).sum(axis=1))
                sims = np.round((amat @ bmat.T) / np.outer(anrm, bnrm), 6)
                hit = sims >= threshold
                if row["a_sub"] == row["b_sub"]:
                    # self-pair block: keep the strict upper triangle by id
                    hit &= bids[None, :] > aids[:, None]
                ai, bj = np.nonzero(hit)
                if not len(ai):
                    continue
                ea, eb = aids[ai], bids[bj]
                # cross-block tasks see each unordered pair once in an
                # arbitrary orientation — normalize to (min, max)
                yield pd.DataFrame(
                    {"query_id": np.minimum(ea, eb), "neighbor_id": np.maximum(ea, eb)}
                )

    dups = block_pairs.mapInPandas(cell_pairs, "query_id long, neighbor_id long")

    clusters = dedup_clusters(dups, "query_id", "neighbor_id")
    # dedup_clusters is EAGER (it materializes the pair relation), so
    # every internal action the caches span — the nlist count, the pivot
    # collect, and the pair scoring — is done: release them now. The lazy
    # tail re-derives cp's projection once; repeated calls leak nothing.
    packed.unpersist()
    cp.unpersist()
    ids = cp.select("id")
    out = (
        ids.join(clusters, "id", "left")
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col("id")))
        .withColumn("keep", F.col("id") == F.col("cluster"))
        .select(F.col("id").alias(id_col), "cluster", "keep")
    )
    return out


def _fused_rerank(
    qe: DataFrame, ce: DataFrame, cand: DataFrame, k: int
) -> DataFrame:
    """Sharded mirror of the two-equi-join + window rerank for the
    stats-gated small regime: the query and corpus vector relations are
    gate-bounded, so they collect ONCE into broadcast id→[vectors] maps
    (lists — duplicate ids replicate their pairs exactly like the
    distributed equi-joins; the replicated rows are value-identical, so
    ranks over them are interchangeable), and the candidate relation
    shards across tasks on query_id — every rerank decision keys on the
    query alone, and hash partitioning lands a query's whole candidate
    set in one task, so the per-task pair-set dedup and the per-query
    (sim desc, neighbor asc) rank are complete. Sims are the identical
    np.round(dot/(‖q‖·‖c‖), 6) the distributed _score_pairs computes
    (elementwise — batching does not change any value). The former
    single-task tagged union serialized the whole shortlist through one
    core; the candidate exchange ships only (query_id, neighbor_id)
    pairs and the scoring uses the cluster."""
    import numpy as np

    qv: dict = {}
    for r in qe.collect():
        qv.setdefault(int(r["query_id"]), []).append(
            np.asarray(r["qv"], dtype=np.float64)
        )
    cv: dict = {}
    for r in ce.collect():
        cv.setdefault(int(r["neighbor_id"]), []).append(
            np.asarray(r["cv"], dtype=np.float64)
        )
    bc = cand.sparkSession.sparkContext.broadcast((qv, cv))
    tagged = cand.select("query_id", "neighbor_id").repartition("query_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        qv, cv = bc.value
        pairs = set()
        for pdf in batches:
            for q, nb in zip(
                pdf["query_id"].to_numpy(np.int64),
                pdf["neighbor_id"].to_numpy(np.int64),
            ):
                pairs.add((int(q), int(nb)))
        if not pairs:
            return
        rows_q, rows_n, qm_l, cm_l = [], [], [], []
        for q, nb in pairs:
            for x in qv.get(q, ()):            # inner-join semantics:
                for y in cv.get(nb, ()):       # missing ids drop the pair
                    rows_q.append(q)
                    rows_n.append(nb)
                    qm_l.append(x)
                    cm_l.append(y)
        if not rows_q:
            return
        qm = np.asarray(qm_l)
        cm = np.asarray(cm_l)
        sims = np.round(
            (qm * cm).sum(axis=1)
            / (np.sqrt((qm * qm).sum(axis=1)) * np.sqrt((cm * cm).sum(axis=1))),
            6,
        )
        qa = np.asarray(rows_q, dtype=np.int64)
        na = np.asarray(rows_n, dtype=np.int64)
        order = np.lexsort((na, -sims, qa))
        qa, na, sims = qa[order], na[order], sims[order]
        starts = np.flatnonzero(np.r_[True, qa[1:] != qa[:-1]])
        ends = np.r_[starts[1:], len(qa)]
        keep_parts, rank_parts = [], []
        for s, e in zip(starts, ends):
            take = min(k, e - s)
            keep_parts.append(np.arange(s, s + take))
            rank_parts.append(np.arange(1, take + 1))
        keep = np.concatenate(keep_parts)
        yield pd.DataFrame({
            "query_id": qa[keep],
            "neighbor_id": na[keep],
            "sim": sims[keep],
            "rank": np.concatenate(rank_parts).astype(np.int32),
        })

    return tagged.mapInPandas(
        run, "query_id long, neighbor_id long, sim double, rank int"
    )


def exact_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine rerank of ANY candidate relation (query_id,
    neighbor_id) → top-k per query by true similarity — the refine step
    FAISS calls IVFADC+R: a cheap index (PQ/IVFPQ/LSH) produces a
    shortlist of s·k candidates, and only those pairs ever touch raw
    vectors. Communication is |cand| rows through two id equi-joins +
    the per-query window; the corpus never re-scans.

    Compose: exact_rerank(q, c, pq_topk(q, c, books, k=4*k), k) — the
    standard recall restorer for compressed indexes.

    Laziness note: when queries, corpus and candidates all fit one task
    (fits_one_task), building the returned DataFrame collects the query
    and corpus vectors (one small job each), even if the plan is never
    executed. Above the gate the returned plan is fully lazy."""
    qe = _prep(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    ce = _prep(corpus, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    # when queries, corpus AND the candidate relation each fit one task,
    # the joins + scoring + window run in one narrow stage (_fused_rerank)
    if (
        fits_one_task(queries)
        and fits_one_task(corpus)
        and fits_one_task(candidates)
    ):
        # no .distinct() here — the fused task's pair SET is the dedup,
        # keeping the plan exchange-free
        return _fused_rerank(
            qe, ce, candidates.select("query_id", "neighbor_id"), k
        )
    scored = _score_pairs(
        candidates.select("query_id", "neighbor_id").distinct(), qe, ce
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def knn_classify(
    queries: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    topk_fn=None,
) -> DataFrame:
    """k-NN label propagation: predict each query vector's label by
    majority vote over its k nearest labeled neighbors →
    (id_col, pred_label, votes, mean_sim). The auto-labeling /
    weak-supervision primitive a curation pipeline runs right after
    similarity search: a small hand-labeled seed set classifies the
    unlabeled corpus.

    Vote tie-break is deterministic: highest vote count, then highest
    mean similarity, then smallest label. *topk_fn* swaps the neighbor
    generator — exact ``cosine_topk`` by default, any of the ANN ladder
    (``lsh_bucketed_topk``, ``ivf_trained_topk``…) at scale; everything
    downstream of the candidate relation is one label equi-join (the
    labeled side is the SMALL side — broadcast) plus two grouped
    aggregations over ≤ |Q|·k rows, so the classifier inherits the
    index's scale shape unchanged."""
    fn = topk_fn or (lambda q, c: cosine_topk(q, c, k=k, id_col=id_col, vec_col=vec_col))
    neighbors = fn(queries, labeled)
    labels = F.broadcast(
        labeled.select(
            F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nl")
        )
    )
    # mean over int-micros, not avg over doubles: the sims are 6-dp
    # values, so summing them as exact int64 micros is order-independent
    # (a float avg's last ulp depends on partitioning and can flip the
    # 6-dp rounding against the SQL oracle)
    votes = (
        neighbors.join(labels, "neighbor_id")
        .groupBy(F.col("query_id"), F.col("nl"))
        .agg(
            F.count(F.lit(1)).alias("votes"),
            (
                F.round(
                    F.sum(F.round(F.col("sim") * 1e6).cast("long"))
                    / F.count(F.lit(1)),
                    0,
                )
                / F.lit(1e6)
            ).alias("mean_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.desc("mean_sim"), F.asc("nl")
    )
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col("nl").alias("pred_label"),
            "votes",
            "mean_sim",
        )
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``scale = max|v_i|``, ``q_i = floor(v_i·127/scale + 0.5) ∈ [-127,127]``.

    floor(x + 0.5) is round-half-up in EVERY engine — unlike round(),
    whose half-way behavior differs between Spark (shortest-decimal
    HALF_UP) and C-library/banker's variants — so quantized codes are
    bit-reproducible across the cluster and any SQL oracle.

    The scale story: a float32 embedding store drops to ~¼ the bytes
    (64 ints8 + one double per vector vs 64 floats), which at 100 TB of
    embeddings is the difference between an ANN corpus shard fitting in
    executor memory and spilling; component error is bounded by
    scale/254. All expression-level (transform/array_max) — whole-stage
    codegen, no UDF.
    """
    v = _as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, F.abs))
    zeros = F.transform(v, lambda x: F.lit(0))
    codes = F.transform(
        v, lambda x: F.floor(x * F.lit(127.0) / scale + F.lit(0.5)).cast("int")
    )
    return df.select(
        F.col(id_col),
        F.when(scale == 0, zeros).otherwise(codes).alias("q"),
        scale.alias("scale"),
    )


def dequantize_int8(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``v_i ≈ q_i·scale/127`` as
    array<double>, feeding any downstream exact / ANN operator
    unchanged (drops the code + scale columns)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda x: x.cast("double") * F.col(scale_col) / F.lit(127.0),
        ),
    ).drop(q_col, scale_col)


def embedding_drift(
    df: DataFrame,
    side_col: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution drift between two embedding
    populations (side 0 vs side 1 of *side_col*): means and the
    standardized mean difference ``smd = (μ₀−μ₁) / √((σ₀²+σ₁²)/2)`` —
    the monitoring signal that tells an ANN index owner the quantizer
    was trained on yesterday's distribution (rebuild when |smd| grows).

    Numerics: components round to exact integer micros via
    floor(x·1e6 + 0.5) — identical half-up in every engine — and all
    sufficient statistics (n, Σ, Σx²) are exact int64 sums, so the
    final double arithmetic runs on identical integers in Spark and any
    SQL oracle. One posexplode + one map-side-combined aggregate; the
    shuffle is d rows of statistics, never vectors.
    """
    micros = F.floor(
        F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    ex = df.select(
        side_col.cast("int").alias("side"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select("side", "dim", micros.alias("mi"))

    def side_aggs(s: int) -> list[Column]:
        this = F.col("side") == s
        return [
            F.count(F.when(this, 1)).alias(f"n_{s}"),
            F.sum(F.when(this, F.col("mi"))).alias(f"s_{s}"),
            F.sum(F.when(this, F.col("mi") * F.col("mi"))).alias(f"q_{s}"),
        ]

    g = ex.groupBy("dim").agg(*side_aggs(0), *side_aggs(1))
    mean = {s: F.col(f"s_{s}") / F.col(f"n_{s}") for s in (0, 1)}
    var = {
        s: F.col(f"q_{s}") / F.col(f"n_{s}") - mean[s] * mean[s] for s in (0, 1)
    }
    denom = F.sqrt((var[0] + var[1]) / F.lit(2.0))
    return g.select(
        "dim",
        F.col("n_0").cast("long").alias("n_0"),
        F.col("n_1").cast("long").alias("n_1"),
        F.round(mean[0] / F.lit(1e6), 6).alias("mean_0"),
        F.round(mean[1] / F.lit(1e6), 6).alias("mean_1"),
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                (mean[0] - mean[1]) / denom
            ),
            6,
        ).alias("smd"),
    )


def _cell_gemm_topk(
    probe_vecs: DataFrame,
    cell_vecs: DataFrame,
    k: int,
    cell_splits: int = 4,
) -> DataFrame:
    """Exact-cosine top-k over cell-partitioned candidates: pack the
    corpus vectors per (cell, id-hash salt) and the probing queries per
    cell, join on cell, and run one cosine GEMM per pack pair — the
    IVF-Flat scoring stage. Compared to joining raw candidate PAIRS back
    to the embedding columns (ann._score_pairs over |Q|·nprobe·cellsize
    rows), each cell's vectors ship once per probing pack instead of
    once per candidate pair — the shuffled bytes drop by ~the average
    cell size. Same 6-dp rounding + id tiebreak as cosine_topk, so
    results are identical; a corpus vector lives in exactly one cell, so
    partial top-k per pack + the global window is exact."""
    import numpy as np
    import pandas as pd

    packs = (
        cell_vecs.groupBy(
            "cell",
            F.pmod(F.xxhash64(F.col("id")), F.lit(cell_splits)).alias("__s"),
        )
        .agg(F.collect_list(F.struct("id", "v")).alias("recs"))
    )

    def pack(label_ids, label_mat):
        def run(batches):
            for pdf in batches:
                out = []
                for _, row in pdf.iterrows():
                    recs = row["recs"]
                    ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                    mat = np.asarray(
                        [np.asarray(r["v"], dtype=np.float64) for r in recs]
                    )
                    out.append((row["cell"], ids.tobytes(), mat.tobytes()))
                yield pd.DataFrame(out, columns=["cell", label_ids, label_mat])
        return run

    cell_packs = packs.mapInPandas(
        pack("c_ids", "c_mat"), "cell long, c_ids binary, c_mat binary"
    )
    qpacks = probe_vecs.groupBy("cell").agg(
        F.collect_list(F.struct("id", "v")).alias("recs")
    )
    probe_packs = qpacks.mapInPandas(
        pack("q_ids", "q_mat"), "cell long, q_ids binary, q_mat binary"
    )
    joined = probe_packs.join(cell_packs, "cell")

    def score(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                qids, qmat = _unpack(row["q_ids"], row["q_mat"])
                cids, cmat = _unpack(row["c_ids"], row["c_mat"])
                qnorm = np.sqrt((qmat * qmat).sum(axis=1))
                cnorm = np.sqrt((cmat * cmat).sum(axis=1))
                sims = np.round((qmat @ cmat.T) / np.outer(qnorm, cnorm), 6)
                out_q, out_n, out_s = [], [], []
                for i in range(len(qids)):
                    mask = cids != qids[i]
                    cand_ids = cids[mask]
                    cand_s = sims[i][mask]
                    order = np.lexsort((cand_ids, -cand_s))[:k]
                    out_q.extend([qids[i]] * len(order))
                    out_n.extend(cand_ids[order])
                    out_s.extend(cand_s[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
                )

    partial = joined.mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
