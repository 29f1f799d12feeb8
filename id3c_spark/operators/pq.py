"""Product quantization (PQ) — compressed-domain ANN for corpus scales
where even the blocked exact GEMM's communication bound is too expensive.

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — the backbone of FAISS' IVFPQ) splits each d-dim vector into
*m* subvectors, k-means-quantizes each subspace to *k* centroids, and
stores a vector as m small codes (m bytes for k ≤ 256) instead of d
floats — here 64 floats → 8 codes, a 64× compression. Search scores
candidates WITHOUT decompressing: per query, one m×k lookup table of
subspace distances; a candidate's asymmetric distance (ADC) is m table
lookups + a sum.

Why this matters at 100 TB: the exact blocked GEMM (ann.cosine_topk)
shuffles S·|Q| + B·|C| ROWS OF RAW VECTORS; with PQ the corpus side
ships codes, shrinking the dominant B·|C| term by the compression factor
— the corpus of a billion 64-dim vectors is ~8 GB of codes, so whole
shards stay cache-resident and scoring is table lookups, not FLOPs.

Determinism contract (full SQL oracle, same discipline as
operators/clustering.py): subspace k-means uses the shared md5-seeded
init + 6-dp distances + exact-decimal means; codes are argmin with
centroid-index tiebreak; ADC uses 6-dp per-subspace table entries and a
6-dp total with id tiebreak in both the partial and final rankings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.operators.ann import _prep, _unpack
from id3c_spark.operators.clustering import MEAN6_EXPR, mean6_aggs


def _subspace_assign(vp: DataFrame, bc) -> DataFrame:
    """(id, sub, code): per-subspace nearest centroid (6-dp squared L2,
    centroid-index tiebreak). One Arrow pass, no shuffle."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        cent = bc.value  # (m, k, dsub), 6-dp rounded
        m, _, dsub = cent.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            n = len(x)
            xs = x.reshape(n, m, dsub)
            ids, subs, codes = [], [], []
            for s in range(m):
                d2 = np.round(
                    ((xs[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2), 6
                )
                codes.extend(d2.argmin(axis=1).astype("int64"))
                ids.extend(pdf["id"].values)
                subs.extend([s] * n)
            yield pd.DataFrame({"id": ids, "sub": subs, "code": codes})

    return vp.mapInPandas(gen, "id long, sub int, code int")


class EmptyCorpusError(ValueError):
    """pq_train was given no vectors: there is nothing to train."""


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    max_iter: int = 2,
    seed_salt: str = "",
):
    """Train the m per-subspace codebooks (Lloyd iterations). Returns a
    numpy array (m, k, d/m) of 6-dp centroids — broadcast-sized model
    state, like clustering.kmeans. Every subspace trains in the SAME
    corpus pass per iteration (one assignment scan + one k·d-row mean
    aggregation for all m subspaces together).

    *seed_salt* decorrelates the md5 seed ordering from OTHER md5-ordered
    samples over the same ids. The residual IVFADC path needs this: its
    coarse quantizer also seeds on md5-smallest ids, so unsalted residual
    seeds would be (near-)zero vectors — the measured failure was total
    codebook collapse (all points on one centroid, recall 0.09).

    With m=1 this IS plain Lloyd k-means on the full vector (one
    subspace) — the residual path reuses it as its trained coarse
    quantizer so both quantizers share one oracle-mirrored discipline."""
    import numpy as np

    from id3c_spark.operators.ann import fits_one_task

    vp = _prep(df, id_col, vec_col)
    # below the regime gate (ann.fits_one_task) the corpus trains in ONE
    # narrow job (scan → lloyd_np → m·k·dsub centroid rows collected)
    # instead of the seed collect plus one assignment-scan + aggregate
    # collect PER Lloyd iteration; centroids are bit-identical by the
    # lloyd_np contract. Larger corpora keep the broadcast-centroid
    # distributed iterations.
    if fits_one_task(vp, ("id",)):
        import pandas as pd

        from id3c_spark.operators.clustering import lloyd_np

        def train(batches):
            ids_acc, mat_acc = [], []
            for pdf in batches:
                if len(pdf):
                    ids_acc.append(pdf["id"].to_numpy(dtype=np.int64))
                    mat_acc.append(np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                    ))
            if not ids_acc:
                return
            cent = lloyd_np(
                np.concatenate(ids_acc), np.vstack(mat_acc), m, k, max_iter,
                seed_salt,
            )
            mm, kk, dsub = cent.shape
            idx = np.indices((mm, kk, dsub)).reshape(3, -1)
            yield pd.DataFrame({
                "sub": idx[0], "code": idx[1], "dim": idx[2],
                "c": cent.reshape(-1),
            })

        rows = vp.coalesce(1).mapInPandas(
            train, "sub int, code int, dim int, c double"
        ).collect()
        if not rows:
            raise EmptyCorpusError("pq_train: empty corpus")
        kk = 1 + max(r.code for r in rows)
        dsub = 1 + max(r.dim for r in rows)
        cent = np.empty((m, kk, dsub), dtype=np.float64)
        for r in rows:
            cent[r.sub][r.code][r.dim] = r.c
        return cent

    vp = vp.persist()
    sc = vp.sparkSession.sparkContext
    seeds = (
        vp.orderBy(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(seed_salt))),
            F.col("id"),
        )
        .limit(k)
        .collect()
    )
    if not seeds:
        vp.unpersist()
        raise EmptyCorpusError("pq_train: empty corpus")
    # a corpus smaller than k yields fewer seeds: train min(N, k)
    # centroids, exactly what the SQL oracle's `cl < k` seed filter
    # admits (row_number over N rows caps itself)
    k = min(k, len(seeds))
    dim = len(seeds[0].v)
    assert dim % m == 0, f"dim {dim} not divisible into {m} subspaces"
    dsub = dim // m
    cent = (
        np.round(np.asarray([np.asarray(r.v, dtype=np.float64) for r in seeds]), 6)
        .reshape(k, m, dsub)
        .transpose(1, 0, 2)
        .copy()
    )  # (m, k, dsub)
    from pyspark.sql.types import DoubleType

    # Fast path (array<double> inputs — the normalized/residual chains
    # every expensive catalog query trains on): the assignment pass emits
    # (sub, code, dim, x) DIRECTLY, so the per-iteration plan is one
    # mapInPandas flowing straight into a map-side-combined aggregate —
    # NO N·d-row component relation to cache, NO (id, sub)-keyed join
    # shuffling N·(d+m) rows per iteration; the only shuffle is the
    # m·k·dsub partial-aggregate states. The doubles pass through numpy
    # float64 (exact), so smi/n and every centroid are bit-identical to
    # the join path. float32 inputs keep the join path: re-emitting a
    # widened double would change F.round's shortest-decimal rounding.
    emit_direct = isinstance(vp.schema["v"].dataType.elementType, DoubleType)
    comp = None
    if not emit_direct:
        # persist: every Lloyd iteration re-joins the exploded (id, sub,
        # dim, x) component relation — without the cache the N·d-row
        # posexplode re-runs max_iter times
        comp = (
            vp.select("id", F.posexplode("v").alias("d", "x"))
            .select(
                "id",
                (F.col("d") / dsub).cast("int").alias("sub"),
                (F.col("d") % dsub).alias("dim"),
                "x",
            )
            .persist()
        )
    for _ in range(max_iter):
        bc = sc.broadcast(cent)
        assigned = (
            _assign_components(vp, bc)
            if emit_direct
            else _subspace_assign(vp, bc).join(comp, ["id", "sub"])
        )
        rows = (
            assigned.groupBy("sub", "code", "dim")
            .agg(*mean6_aggs())
            .selectExpr("sub", "code", "dim", f"{MEAN6_EXPR} AS c")
            .collect()
        )
        new = cent.copy()  # empty subspace clusters keep their centroid
        for r in rows:
            new[r.sub][r.code][r.dim] = r.c
        cent = new
        bc.destroy()
    if comp is not None:
        comp.unpersist()
    vp.unpersist()
    return cent


def _assign_components(vp: DataFrame, bc) -> DataFrame:
    """(sub, code, dim, x): per-subspace nearest-centroid assignment with
    the component values emitted in the SAME Arrow pass — pq_train's
    fast path (see there). One row per vector component, consumed by a
    partial aggregate in the same stage."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        cent = bc.value  # (m, k, dsub), 6-dp rounded
        m, _, dsub = cent.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            n = len(x)
            xs = x.reshape(n, m, dsub)
            subs, codes, dims, xvals = [], [], [], []
            dim_tile = np.tile(np.arange(dsub, dtype=np.int32), n)
            for s in range(m):
                d2 = np.round(
                    ((xs[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2), 6
                )
                code_s = d2.argmin(axis=1).astype(np.int32)
                subs.append(np.full(n * dsub, s, dtype=np.int32))
                codes.append(np.repeat(code_s, dsub))
                dims.append(dim_tile)
                xvals.append(xs[:, s, :].reshape(-1))
            yield pd.DataFrame(
                {
                    "sub": np.concatenate(subs),
                    "code": np.concatenate(codes),
                    "dim": np.concatenate(dims),
                    "x": np.concatenate(xvals),
                }
            )

    return vp.mapInPandas(gen, "sub int, code int, dim int, x double")


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m) — the compressed corpus
    representation to persist (at k ≤ 256 a production sink would pack
    codes to m bytes; the int array keeps the catalog oracle readable)."""
    vp = _prep(df, id_col, vec_col)
    sc = vp.sparkSession.sparkContext
    assigned = _subspace_assign(vp, sc.broadcast(codebooks))
    return (
        assigned.groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "code"))),
                lambda x: x["code"],
            ).alias("codes")
        )
    )


def pq_encode_cells(rows: DataFrame, codebooks) -> DataFrame:
    """(id, cell, codes array<int>) for an (id, cell, v) residual
    relation — the cell-keyed encode the multi-assign index needs
    (pq_encode groups by id alone, which cross-mixes an id's per-cell
    residual rows). One Arrow pass, NO shuffle: all m subspace argmins
    emit directly as the codes array (6-dp rounded squared L2, lowest
    centroid index on ties — the same discipline as _subspace_assign,
    so single-assign output is value-identical to pq_encode's)."""
    import numpy as np
    import pandas as pd

    bc = rows.sparkSession.sparkContext.broadcast(codebooks)

    def gen(batches):
        cent = bc.value  # (m, k*, dsub)
        m, _, dsub = cent.shape
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            xs = x.reshape(len(x), m, dsub)
            codes = np.empty((len(x), m), dtype=np.int64)
            for s in range(m):
                d2 = np.round(
                    ((xs[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2),
                    6,
                )
                codes[:, s] = d2.argmin(axis=1)  # first (lowest) index on ties
            yield pd.DataFrame(
                {"id": pdf["id"], "cell": pdf["cell"], "codes": list(codes)}
            )

    return rows.mapInPandas(gen, "id long, cell long, codes array<int>")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_shards: int = 8,
    query_blocks: int = 8,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query vectors scored against
    the COMPRESSED corpus. Same blocked shape as ann.cosine_topk — query
    blocks × corpus code shards, partial top-k per pair, global window
    over ≤ |Q|·S·k candidate rows — but the corpus side of the crossJoin
    ships codes (m ints/vector), not raw vectors: the B·|C| communication
    term shrinks by the compression factor, which is the entire point of
    PQ at corpus scale. Returns (query_id, neighbor_id, dist, rank),
    self-matches excluded; dist is the 6-dp ADC estimate (a lower-fidelity
    stand-in for true distance — rerank survivors with exact vectors when
    exactness matters, as FAISS IVFPQ does)."""
    import numpy as np
    import pandas as pd

    mdl = codebooks
    m, kcent, dsub = mdl.shape

    qp = _prep(queries, id_col, vec_col)

    # self-search below the regime gate (ann.fits_one_task): the two
    # pack aggregates, the crossJoin exchange and the rank window
    # collapse into ONE narrow mapInPandas stage that encodes and
    # ADC-scores in place. LUT values, exact integer-micro sums and the
    # (dist asc, id asc) rank replay partial_topk's np ops elementwise
    # (single shard ⇒ partial top-k IS the global top-k), so rows are
    # bit-identical; multi-shard corpora keep the blocked codes layout —
    # the 100 TB shape — untouched.
    from id3c_spark.operators.ann import fits_one_task

    if queries is corpus and fits_one_task(qp, ("id",)):
        bcm = qp.sparkSession.sparkContext.broadcast(mdl)
        src = qp.coalesce(1)

        def fused(batches):
            cent = bcm.value  # (m, kcent, dsub)
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
            xs = mat.reshape(n, m, dsub)
            # encode: per-subspace 6-dp argmin — _subspace_assign's ops
            ccodes = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                d2 = np.round(
                    ((xs[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2),
                    6,
                )
                ccodes[:, s] = d2.argmin(axis=1)
            # candidate columns ordered (id asc, position asc): a stable
            # row argsort on dist then reads out exactly partial_topk's
            # per-query lexsort((cand_ids, cand_d)) = (dist asc, id asc)
            # order; self-exclusion (by id, as there) masks to +inf, the
            # window is sized past the worst per-row self count, and
            # self slots are dropped after selection.
            corder = np.argsort(ids, kind="stable")
            ids_s = ids[corder]
            codes_s = ccodes[corder]
            chunk = max(16, (2 << 20) // max(n, 1))
            q_parts, n_parts, d_parts, r_parts = [], [], [], []
            for c0 in range(0, n, chunk):
                c1 = min(c0 + chunk, n)
                b = c1 - c0
                # per-query LUT, batched: identical elementwise ops and
                # the same contiguous dsub-axis sum as partial_topk's
                # per-i loop, then exact int64 micro gather-sums
                lut = np.round(
                    ((xs[c0:c1, :, None, :] - cent[None]) ** 2).sum(axis=3), 6
                )  # (b, m, kcent)
                lut_mi = np.rint(lut * 1e6).astype(np.int64)
                dist_mi = np.zeros((b, n), dtype=np.int64)
                for s in range(m):
                    dist_mi += lut_mi[:, s, :][:, codes_s[:, s]]
                dist = dist_mi / 1e6
                self_mask = ids_s[None, :] == ids[c0:c1, None]
                dist[self_mask] = np.inf
                t1 = min(
                    k + int(self_mask.sum(axis=1).max(initial=0)), n
                )
                order = np.argsort(dist, axis=1, kind="stable")[:, :t1]
                sel = np.take_along_axis(dist, order, axis=1)
                keep_sel = sel.ravel() < np.inf
                rq = np.repeat(np.arange(c0, c1), t1)[keep_sel]
                rn = ids_s[order.ravel()[keep_sel]]
                rd = sel.ravel()[keep_sel]
                if not len(rq):
                    continue
                row_start = np.flatnonzero(np.r_[True, rq[1:] != rq[:-1]])
                row_sizes = np.diff(np.r_[row_start, len(rq)])
                posw = np.arange(len(rq)) - np.repeat(row_start, row_sizes)
                keep_k = posw < k
                q_parts.append(ids[rq[keep_k]])
                n_parts.append(rn[keep_k])
                d_parts.append(rd[keep_k])
                r_parts.append((posw[keep_k] + 1).astype(np.int32))
            if not q_parts:
                return
            yield pd.DataFrame({
                "query_id": np.concatenate(q_parts),
                "neighbor_id": np.concatenate(n_parts),
                "dist": np.concatenate(d_parts),
                "rank": pd.array(np.concatenate(r_parts), dtype="int32"),
            })

        return src.mapInPandas(
            fused,
            schema="query_id long, neighbor_id long, dist double, rank int",
        )

    qpacked = (
        qp.select(
            F.pmod(F.hash(F.col("id")), F.lit(query_blocks)).alias("qb"),
            F.struct("id", "v").alias("rec"),
        )
        .groupBy("qb")
        .agg(F.collect_list("rec").alias("recs"))
    )

    def pack_q(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                recs = row["recs"]
                ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                mat = np.asarray(
                    [np.asarray(r["v"], dtype=np.float64) for r in recs]
                )
                out.append((row["qb"], ids.tobytes(), mat.tobytes()))
            yield pd.DataFrame(out, columns=["qb", "ids", "mat"])

    q = qpacked.mapInPandas(pack_q, "qb int, ids binary, mat binary").toDF(
        "qb", "q_ids", "q_mat"
    )

    codes = pq_encode(corpus, mdl, id_col, vec_col)
    cpacked = (
        codes.select(
            F.pmod(F.hash(F.col("id")), F.lit(corpus_shards)).alias("cb"),
            F.struct("id", "codes").alias("rec"),
        )
        .groupBy("cb")
        .agg(F.collect_list("rec").alias("recs"))
    )

    def pack_c(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                recs = row["recs"]
                ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                cm = np.asarray(
                    [np.asarray(r["codes"], dtype=np.int64) for r in recs]
                )
                out.append((row["cb"], ids.tobytes(), cm.tobytes()))
            yield pd.DataFrame(out, columns=["cb", "ids", "codes"])

    c = cpacked.mapInPandas(pack_c, "cb int, ids binary, codes binary").toDF(
        "cb", "c_ids", "c_codes"
    )
    pairs = q.crossJoin(c).repartition(query_blocks * corpus_shards, "qb", "cb")
    bc = qp.sparkSession.sparkContext.broadcast(mdl)

    def partial_topk(batches):
        for pdf in batches:
            cent = bc.value  # (m, kcent, dsub)
            for _, row in pdf.iterrows():
                qids, qmat = _unpack(row["q_ids"], row["q_mat"])
                cids = np.frombuffer(row["c_ids"], dtype=np.int64)
                ccodes = np.frombuffer(row["c_codes"], dtype=np.int64).reshape(
                    len(cids), m
                )
                qs = qmat.reshape(len(qids), m, dsub)
                # per-query LUT: (m, kcent) 6-dp subspace distances, then
                # ADC = sum of m lookups, re-rounded — matches the oracle's
                # round(sum(round(pd, 6)), 6)
                out_q, out_n, out_d = [], [], []
                for i in range(len(qids)):
                    lut = np.round(
                        ((qs[i][:, None, :] - cent) ** 2).sum(axis=2), 6
                    )  # (m, kcent)
                    # exact integer-micro summation: each 6-dp entry is a
                    # multiple of 1e-6, so the ADC total is summed in int64
                    # micros and divided once — no float re-round whose last
                    # digit depends on summation order (the oracle mirrors
                    # with an exact DECIMAL(18,6) sum)
                    lut_mi = np.rint(lut * 1e6).astype(np.int64)
                    dist = (
                        lut_mi[np.arange(m)[None, :], ccodes].sum(axis=1) / 1e6
                    )
                    mask = cids != qids[i]
                    cand_ids = cids[mask]
                    cand_d = dist[mask]
                    order = np.lexsort((cand_ids, cand_d))[:k]
                    out_q.extend([qids[i]] * len(order))
                    out_n.extend(cand_ids[order])
                    out_d.extend(cand_d[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "dist": out_d}
                )

    partial = pairs.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", F.col("rank").cast("int"))
    )


def _normalized(vp: DataFrame) -> DataFrame:
    """(id, v): unit-L2-normalized vectors. Normalizing FIRST is what
    makes residual-ADC L2 rank like the pipeline's cosine metric
    (‖â − b̂‖² = 2 − 2·cos); residuals of raw vectors mostly encode
    magnitude and measured recall collapses."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            x = x / np.sqrt((x * x).sum(axis=1))[:, None]
            yield pd.DataFrame({"id": pdf["id"], "v": list(x)})

    return vp.mapInPandas(gen, "id long, v array<double>")


def _residuals(vn: DataFrame, cells: DataFrame, bcg) -> DataFrame:
    """(id, v): each (already unit-normalized) vector minus its coarse
    cell's trained centroid — the IVFADC residual (Jégou et al. §IV;
    FAISS IVFPQ trains and encodes on residuals because codes spent
    re-encoding the cell offset are codes not spent on the neighborhood
    structure recall needs). *bcg* broadcasts the (1, nlist, dim) coarse
    codebook; *cells* is (id, cell-index). One id equi-join + one Arrow
    pass; the DuckDB oracle mirrors the same double arithmetic.

    Single-assignment shape: *cells* must be one row per id (the id
    equi-join would cross-pair multi-assigned rows) — multi-assign
    callers build the (id, cell, v) relation themselves and use
    _residuals_rows."""
    return _residuals_rows(cells.join(vn, "id"), bcg, keep_cell=False)


def _residuals_rows(
    rows: DataFrame, bcg, keep_cell: bool = False
) -> DataFrame:
    """Residuals for an ALREADY-joined (id, cell, v) relation — the
    multi-assign-safe kernel under _residuals: each row subtracts ITS
    row's cell centroid, so an id assigned to a (its top-a) cells
    yields a residual rows keyed (id, cell) with no cross-pairing.
    *keep_cell* carries the cell through for cell-keyed encoding."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        cent = bcg.value[0]  # (nlist, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            p = cent[pdf["cell"].to_numpy(dtype=np.int64)]
            out = {"id": pdf["id"]}
            if keep_cell:
                out["cell"] = pdf["cell"]
            out["v"] = list(x - p)
            yield pd.DataFrame(out)

    schema = (
        "id long, cell long, v array<double>"
        if keep_cell
        else "id long, v array<double>"
    )
    return rows.mapInPandas(gen, schema)


def _assign_topn(vn: DataFrame, bcg, n: int, ratio: float | None = None) -> DataFrame:
    """(id, cell): each vector's *n* nearest coarse centroids (6-dp
    squared L2, centroid-index tiebreak) — the IVF probe set. One Arrow
    pass, no shuffle; same discipline as clustering._assign.

    *ratio* makes the fan-out ADAPTIVE (corpus-side multi-assign only):
    the nearest cell is always kept; rank-j (j > 1) assignments survive
    only while round6(d2_j) <= ratio * round6(d2_1) — boundary vectors
    (whose runner-up cell is nearly as close) are the ones a probe set
    actually misses, so they carry the recall value of multi-assign,
    while interior vectors' duplicate rows are pure storage/scan cost.
    Both sides of the comparison are the 6-dp-rounded distances the
    ranking itself uses, so the DuckDB oracle mirror (grank.d2) filters
    on bit-identical values."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        cent = bcg.value[0]  # (nlist, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            d2 = np.round(((x[:, None, :] - cent[None]) ** 2).sum(axis=2), 6)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n]
            if ratio is None or n == 1:
                ids = np.repeat(pdf["id"].to_numpy(), order.shape[1])
                yield pd.DataFrame(
                    {"id": ids, "cell": order.reshape(-1).astype("int64")}
                )
                continue
            srt = np.take_along_axis(d2, order, axis=1)   # sorted d2, rounded
            keep = srt <= ratio * srt[:, :1]
            keep[:, 0] = True                             # rank 1 unconditional
            ids = np.repeat(pdf["id"].to_numpy(), keep.sum(axis=1))
            yield pd.DataFrame(
                {"id": ids, "cell": order[keep].astype("int64")}
            )

    return vn.mapInPandas(gen, "id long, cell long")


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks=None,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    kcent: int = 16,
    train_iter: int = 2,
    residual: bool | None = None,
    cell_splits: int = 1,
) -> DataFrame:
    """IVF + PQ — the FAISS-IVFPQ composition that ends the ANN ladder
    (exact blocked GEMM → LSH → IVF → PQ → IVFPQ): the corpus's PQ codes
    are inverted-file-partitioned by coarse cells, each query ships to
    its *nprobe* nearest cells, and candidates are scored
    compressed-domain with the ADC lookup table.

    With *codebooks* omitted (the default path) this is true IVFADC on
    the unit sphere: vectors are L2-normalized, the coarse quantizer is
    TRAINED Lloyd k-means (``pq_train`` with m=1 — one subspace IS plain
    k-means, so both quantizers share one oracle-mirrored discipline;
    trained cells lifted measured probe recall 0.70 → 0.81 at nprobe=6
    over the r6 md5-pivot cells), and codebooks are trained on and codes
    encode the per-cell RESIDUAL v̂ − centroid(cell(v̂)) with a SALTED
    seed order (unsalted, the residual seeds are the coarse seeds' own
    near-zero residuals and the codebooks collapse — measured recall
    0.09). Each query builds a per-probed-cell LUT from its own residual
    against that cell. Raw-vector codes instead waste most of their
    variance re-encoding the cell offset (r6: near-dup recall
    0.22–0.35); passing pre-trained raw-vector *codebooks* keeps that
    legacy non-residual scoring (residual=False) for composition with
    pq_train/pq_topk.

    Communication per query batch is |Q|·nprobe·d (probe rows carry the
    query vector) + the touched cells' CODES — both the candidate
    count (nprobe/nlist of the corpus) and the per-candidate payload
    (m ints) shrink, which is exactly how billion-vector serving indexes
    are laid out. Cells are the unit of parallelism; the cell-keyed join
    is AQE-skew-splittable when the quantizer is unbalanced.

    Returns (query_id, neighbor_id, dist, rank), self-matches excluded,
    dist the 6-dp ADC estimate (exact int-micro summation, as pq_topk).
    """
    import numpy as np
    import pandas as pd

    from id3c_spark.operators.ann import _ivf_assign, _ivf_pivots

    if residual is None:
        residual = codebooks is None
    same = queries is corpus
    cp = _prep(corpus, id_col, vec_col)
    cp = cp.persist() if same else cp
    qp = cp if same else _prep(queries, id_col, vec_col)

    bp = bcg = None
    if residual:
        vn = _normalized(cp).persist()
        qn = vn if same else _normalized(qp)
        coarse = pq_train(vn, "id", "v", m=1, k=nlist, max_iter=train_iter)
        bcg = cp.sparkSession.sparkContext.broadcast(coarse)
        cells = _assign_topn(vn, bcg, 1)
        probes = _assign_topn(qn, bcg, nprobe)
        enc_src = _residuals(vn, cells, bcg).persist()
        mdl = (
            codebooks
            if codebooks is not None
            else pq_train(
                enc_src, "id", "v", m=m, k=kcent, max_iter=train_iter,
                seed_salt=":pq",
            )
        )
        codes = pq_encode(enc_src, mdl, "id", "v")
        qp = qn  # probe packs carry the normalized query vector
        # both training actions are done — release the cached corpus
        # relations NOW so a long-lived session doesn't accumulate
        # storage blocks across calls. The returned lazy plan recomputes
        # each released pass at most once (every op is deterministic:
        # md5 seed order, broadcast models, Arrow math), so results are
        # bit-identical; the recompute is one normalize/residual Arrow
        # pass, not a training.
        vn.unpersist()
        enc_src.unpersist()
    else:
        bp = _ivf_pivots(cp, nlist)
        cells = _ivf_assign(cp, bp, 1)
        probes = _ivf_assign(qp, bp, nprobe)
        mdl = (
            codebooks
            if codebooks is not None
            else pq_train(corpus, id_col, vec_col, m=m, k=kcent, max_iter=train_iter)
        )
        codes = pq_encode(corpus, mdl, id_col, vec_col)
    out = _adc_topk(
        probes.join(qp, "id"), codes.join(cells, "id"), mdl, bcg, k, residual,
        cell_splits=cell_splits,
    )
    if same:
        cp.unpersist()
    return out


def _adc_topk(
    probe_vecs: DataFrame,
    codes_cells: DataFrame,
    mdl,
    bcg,
    k: int,
    residual: bool,
    cell_splits: int | None = 1,
    split_rows: int = 65536,
    dedup_pairs: bool = False,
) -> DataFrame:
    """The IVFPQ scoring stage, factored out so a PERSISTED index
    (plans/ann_index.py) serves through the identical code path as the
    in-memory ivfpq_topk: *probe_vecs* is (id, cell, v) — each query
    replicated per probed cell with its (normalized, for residual)
    vector; *codes_cells* is (id, cell, codes); *mdl* the (m, k*, dsub)
    codebooks; *bcg* the broadcast coarse model when *residual*.

    *cell_splits* bounds the hot-cell pack: corpus codes group on
    (cell, id-hash salt) so an unbalanced coarse quantizer's biggest
    cell splits into multiple packs instead of one giant row — each
    emits its partial top-k and the global window merges, so the result
    is EXACTLY the unsplit one while the largest task shrinks (the
    AQE-skew analogue for packed-binary rows, which AQE cannot split
    itself). The trade: every split pack recomputes its probing
    queries' LUTs and emits its own partial top-k, so splits are pure
    overhead on cells that are NOT oversized. cell_splits=None (the
    serving default) therefore sizes splits ADAPTIVELY from per-cell
    counts — one tiny nlist-bounded aggregate, the stats-before-strategy
    step — splitting each cell into ceil(rows / split_rows) packs:
    balanced small cells get exactly 1 (no redundant LUT work), a
    drifted hot cell still shards to bounded tasks. An int keeps the
    fixed salt (default 1: the in-call quantizer is freshly trained and
    near-balanced)."""
    import numpy as np
    import pandas as pd

    m, _, dsub = mdl.shape
    if cell_splits is None:
        sizes = codes_cells.groupBy("cell").count().collect()
        split_of = {
            r["cell"]: -(-r["count"] // split_rows) for r in sizes
        }
        if all(v == 1 for v in split_of.values()):
            split_expr = F.lit(0)
        else:
            pairs = [x for c, n in split_of.items() for x in (F.lit(c), F.lit(n))]
            split_expr = F.pmod(
                F.xxhash64(F.col("id")),
                F.element_at(F.create_map(*pairs), F.col("cell")),
            )
    else:
        split_expr = F.pmod(F.xxhash64(F.col("id")), F.lit(cell_splits))
    packs = codes_cells.groupBy(
        "cell", split_expr.alias("__split")
    ).agg(F.collect_list(F.struct("id", "codes")).alias("recs"))

    def pack_cells(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                recs = row["recs"]
                ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                cm = np.asarray(
                    [np.asarray(r["codes"], dtype=np.int64) for r in recs]
                )
                out.append((row["cell"], ids.tobytes(), cm.tobytes()))
            yield pd.DataFrame(out, columns=["cell", "ids", "codes"])

    cell_packs = packs.mapInPandas(
        pack_cells, "cell long, ids binary, codes binary"
    )
    # pack the PROBING QUERIES per cell as well, so the cell join is one
    # row per cell — joining raw per-probe rows instead would replicate a
    # cell's code pack once per probing query (measured 1.8× slower at
    # sf0.1, and quadratic-in-|Q| replication at scale). A pathologically
    # hot cell makes one big row; sub-split it like ann._packed_cells if
    # the coarse quantizer is unbalanced.
    qpacks = probe_vecs.groupBy("cell").agg(
        F.collect_list(F.struct("id", "v")).alias("recs")
    )

    def pack_probes(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                recs = row["recs"]
                ids = np.asarray([r["id"] for r in recs], dtype=np.int64)
                mat = np.asarray(
                    [np.asarray(r["v"], dtype=np.float64) for r in recs]
                )
                out.append((row["cell"], ids.tobytes(), mat.tobytes()))
            yield pd.DataFrame(out, columns=["cell", "q_ids", "q_mat"])

    probe_packs = qpacks.mapInPandas(
        pack_probes, "cell long, q_ids binary, q_mat binary"
    )
    joined = probe_packs.join(cell_packs, "cell")
    bc = probe_vecs.sparkSession.sparkContext.broadcast(mdl)

    def score(batches):
        cent = bc.value
        coarse = bcg.value[0] if residual else None
        for pdf in batches:
            for _, row in pdf.iterrows():
                qids, qmat = _unpack(row["q_ids"], row["q_mat"])
                cids = np.frombuffer(row["ids"], dtype=np.int64)
                ccodes = np.frombuffer(row["codes"], dtype=np.int64).reshape(
                    len(cids), m
                )
                # residual ADC: the (already normalized) query's residual
                # AGAINST THIS CELL is what its codes were encoded against
                pivot = coarse[int(row["cell"])] if residual else None
                nq = len(qids)
                # ONE vectorized LUT + gather for every query in the pack
                # (elementwise ops batch exactly, so each value is
                # bit-identical to the per-query formulation) — the
                # per-query Python loop was the pack-row cost that made
                # cell sub-splitting expensive
                qv = qmat - pivot if residual else qmat        # (nq, d)
                qs = qv.reshape(nq, m, dsub)
                # per-subspace loop: elementwise arithmetic and the
                # dsub-axis reduction are IDENTICAL to the one-shot
                # (nq, m, k*, dsub) broadcast, but the largest temporary
                # shrinks m× — at k*=256 the fused form materializes
                # ~200 MB per pack row and the scoring stage goes
                # memory-bandwidth-bound
                lut_mi = np.empty((nq, m, cent.shape[1]), dtype=np.int64)
                for s in range(m):
                    lut_s = np.round(
                        ((qs[:, s, None, :] - cent[s][None]) ** 2).sum(axis=2), 6
                    )                                          # (nq, k*)
                    lut_mi[:, s, :] = np.rint(lut_s * 1e6)
                dist_all = (
                    lut_mi[:, np.arange(m)[None, :], ccodes].sum(axis=2) / 1e6
                )                                              # (nq, ncand)
                out_q, out_n, out_d = [], [], []
                for i in range(nq):
                    mask = cids != qids[i]
                    cand_ids = cids[mask]
                    cand_d = dist_all[i][mask]
                    order = np.lexsort((cand_ids, cand_d))[:k]
                    out_q.extend([qids[i]] * len(order))
                    out_n.extend(cand_ids[order])
                    out_d.extend(cand_d[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "dist": out_d}
                )

    partial = joined.mapInPandas(
        score, "query_id long, neighbor_id long, dist double"
    )
    if dedup_pairs:
        # multi-assigned corpora surface the same (query, neighbor) pair
        # once per shared probed cell, each with that cell's own residual
        # ADC estimate — keep the MIN (the better estimate; FAISS
        # multi-assign semantics). Exact under per-pack partial top-k:
        # any pack row beating a pair's best row belongs to a pair whose
        # deduped dist is also better, so the global top-k is unchanged.
        partial = partial.groupBy("query_id", "neighbor_id").agg(
            F.min("dist").alias("dist")
        )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", F.col("rank").cast("int"))
    )
