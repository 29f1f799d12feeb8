"""Distributed k-means clustering over an embedding column.

The embedding-space organizer the training-data family leans on:
SemDeDup-style semantic dedup clusters before pruning, domain discovery /
auto-curation buckets a corpus by centroid, and IVF indexes are literally
k-means cells (``ann.ivf_topk`` uses fixed data pivots for oracle
reproducibility; this module is the trained-centroid version).

Execution shape (Lloyd iterations, Spark-first):
  - centroids are a k x dim matrix — tiny — broadcast every round;
  - assignment is one Arrow-batched GEMM ``mapInPandas`` pass over the
    corpus (no shuffle, no UDF-per-row);
  - the centroid update is a single map-side-combined ``groupBy(cluster,
    dim)`` aggregation whose result is k*dim rows — bounded and collected
    like any other reduction to a broadcastable model.
  So a 100 TB corpus is scanned once per iteration with one narrow
  aggregation shuffle (rows = k*dim, not corpus-sized); nothing grows
  with N on the driver.

Determinism contract (DuckDB-oracle replayable, same discipline as
operators/ann.py):
  - init = the k vectors with the smallest ``md5(id)`` (order-invariant
    deterministic sample), components rounded to 6 dp;
  - distances are squared L2 rounded to 6 dp with centroid-index
    tiebreak, so assignment cannot flip on last-ulp differences;
  - the mean is computed over 6-dp-rounded components with an EXACT
    decimal sum (order-independent across partitionings) and a half-up
    integer-micro division (see MEAN6_EXPR) — both engines produce the
    identical centroid bit-for-bit;
  - a cluster that loses all members keeps its previous centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from id3c_spark.operators.ann import _prep


def mean6_aggs(xcol: str = "x") -> list:
    """Aggregates for the exact 6-dp mean: ``smi`` = sum of round(x, 6)
    in exact integer micros (a decimal sum — order-independent across any
    partitioning), ``n`` = count. Pair with MEAN6_EXPR."""
    return [
        (F.sum(F.round(F.col(xcol), 6).cast("decimal(20,6)")) * 1000000)
        .cast("long")
        .alias("smi"),
        F.count("*").alias("n"),
    ]


# half-up (away-from-zero) 6-dp mean from (smi, n), entirely in int64
# arithmetic: a double quotient re-rounded to 6 dp can land on a rounding
# tie where engines disagree — integer division cannot, so Spark and the
# DuckDB oracle produce the identical centroid by construction. The final
# /1e6 is one double op both engines perform on the same integer.
MEAN6_EXPR = (
    "CASE WHEN smi >= 0 THEN (2 * smi + n) div (2 * n) "
    "ELSE -((2 * (-smi) + n) div (2 * n)) END / 1000000.0"
)


def micros6(x):
    """Vectorized EXACT mirror of ``round(x, 6)::decimal(20,6)`` as int64
    micros — the per-component value mean6_aggs sums. Spark's round on a
    double is BigDecimal(shortest-repr).setScale(6, HALF_UP), and the
    decimal cast of the rounded double recovers that 6-dp value exactly,
    so the composite is one half-up rounding of the double's shortest
    decimal repr at the 6th place. Numerically floor(|x|*1e6 + 0.5) with
    the sign restored equals that everywhere except within float error
    of a .5 tie, so elements whose fractional part lands near .5 (and
    only those — essentially none in real data) replay the exact
    BigDecimal arithmetic via Decimal(repr): same shortest-repr input,
    same HALF_UP rule, bit-identical output (the graph.py weighted-degree
    replay, generalized)."""
    import numpy as np

    if not np.isfinite(x).all():
        # the staged path turns non-finite components into decimal-cast
        # NULLs (skipped by sum, counted by n) — semantics an int64
        # micro pipeline cannot represent; fail loudly rather than
        # emit an undefined int64 (ADVICE r15)
        raise ValueError(
            "micros6: non-finite component; the fused single-task path "
            "cannot represent it (the staged path's decimal cast NULLs it)"
        )
    fa = np.abs(x) * 1e6
    frac = fa - np.floor(fa)
    out = np.floor(fa + 0.5)
    # tie window scales with ulp of fa (float error of |x|*1e6 is
    # relative, so a fixed 1e-8 missed true ties past |x| ~ 100 —
    # ADVICE r15); the absolute floor keeps the old coverage for small
    # magnitudes. A wider window only sends MORE elements to the exact
    # BigDecimal replay, so it can only improve agreement.
    unsafe = np.flatnonzero(
        np.abs(frac - 0.5) < np.maximum(1e-8, 8 * np.spacing(fa))
    )
    if len(unsafe):
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        flat_x = np.asarray(x, dtype=np.float64).ravel()
        flat_out = out.ravel()
        for j in unsafe:
            flat_out[j] = abs(
                int(
                    Decimal(repr(float(flat_x[j])))
                    .scaleb(6)
                    .quantize(one, ROUND_HALF_UP)
                )
            )
        out = flat_out.reshape(out.shape)
    return (np.sign(x) * out).astype(np.int64)


def mean6_int(smi, n):
    """Vectorized MEAN6_EXPR: half-up integer-micro division → double.
    *smi* int64 micro sums, *n* int64 positive counts."""
    import numpy as np

    smi = np.asarray(smi, dtype=np.int64)
    n = np.asarray(n, dtype=np.int64)
    pos = (2 * smi + n) // (2 * n)
    neg = -((2 * (-smi) + n) // (2 * n))
    return np.where(smi >= 0, pos, neg) / 1e6


def lloyd_np(ids, mat, m, k, max_iter, seed_salt=""):
    """Task-side mirror of pq_train's Lloyd loop (kmeans is the m=1
    instance): md5-smallest seeds (id tiebreak), per-subspace 6-dp
    squared-L2 argmin assignment, exact integer-micro half-up mean,
    empty clusters keep their centroid. Returns (m, min(k, N), d/m)
    centroids bit-identical to the collect-per-iteration path: seeds are
    np.round'd like pq_train's driver code, assignment replays
    _assign_components' np ops, and the mean replays
    mean6_aggs + MEAN6_EXPR through micros6/mean6_int."""
    import hashlib

    import numpy as np

    n = len(ids)
    md5s = [
        hashlib.md5((str(int(i)) + seed_salt).encode()).hexdigest() for i in ids
    ]
    seed_rows = sorted(range(n), key=lambda j: (md5s[j], ids[j]))[:k]
    k = min(k, len(seed_rows))
    dim = mat.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible into {m} subspaces"
    dsub = dim // m
    cent = (
        np.round(mat[seed_rows], 6).reshape(k, m, dsub).transpose(1, 0, 2).copy()
    )  # (m, k, dsub)
    if max_iter > 0:
        xs = mat.reshape(n, m, dsub)
        mic = micros6(mat).reshape(n, m, dsub)
        for _ in range(max_iter):
            new = cent.copy()  # empty subspace clusters keep their centroid
            for s in range(m):
                d2 = np.round(
                    ((xs[:, s, None, :] - cent[s][None, :, :]) ** 2).sum(axis=2), 6
                )
                code = d2.argmin(axis=1)
                smi = np.zeros((k, dsub), dtype=np.int64)
                np.add.at(smi, code, mic[:, s, :])
                cnt = np.bincount(code, minlength=k).astype(np.int64)
                filled = cnt > 0
                new[s][filled] = mean6_int(smi[filled], cnt[filled, None])
            cent = new
    return cent


def _assign(vp: DataFrame, bc, with_dist: bool = False) -> DataFrame:
    """(id, cluster[, dist]) — nearest centroid by 6-dp squared L2,
    centroid-index tiebreak (np.argmin picks the first minimum, matching
    the oracle's ORDER BY dist, cl). One GEMM-style pass, no shuffle."""
    import numpy as np
    import pandas as pd

    schema = "id long, cluster long" + (", dist double" if with_dist else "")

    def gen(batches):
        cent = bc.value  # k x dim, 6-dp rounded
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )
            d2 = np.round(
                ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6
            )
            cl = d2.argmin(axis=1)
            out = {"id": pdf["id"].values, "cluster": cl.astype("int64")}
            if with_dist:
                out["dist"] = d2[np.arange(len(cl)), cl]
            yield pd.DataFrame(out)

    return vp.mapInPandas(gen, schema)


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 2,
) -> DataFrame:
    """Lloyd k-means: *max_iter* assign/update rounds from the
    deterministic md5 seed, then a final assignment. Returns
    ``(id_col, cluster, dist)`` where cluster is the 0-based index of the
    seed ordering and dist the 6-dp squared L2 to the final centroid.

    Below the regime gate (ann.fits_one_task) the seed-collect job,
    every per-iteration centroid collect, and the final assignment
    collapse into ONE lazy narrow mapInPandas stage (zero driver jobs
    at plan-build time); training
    arithmetic is bit-identical by the lloyd_np contract. Larger
    corpora keep the broadcast-centroid distributed iteration."""
    import numpy as np

    from id3c_spark.operators.ann import fits_one_task

    vp = _prep(df, id_col, vec_col)
    if fits_one_task(vp, ("id",)):
        import pandas as pd

        src = vp.coalesce(1)

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
            cent = lloyd_np(ids, mat, 1, k, max_iter)[0]  # (k', dim)
            # final assignment with dist — _assign's exact np ops
            d2 = np.round(
                ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 6
            )
            cl = d2.argmin(axis=1)
            yield pd.DataFrame({
                "id": ids,
                "cluster": cl.astype("int64"),
                "dist": d2[np.arange(len(cl)), cl],
            })

        return src.mapInPandas(run, "id long, cluster long, dist double").select(
            F.col("id").alias(id_col), "cluster", "dist"
        )

    vp = vp.persist()
    sc = vp.sparkSession.sparkContext
    seed = (
        vp.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    cent = np.round(
        np.asarray([np.asarray(r.v, dtype=np.float64) for r in seed]), 6
    )
    for _ in range(max_iter):
        bc = sc.broadcast(cent)
        rows = (
            _assign(vp, bc)
            .join(vp, "id")
            .select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(*mean6_aggs())
            .selectExpr("cluster", "dim", f"{MEAN6_EXPR} AS c")
            .collect()
        )
        new = cent.copy()  # empty clusters keep their previous centroid
        for r in rows:
            new[r.cluster][r.dim] = r.c
        cent = new
        bc.destroy()
    # training actions (seed collect + per-iteration centroid collects) are
    # done — release the cached prep relation NOW so a long-lived session
    # doesn't accumulate storage blocks across calls (the pq.py:585 recipe).
    # The returned lazy plan recomputes one deterministic _prep Arrow pass;
    # assignment math is 6-dp-rounded with index tiebreak, so the result is
    # bit-identical with or without the cache.
    vp.unpersist()
    out = _assign(vp, sc.broadcast(cent), with_dist=True)
    return out.select(
        F.col("id").alias(id_col), "cluster", "dist"
    )
