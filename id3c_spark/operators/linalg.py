"""Distributed linear algebra over embedding columns.

power_iteration finds the dominant principal direction of the
(uncentered) Gram matrix AᵀA of an N×d embedding relation — the
workhorse behind PCA whitening, spectral outlier detection, and
"is this embedding space collapsing" diagnostics over a 100 TB corpus.

Scale shape (the Krylov pattern): the N×d matrix never moves. Per
iteration:
  1. each row computes its dot with the broadcast d-vector ROW-LOCALLY
     (a zip_with/aggregate expression — no join, no shuffle, no UDF);
  2. per-dimension contribution sums reduce through ONE map-side-
     combined aggregation with exactly d groups;
  3. the driver normalizes a d-float vector.
Driver state is d floats; cluster traffic per iteration is
d × partitions partial rows. That is the communication lower bound for
AᵀAv.

Determinism contract (the catalog oracle unrolls iterations as a CTE
chain, like k-means/PQ/PageRank): every cross-row sum is a bigint sum
of floor(x · SCALE) terms — exact and order-independent, floor of an
identical double has no round-half window — and every remaining float
op is a single IEEE op on identical inputs, including the driver-side
normalization (mirrored with the same floor-to-int discipline). Both
engines produce bit-identical vectors.

Overflow bound: Σ_rows |floor(val·dot·SCALE)| ≲ N·SCALE for unit-ish
embeddings; the default SCALE=1e9 is safe beyond 1e9 rows. For corpora
past that, pass contrib_scale=1e6 (precision cost: 6 exact digits per
term, still far below float noise after normalization).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scales (see determinism contract above)
DOT_SCALE = 1e9
NORM_SCALE = 1e12


def _np_power(mat, dim: int, iters: int, contrib_scale: float):
    """numpy mirror of the distributed fixed-point power iteration —
    bit-exact by construction: every op below is the same single IEEE
    float64 op, in the same order, as the column expressions in
    power_iteration (floor((e·v)·1e9) int64 sums for the dot,
    floor((e·dot)·scale) int64 sums for the AᵀAv components,
    floor(q²·1e12) for the norm; integer sums are exact and
    order-independent, so numpy's summation order cannot diverge)."""
    import numpy as np

    n = mat.shape[0]
    v = np.full(dim, 1.0 / math.sqrt(float(dim)), dtype=np.float64)
    if n == 0:
        return v
    for _ in range(iters):
        dot = (
            np.floor(mat * v * DOT_SCALE).astype(np.int64).sum(axis=1)
        ).astype(np.float64) / DOT_SCALE
        c = (
            np.floor(mat * dot[:, None] * contrib_scale)
            .astype(np.int64)
            .sum(axis=0)
        )
        q = (c.astype(np.float64) / contrib_scale) / float(n)
        nm = int(np.floor(q * q * NORM_SCALE).astype(np.int64).sum())
        if nm == 0:  # degenerate (all-zero) input — keep current vector
            break
        norm = math.sqrt(nm / NORM_SCALE)
        v = q / norm
    return v


def _fused_spectral(
    df: DataFrame,
    id_col: str | None,
    vec_col: str,
    dim: int,
    iters: int,
    output: str,
    contrib_scale: float = DOT_SCALE,
) -> DataFrame:
    """LAZY single-task plan for the small regime: scan → coalesce(1) →
    one mapInPandas running the whole power iteration (and, for
    ``output="scores"``, the final projection) in numpy. Emits RAW
    (unrounded) doubles — callers apply the identical F.round / stats
    expressions the distributed path uses, so the visible arithmetic is
    unchanged. Replaces 1 count job + *iters* collect jobs (each a full
    source re-scan + 64-group aggregation) with one narrow stage."""
    cols = ([F.col(id_col).alias("id")] if id_col else []) + [
        F.col(vec_col).alias("e")
    ]
    src = df.select(*cols).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        ids_acc, mat_acc = [], []
        for pdf in batches:
            if len(pdf):
                if id_col:
                    ids_acc.append(pdf["id"].to_numpy(dtype="int64"))
                mat_acc.append(
                    np.asarray(
                        [np.asarray(x, dtype=np.float64) for x in pdf["e"]]
                    )
                )
        mat = (
            np.vstack(mat_acc) if mat_acc
            else np.empty((0, dim), dtype=np.float64)
        )
        v = _np_power(mat, dim, iters, contrib_scale)
        if output == "direction":
            yield pd.DataFrame(
                {"dim": np.arange(1, dim + 1, dtype="int64"), "v": v}
            )
        elif len(mat):
            score = (
                np.floor(mat * v * DOT_SCALE).astype(np.int64).sum(axis=1)
            ).astype(np.float64) / DOT_SCALE
            yield pd.DataFrame({"id": np.concatenate(ids_acc), "score": score})

    schema = (
        "dim long, v double" if output == "direction"
        else f"id {src.schema['id'].dataType.simpleString()}, score double"
    )
    return src.mapInPandas(run, schema)


def _dot_int(e, v: list[float]):
    """Σ_d floor(e[d]·v[d]·DOT_SCALE) as one bigint column — the exact
    fixed-point dot with the broadcast-literal vector *v*."""
    vlit = F.array(*[F.lit(x) for x in v])
    return F.aggregate(
        F.zip_with(
            e,
            vlit,
            lambda x, y: F.floor(x.cast("double") * y * F.lit(DOT_SCALE)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )


def power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
    contrib_scale: float = DOT_SCALE,
) -> list[float]:
    """Dominant eigenvector of AᵀA after *iters* power iterations.

    Returns the unit d-vector (sign is deterministic: iteration from the
    uniform 1/√d start). Empty input returns the start vector.
    """
    # Keep the raw (float) array and cast PER ELEMENT: referencing a
    # whole-array cast column 65 times lets CollapseProject inline the
    # cast per reference — 65 array materializations per row. Scalar
    # float→double casts are exact, so the oracle arithmetic is
    # unchanged.
    e = df.select(F.col(vec_col).alias("e"))
    n = e.count()
    v = [1.0 / math.sqrt(float(dim))] * dim
    if n == 0:
        return v
    for _ in range(iters):
        # zip_with/aggregate rather than a 64-term Add chain: the chain
        # forces a multi-second Janino compile of one huge generated
        # method EVERY iteration (v changes → new plan); the HOF form
        # compiles small and measured faster end-to-end (1.0 s vs 1.5 s
        # per iteration at sf0.1) with bit-identical sums.
        dot = (_dot_int(F.col("e"), v).cast("double") / F.lit(DOT_SCALE)).alias(
            "dot"
        )
        sums = (
            e.select(dot, F.posexplode("e").alias("pos", "val"))
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(
                F.sum(
                    F.floor(
                        F.col("val").cast("double")
                        * F.col("dot")
                        * F.lit(contrib_scale)
                    )
                ).alias("c")
            )
            .collect()
        )
        c = {row["dim"]: row["c"] for row in sums}
        q = [(c[d] / contrib_scale) / float(n) for d in range(1, dim + 1)]
        nm = sum(math.floor(x * x * NORM_SCALE) for x in q)
        if nm == 0:  # degenerate (all-zero) input — keep current vector
            break
        norm = math.sqrt(nm / NORM_SCALE)
        v = [x / norm for x in q]
    return v


def principal_direction(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
) -> DataFrame:
    """(dim, v) relation of the dominant principal direction, rounded
    6 dp in Spark (so the rounding engine matches the catalog oracle).

    Small regime (ann.fits_one_task): the whole iteration fuses into
    one narrow mapInPandas stage — bit-parity with the distributed
    passes is pinned in tests/test_linalg_fused.py."""
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df):
        out = _fused_spectral(df, None, vec_col, dim, iters, "direction")
    else:
        v = power_iteration(df, vec_col, dim, iters)
        out = df.sparkSession.createDataFrame(
            [(d, v[d - 1]) for d in range(1, dim + 1)], "dim long, v double"
        )
    return out.select("dim", F.round("v", 6).alias("v"))


def pc_projection(
    df: DataFrame,
    v: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score): each row's exact-int-floored projection onto *v* —
    row-local (no shuffle); feeds spectral outlier cuts and 1-D
    binning/sorting of an embedding corpus."""
    score = _dot_int(F.col(vec_col), v).cast("double") / F.lit(DOT_SCALE)
    return df.select(F.col(id_col).alias("id"), F.round(score, 6).alias("score"))


def spectral_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
) -> DataFrame:
    """(id, score): each row's projection onto the corpus's dominant
    principal direction — power_iteration + pc_projection composed, or,
    in the stats-gated small regime, ONE fused narrow stage computing
    both (no count job, no per-iteration collect jobs, no source
    re-scans). Identical output either way (bit-parity pinned in
    tests/test_linalg_fused.py)."""
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(df):
        raw = _fused_spectral(df, id_col, vec_col, dim, iters, "scores")
        return raw.select("id", F.round("score", 6).alias("score"))
    v = power_iteration(df, vec_col, dim, iters)
    return pc_projection(df, v, id_col, vec_col)


def top_directions(
    df: DataFrame,
    p: int = 2,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
) -> list[list[float]]:
    """Top-*p* principal directions of AᵀA by power iteration with
    Gram-Schmidt deflation: after each direction converges, every
    subsequent iterate is re-orthogonalized against the found set
    (driver-side d-vector arithmetic — the N×d relation still never
    moves, each direction costs the same *iters* distributed passes as
    power_iteration). The standard deflation route to a small top-p PCA
    when p ≪ d; for p approaching d use a proper distributed
    tall-skinny factorization instead.

    Orthogonalization happens on the driver between passes, so the
    per-iteration cluster work is UNCHANGED: one row-local dot + one
    d-group aggregation."""
    found: list[list[float]] = []
    e = df.select(F.col(vec_col).alias("e"))
    n = e.count()
    if n == 0:
        return [[1.0 / math.sqrt(float(dim))] * dim for _ in range(p)]

    def ortho(v: list[float]) -> list[float]:
        for u in found:
            proj = sum(a * b for a, b in zip(v, u))
            v = [a - proj * b for a, b in zip(v, u)]
        nm = math.sqrt(sum(x * x for x in v))
        return [x / nm for x in v] if nm > 1e-12 else v

    for _ in range(p):
        # deterministic start, deflated against found directions
        v = ortho([1.0 / math.sqrt(float(dim))] * dim)
        for _ in range(iters):
            dot = (
                _dot_int(F.col("e"), v).cast("double") / F.lit(DOT_SCALE)
            ).alias("dot")
            sums = (
                e.select(dot, F.posexplode("e").alias("pos", "val"))
                .groupBy((F.col("pos") + 1).alias("dim"))
                .agg(
                    F.sum(
                        F.floor(
                            F.col("val").cast("double")
                            * F.col("dot")
                            * F.lit(DOT_SCALE)
                        )
                    ).alias("c")
                )
                .collect()
            )
            c = {row["dim"]: row["c"] for row in sums}
            q = [(c[d] / DOT_SCALE) / float(n) for d in range(1, dim + 1)]
            v = ortho(q)
        found.append(v)
    return found
