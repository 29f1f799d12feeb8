"""Graph analytics over similarity/duplicate pair relations.

The dedup family (dedup.py) produces pair relations (near-duplicate
edges); dedup_clusters gives connected components. PageRank adds the
next graph question a corpus pipeline asks of that graph: *which
documents are the most-connected hubs of a duplicate neighborhood* —
useful for picking cluster representatives by centrality rather than
min-id, and for down-weighting documents sitting inside dense
boilerplate cliques.

Scale shape: classic iterative PageRank — per iteration ONE shuffle of
the edge relation keyed on the source id (join with the current rank
relation, which is node-keyed), then a map-side-combined aggregation
keyed on the destination. The edge relation is symmetrized once and
localCheckpoint'ed, so every iteration starts from a constant-depth
plan (no lineage growth — the same discipline as dedup.dedup_clusters'
pointer-jumping loop). Nothing is collected to the driver except the
node count (a single long).

Determinism contract (the catalog oracle unrolls the same iterations as
a DuckDB CTE chain): per-edge contributions are floor(rank/deg · 1e12)
BIGINTs — floor of an identical double is unambiguous (no round-half
coincidence window at all), and bigint sums are exact and
order-independent — then one double division per node. Every float op
is a single IEEE op on identical inputs, so both engines produce
bit-identical ranks regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed-point scale for per-edge contributions. Σ contributions ≤ 1e12
#: per node (ranks sum to ~1), so bigint sums cannot overflow.
SCALE = 1e12


def _node_type(*cols: tuple) -> str:
    """DDL type of the node ids the distributed loops emit: the
    union-widened type of every (frame, column) feeding them. The fused
    mirrors compute in int64 and emit this type, so both regimes return
    the same schema. Plan analysis only, no Spark job."""
    nodes = None
    for df, c in cols:
        part = df.select(F.col(c).alias("node"))
        nodes = part if nodes is None else nodes.unionByName(part)
    return nodes.schema["node"].dataType.simpleString()


def _sym_edges_np(src, dst, w=None):
    """numpy mirror of the operators' symmetrize + distinct prologue:
    both directions of every pair, deduped — over (src, dst) tuples, or
    (src, dst, w) when weighted (identical to DataFrame.distinct() on
    those columns). Returns sorted-unique node ids and edge index
    arrays into that node vector (plus per-edge weights when given)."""
    import numpy as np

    s2 = np.concatenate([src, dst])
    d2 = np.concatenate([dst, src])
    if w is None:
        codes = np.stack([s2, d2], axis=1)
        uniq = np.unique(codes, axis=0) if len(codes) else codes
        s2, d2 = (uniq[:, 0], uniq[:, 1]) if len(uniq) else (s2[:0], d2[:0])
        wv = None
    else:
        w2 = np.concatenate([w, w]).astype(np.float64)
        # distinct over the full (src, dst, w) tuple, like the
        # distributed union+distinct — w compares by BIT PATTERN (the
        # 6-dp-rounded doubles are bit-stable, so bit equality is value
        # equality; int64 columns stay exact, no float cast of the ids)
        codes = np.stack([s2, d2, w2.view(np.int64)], axis=1)
        uniq = np.unique(codes, axis=0) if len(codes) else codes
        if len(uniq):
            s2, d2 = uniq[:, 0], uniq[:, 1]
            wv = uniq[:, 2].copy().view(np.float64)
        else:
            s2, d2, wv = s2[:0], d2[:0], w2[:0]
    nodes = np.unique(np.concatenate([s2, d2]))
    si = np.searchsorted(nodes, s2)
    di = np.searchsorted(nodes, d2)
    return nodes, si, di, wv


def _fused_pagerank(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    damping: float,
    iters: int,
    weight_col: str | None,
) -> DataFrame:
    """Single-task mirror of the pagerank loop for the stats-gated small
    regime: symmetrize+distinct, degree, and all *iters* contribution
    rounds run in one numpy task instead of per-iteration
    localCheckpoint jobs. Bit-parity holds by the module's determinism
    contract: contributions are floor((…)·1e12) int64 sums (exact,
    order-independent — np.add.at), degrees are exact int64 counts
    (unweighted) or exact micro sums divided once (weighted — the same
    single correctly-rounded division DECIMAL(18,6)→double performs),
    and every remaining float op is the identical single IEEE op. Emits
    RAW ranks; the caller applies the same F.round as the distributed
    path."""
    wcols = [F.col(weight_col).alias("w")] if weight_col else []
    src = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"), *wcols
    ).coalesce(1)
    weighted = weight_col is not None

    def run(batches):
        import numpy as np
        import pandas as pd

        sa, da, wa = [], [], []
        for pdf in batches:
            if len(pdf):
                sa.append(pdf["src"].to_numpy(np.int64))
                da.append(pdf["dst"].to_numpy(np.int64))
                if weighted:
                    wa.append(pdf["w"].to_numpy(np.float64))
        if not sa:
            return
        nodes, si, di, wv = _sym_edges_np(
            np.concatenate(sa),
            np.concatenate(da),
            np.concatenate(wa) if weighted else None,
        )
        n = len(nodes)
        if n == 0:
            return
        if weighted:
            # per-edge micros must equal cast(w AS DECIMAL(18,6))'s
            # unscaled value: for (near-)6-dp weights rint is exact;
            # anything else replays BigDecimal(repr).setScale(HALF_UP)
            # (repr and Double.toString are both shortest round-trip
            # reprs — the same numeric value feeds the same rounding)
            mf = np.rint(wv * 1e6)
            if np.all(np.abs(wv * 1e6 - mf) < 1e-6):
                mic = mf.astype(np.int64)
            else:
                from decimal import ROUND_HALF_UP, Decimal

                one = Decimal(1)
                mic = np.asarray(
                    [
                        int(
                            Decimal(repr(float(x)))
                            .scaleb(6)
                            .quantize(one, ROUND_HALF_UP)
                        )
                        for x in wv
                    ],
                    dtype=np.int64,
                )
            micros = np.zeros(n, dtype=np.int64)
            np.add.at(micros, si, mic)
            deg = micros.astype(np.float64) / 1e6
        else:
            deg = np.bincount(si, minlength=n).astype(np.int64)
        teleport = (1.0 - damping) / float(n)
        rank = np.full(n, 1.0 / float(n), dtype=np.float64)
        for _ in range(iters):
            if weighted:
                c = np.floor(rank[si] * (wv / deg[si]) * SCALE).astype(np.int64)
            else:
                c = np.floor(rank[si] / deg[si] * SCALE).astype(np.int64)
            sums = np.zeros(n, dtype=np.int64)
            np.add.at(sums, di, c)
            # post-symmetrize every node has an in-edge from a ranked
            # node, so the distributed inner-join+groupBy keeps ALL
            # nodes each round — the dense vector mirrors it exactly
            rank = teleport + damping * (sums.astype(np.float64) / SCALE)
        yield pd.DataFrame({"node": nodes, "rank": rank})

    t = _node_type((pairs, a_col), (pairs, b_col))
    return src.mapInPandas(run, f"node {t}, rank double")


def pagerank(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    damping: float = 0.85,
    iters: int = 5,
    round_dp: int = 6,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over an undirected pair relation → (node, rank).

    *pairs* holds one row per undirected edge (a < b convention is fine);
    the relation is symmetrized here, so every node has out-degree ≥ 1
    and the classic dangling-mass correction is unnecessary. Fixed
    *iters* power iterations with teleport (1-damping)/N. Ranks are
    rounded to *round_dp* dp at the end (stable across engines).

    With *weight_col* (e.g. the pair's jaccard), mass splits
    proportionally to edge weight instead of 1/deg: similarity-weighted
    centrality. Weights must be non-negative with a deterministic value
    (the dedup operators' 6-dp rounded scores qualify); per-source
    totals sum exactly as DECIMAL(18,6), and the per-edge share w/W is
    a single double division — the oracle discipline is unchanged.
    """
    # below the regime gate (ann.fits_one_task) the whole loop runs in
    # one narrow task (_fused_pagerank); large or in-memory relations
    # keep the distributed per-iteration shape below. Both paths end in
    # the same F.round, and the iteration arithmetic is bit-identical
    # (pinned in tests/test_graph_fused.py).
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(
        pairs, (a_col, b_col), (weight_col,) if weight_col else ()
    ):
        out = _fused_pagerank(pairs, a_col, b_col, damping, iters, weight_col)
        return out.select("node", F.round("rank", round_dp).alias("rank"))
    wcols = [F.col(weight_col).alias("w")] if weight_col else []
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"), *wcols
    )
    back = [F.col("w")] if weight_col else []
    edges = (
        edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *back
            )
        )
        .distinct()
        .localCheckpoint()
    )
    if weight_col:
        deg = edges.groupBy("src").agg(
            F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias("deg")
        )
    else:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # fold the out-degree into the checkpointed edge relation ONCE: the
    # loop then joins each iteration's ranks against one static relation
    # instead of re-deriving deg + a second join every round (the r6
    # driver bench showed the weighted variant's single-run wobble came
    # from exactly this re-derived subtree)
    edges = edges.join(deg, "src").localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # single scalar — the only driver-side value
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    teleport = (1.0 - damping) / float(n)  # same double both engines
    ranks = nodes.withColumn("rank", F.lit(1.0 / float(n)))
    # NB: the two arithmetic forms are kept verbatim per mode — the
    # oracles replay the exact op sequence (rank/deg vs rank·(w/W))
    contrib_c = (
        F.floor(F.col("rank") * (F.col("w") / F.col("deg")) * F.lit(SCALE))
        if weight_col
        else F.floor(F.col("rank") / F.col("deg") * F.lit(SCALE))
    )
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), contrib_c.alias("c"))
        )
        ranks = (
            contrib.groupBy("node")
            .agg(
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (F.sum("c").cast("double") / F.lit(SCALE))
                ).alias("rank")
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.round("rank", round_dp).alias("rank"))


def _fused_triangles(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Single-task mirror of the oriented two-join triangle count: the
    (lo < hi, distinct) edge set and the wedge-close counting are all
    integer set operations, so the numpy form is exact by construction.
    Counts, per middle vertex b, the closed wedges in(b) × out(b) whose
    (a, c) is itself an edge (sorted-code membership)."""
    src = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        aa, ba = [], []
        for pdf in batches:
            if len(pdf):
                aa.append(pdf["a"].to_numpy(np.int64))
                ba.append(pdf["b"].to_numpy(np.int64))
        one = lambda t: pd.DataFrame({"n_triangles": np.asarray([t], dtype=np.int64)})
        if not aa:
            yield one(0)
            return
        a = np.concatenate(aa)
        b = np.concatenate(ba)
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        keep = lo != hi
        lo, hi = lo[keep], hi[keep]
        if not len(lo):
            yield one(0)
            return
        nodes = np.unique(np.concatenate([lo, hi]))
        n = len(nodes)
        codes = np.unique(
            np.searchsorted(nodes, lo).astype(np.int64) * n
            + np.searchsorted(nodes, hi)
        )
        li, hi_i = codes // n, codes % n  # sorted by (lo, hi)
        by_hi = np.argsort(hi_i, kind="stable")
        hi_sorted, lo_by_hi = hi_i[by_hi], li[by_hi]
        ub_out, so = np.unique(li, return_index=True)
        eo = np.r_[so[1:], len(li)]
        out_of = {int(x): hi_i[s:e] for x, s, e in zip(ub_out, so, eo)}
        ub_in, s2 = np.unique(hi_sorted, return_index=True)
        e2 = np.r_[s2[1:], len(hi_sorted)]
        total = 0
        for x, s, e in zip(ub_in, s2, e2):
            outs = out_of.get(int(x))
            if outs is None:
                continue
            cand = (lo_by_hi[s:e][:, None] * n + outs[None, :]).ravel()
            pos = np.searchsorted(codes, cand)
            pos[pos >= len(codes)] = len(codes) - 1
            total += int((codes[pos] == cand).sum())
        yield one(total)

    return src.mapInPandas(run, "n_triangles long")


def triangle_count(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Single-row (n_triangles) of the undirected pair relation.

    The classic two-join oriented count: with every edge stored once as
    (lo < hi), a triangle {a < b < c} is counted exactly once as the
    wedge (a,b)+(b,c) closed by (a,c). Two equi-joins keyed on real
    columns — no enumeration of open wedges beyond the join's own
    matching, no driver state. At 100 TB-scale graphs the refinement is
    degree-based orientation (point each edge at the higher-degree
    endpoint) so hub vertices don't own O(deg²) wedges; with lo<hi
    orientation the skew bound is the max same-lo fan-out, which AQE
    skew-join splitting handles.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(pairs, (a_col, b_col)):
        return _fused_triangles(pairs, a_col, b_col)
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        # the edge relation is consumed three times by the join chain —
        # materialize once so an expensive upstream pair-generation
        # pipeline (shingles/LSH) doesn't execute per reference
        .localCheckpoint()
    )
    wedge = e.select(F.col("lo").alias("a"), F.col("hi").alias("b")).join(
        e.select(F.col("lo").alias("b"), F.col("hi").alias("c")), "b"
    )
    closed = wedge.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")), ["a", "c"]
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def _fused_hops(
    pairs: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    a_col: str,
    b_col: str,
    seed_col: str,
) -> DataFrame:
    """Single-task mirror of the BFS loop: the edge and seed relations
    ride ONE tagged union into one numpy task (both inputs are in the
    plan — no driver collect), and the *max_hops* min-relaxation rounds
    are exact int64 arithmetic. Seeds absent from the graph stay at
    dist 0 exactly like the distributed union+min."""
    tagged = pairs.select(
        F.col(a_col).alias("src"),
        F.col(b_col).alias("dst"),
        F.lit(False).alias("is_seed"),
    ).unionByName(
        seeds.select(
            F.col(seed_col).alias("src"),
            F.col(seed_col).alias("dst"),
            F.lit(True).alias("is_seed"),
        )
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        sa, da, seed_acc = [], [], []
        for pdf in batches:
            if len(pdf):
                m = pdf["is_seed"].to_numpy(bool)
                sa.append(pdf["src"].to_numpy(np.int64)[~m])
                da.append(pdf["dst"].to_numpy(np.int64)[~m])
                seed_acc.append(pdf["src"].to_numpy(np.int64)[m])
        seed_ids = np.unique(np.concatenate(seed_acc)) if seed_acc else None
        if seed_ids is None or not len(seed_ids):
            return
        s = np.concatenate(sa) if sa else seed_ids[:0]
        d = np.concatenate(da) if da else seed_ids[:0]
        gnodes, si, di, _ = _sym_edges_np(s, d)
        nodes = np.unique(np.concatenate([gnodes, seed_ids]))
        remap = np.searchsorted(nodes, gnodes)
        si, di = remap[si], remap[di]
        n = len(nodes)
        INF = np.iinfo(np.int64).max
        dist = np.full(n, INF, dtype=np.int64)
        dist[np.searchsorted(nodes, seed_ids)] = 0
        for _ in range(max_hops):
            m = dist[si] != INF
            cand = dist[si[m]] + 1  # snapshot read — synchronous rounds
            np.minimum.at(dist, di[m], cand)
        reached = dist != INF
        yield pd.DataFrame({"node": nodes[reached], "dist": dist[reached]})

    t = _node_type((pairs, a_col), (pairs, b_col), (seeds, seed_col))
    return tagged.mapInPandas(run, f"node {t}, dist long")


def hop_distances(
    pairs: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    a_col: str = "id_a",
    b_col: str = "id_b",
    seed_col: str = "id",
) -> DataFrame:
    """(node, dist): BFS hop distance from the *seeds* set over the
    undirected pair relation, capped at *max_hops* (unreached nodes are
    absent). Per hop ONE edge-keyed join + a min aggregation — all
    integer arithmetic, so the catalog oracle unrolls the same hops as
    a CTE chain with exact equality. Frontier-style pruning is implicit:
    min() is monotone, so re-relaxing settled nodes is idempotent; the
    localCheckpoint keeps the per-hop plan constant-depth (the same
    discipline as pagerank/dedup_clusters).

    The classic use over the duplicate graph: "how close is this
    document to a known-bad seed set" — contamination blast-radius
    scoring beyond direct pairs.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(pairs, (a_col, b_col)) and fits_one_task(
        seeds, (seed_col,)
    ):
        return _fused_hops(pairs, seeds, max_hops, a_col, b_col, seed_col)
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    dist = seeds.select(F.col(seed_col).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    for _ in range(max_hops):
        relaxed = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def _fused_lpa(
    pairs: DataFrame, iters: int, a_col: str, b_col: str
) -> DataFrame:
    """Single-task mirror of the synchronous LPA rounds: per round the
    (node, label) vote counts and the (cnt desc, label asc) top-1 are
    integer sorts — exact by construction. Labels are always node ids,
    so they index the node vector directly."""
    src = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        sa, da = [], []
        for pdf in batches:
            if len(pdf):
                sa.append(pdf["src"].to_numpy(np.int64))
                da.append(pdf["dst"].to_numpy(np.int64))
        if not sa:
            return
        nodes, si, di, _ = _sym_edges_np(
            np.concatenate(sa), np.concatenate(da)
        )
        n = len(nodes)
        if n == 0:
            return
        lab = np.arange(n, dtype=np.int64)  # index-space: label == own node
        for _ in range(iters):
            code = di * np.int64(n) + lab[si]
            uniq, cnt = np.unique(code, return_counts=True)
            vd, vl = uniq // n, uniq % n
            order = np.lexsort((vl, -cnt, vd))
            vd, vl = vd[order], vl[order]
            first = np.r_[True, vd[1:] != vd[:-1]]
            # post-symmetrize every node has a labeled neighbor, so the
            # distributed join+window covers all nodes — as here
            lab = lab.copy()
            lab[vd[first]] = vl[first]
        yield pd.DataFrame({"node": nodes, "community": nodes[lab]})

    t = _node_type((pairs, a_col), (pairs, b_col))
    return src.mapInPandas(run, f"node {t}, community {t}")


def label_propagation(
    pairs: DataFrame,
    iters: int = 3,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """(node, community) by synchronous label propagation: each round a
    node adopts the most frequent label among its neighbors (ties → the
    smallest label). Where connected components answer "what touches
    what", LPA finds DENSE regions — boilerplate families inside a
    loosely chained duplicate blob.

    Fixed *iters* synchronous rounds (deterministic; the classic
    async/random variant is not replayable). All-integer: per round one
    edge-keyed join, a (node,label) count, and a node-keyed top-1
    window — the catalog oracle unrolls the identical rounds.
    """
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(pairs, (a_col, b_col)):
        return _fused_lpa(pairs, iters, a_col, b_col)
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    from pyspark.sql import Window

    for _ in range(iters):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("cnt"), F.asc("label")
        )
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.withColumnRenamed("label", "community")


def _fused_kcore(
    pairs: DataFrame, a_col: str, b_col: str, k: int, rounds: int
) -> DataFrame:
    """Single-task mirror of the synchronous peeling rounds — degree
    counts and endpoint prunes are integer ops, the early-stop compares
    the same per-round edge count the distributed loop collects."""
    src = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).coalesce(1)

    def run(batches):
        import numpy as np
        import pandas as pd

        sa, da = [], []
        for pdf in batches:
            if len(pdf):
                sa.append(pdf["src"].to_numpy(np.int64))
                da.append(pdf["dst"].to_numpy(np.int64))
        if not sa:
            return
        nodes, si, di, _ = _sym_edges_np(
            np.concatenate(sa), np.concatenate(da)
        )
        n = len(nodes)
        n_prev = len(si)
        for _ in range(rounds):
            deg = np.bincount(si, minlength=n)
            keep = deg >= k
            m = keep[si] & keep[di]
            si, di = si[m], di[m]
            if len(si) == n_prev:
                break
            n_prev = len(si)
        if not len(si):
            return
        surv, degree = np.unique(si, return_counts=True)
        yield pd.DataFrame({"node": nodes[surv], "degree": degree})

    t = _node_type((pairs, a_col), (pairs, b_col))
    return src.mapInPandas(run, f"node {t}, degree long")


def kcore(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    k: int = 2,
    rounds: int = 8,
) -> DataFrame:
    """k-core of an undirected pair relation via *rounds* of synchronous
    peeling → (node, degree) for nodes surviving all rounds, with their
    degree inside the core. Each round removes every node of degree < k
    and its incident edges. Peeling is monotone: once a round removes
    nothing the graph is the true k-core and further rounds are the
    identity — so the fixed-round semantics match an early-converged run
    bit-for-bit, and an unrolled-SQL oracle with the same *rounds* is
    exact whether or not convergence happened.

    Scale shape: per round one degree aggregation (map-side combined)
    and two semi-join prunes keyed on the edge endpoints — the same
    shuffle pattern as one PageRank iteration; localCheckpoint keeps the
    plan constant-depth. The per-round edge count (a driver scalar, one
    long) doubles as the convergence early-stop."""
    from id3c_spark.operators.ann import fits_one_task

    if fits_one_task(pairs, (a_col, b_col)):
        return _fused_kcore(pairs, a_col, b_col, k, rounds)
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    n_prev = edges.count()
    for _ in range(rounds):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
        n_now = edges.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
