"""Persisted ANN index: build once, serve many — the missing half of the
IVFADC story. ``ivfpq_topk`` proves the algorithm; this module gives it
the production layout: the trained models and encoded corpus live in
versioned ParquetTables (atomic publish, time travel), the codes and
vectors tables are CLUSTERED BY coarse cell, and serving reads ONLY the
probed cells' files via footer-stats pruning (store.read_pruned_in).

At 100 TB that layout is the whole point of an IVF index: a query batch
probing nprobe of nlist cells opens nprobe/nlist of the table's files —
the Spark translation of FAISS's inverted lists — while training cost
amortizes over every batch served instead of re-paying per lookup
(reference analogue: id3c's warehouse is also a write-once/read-many
store; there is no ANN in the reference — this is beyond-reference
LLM-pipeline surface).

Serving reuses pq._adc_topk — the EXACT code path ivfpq_topk scores
with — so a persisted index returns bit-identical results to the
in-memory oracle-verified operator (pinned by test)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from id3c_spark.sources.store import ParquetTable


def _tables(spark: SparkSession, path: str) -> dict[str, ParquetTable]:
    return {
        name: ParquetTable(spark, f"{path}/{name}")
        for name in (
            "centroids", "codebooks", "codes", "vectors", "stats", "meta"
        )
    }


def _read_assign_n(spark: SparkSession, t: dict[str, ParquetTable]) -> int:
    """The index's corpus-side assignment fan-out, from its meta table
    (pre-meta indexes — none in the wild, but cheap to honor — read as
    single-assign).

    Only a MISSING meta table reads as the legacy single-assign case:
    any other read failure (corrupt footer, transient FS error) must
    surface, because silently defaulting to 1 on a multi-assign index
    disables serve-side pair dedup and makes add_to_index ingest
    single-assign rows — a quiet recall decay with no error anywhere."""
    return _read_assign_meta(spark, t)[0]


def _read_assign_meta(
    spark: SparkSession, t: dict[str, ParquetTable]
) -> tuple[int, float | None]:
    """(assign_n, assign_ratio) from the meta table — the corpus-side
    assignment fan-out and, when the index was built ADAPTIVE, the
    d2/d1 cutoff secondary assignments had to clear. Same missing-table
    semantics as _read_assign_n (legacy single-assign, no ratio)."""
    try:
        rows = t["meta"].read().collect()
    except FileNotFoundError:
        return 1, None
    vals = {r.key: r.value for r in rows}
    ratio = vals.get("assign_ratio")
    return int(vals.get("assign_n", 1)), (None if ratio is None else float(ratio))


def _cell_stats(vectors: DataFrame) -> DataFrame:
    """(cell, n, mean_resid2) over an (id, cell, rv≡residual vector)
    relation: occupancy and mean 6-dp squared residual norm per coarse
    cell — the drift baseline captured at build time.

    The mean aggregates EXACT int64 micros (sum of round(r2·1e6)) and
    divides once, matching the knn_classify/embedding_drift discipline:
    a float F.avg's last ulp depends on partition order, so the
    build-time baseline and the drift report's live recompute could
    disagree at the 6-dp rounding boundary and resid_ratio on an
    unchanged index would not be exactly 1.0."""
    return (
        vectors.select(
            "cell",
            F.round(
                F.aggregate(
                    "rv", F.lit(0.0), lambda acc, x: acc + x * x
                )
                * 1e6
            )
            .cast("long")
            .alias("r2_micros"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("r2_micros") / F.count(F.lit(1)) / 1e6, 6
            ).alias("mean_resid2"),
        )
    )


def build_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 16,
    kcent: int = 256,
    train_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_table: int | None = None,
    assign_n: int = 1,
    assign_ratio: float | None = None,
) -> dict[str, int]:
    """Train the residual-IVFPQ models and publish the index tables
    (same training discipline as ivfpq_topk's default path: normalized
    vectors, trained coarse, SALTED residual codebooks). codes and
    vectors cluster by cell so each file's footer covers a narrow cell
    range. Returns the published version per table.

    Default codebooks are 8-bit (kcent=256, the FAISS norm): measured
    reranked recall@5 at nprobe=6 is 0.918 vs 0.697 for the r7-r9 4-bit
    m=32/k*=16 shape at the same code bytes — with
    k*=256 the ADC shortlist loses essentially nothing, so end recall
    equals the coarse probe ceiling. Size nlist to the corpus (~√N,
    FAISS guidance) — the small default matches the test corpora.

    *assign_n* > 1 is corpus-side MULTI-ASSIGN (the r11 coarse-recall
    lever): each vector encodes into its top-*assign_n* cells — codes
    and vectors carry one row per (id, cell), so a neighbor whose
    primary cell a query misses is still found through its secondary —
    trading assign_n× codes/vectors storage for probe recall (measured
    0.918 → ≥0.95 reranked recall@5 at nprobe ≤ 6).
    Quantizer training is UNCHANGED (coarse + codebooks train on
    primary-cell residuals only), so assign_n=1 tables are bit-identical
    to the pre-multi-assign layout; serving dedups pairs by min ADC
    dist (pq._adc_topk dedup_pairs).

    *assign_ratio* makes the fan-out ADAPTIVE (the r12 latency lever):
    a secondary assignment is kept only while its 6-dp squared L2 to the
    centroid is ≤ ratio × the primary's — boundary vectors (the ones a
    probe set actually misses) keep their safety copy, interior vectors
    stop paying duplicate code/vector rows. Recorded in meta so
    add_to_index ingests with the index's own cutoff."""
    from id3c_spark.operators.ann import _prep
    from id3c_spark.operators.pq import (
        _assign_topn,
        _normalized,
        _residuals_rows,
        pq_encode_cells,
        pq_train,
    )

    spark = corpus.sparkSession
    vn = _normalized(_prep(corpus, id_col, vec_col)).persist()
    coarse = pq_train(vn, "id", "v", m=1, k=nlist, max_iter=train_iter)
    bcg = spark.sparkContext.broadcast(coarse)
    # cells_all: the encoding fan-out (assign_n rows per id); training
    # and the drift baseline stay on the PRIMARY assignment via enc rows
    cells_all = _assign_topn(
        vn, bcg, min(assign_n, coarse.shape[1]), ratio=assign_ratio
    ).persist()
    enc_all = _residuals_rows(cells_all.join(vn, "id"), bcg, keep_cell=True).persist()
    if assign_n == 1:
        enc_train = enc_all.select("id", "v")
    else:
        cells1 = _assign_topn(vn, bcg, 1)
        enc_train = (
            enc_all.join(cells1.withColumnsRenamed({"cell": "__c1"}), "id")
            .filter(F.col("cell") == F.col("__c1"))
            .select("id", "v")
        )
    books = pq_train(
        enc_train, "id", "v", m=m, k=kcent, max_iter=train_iter, seed_salt=":pq"
    )
    codes = pq_encode_cells(enc_all, books)

    t = _tables(spark, path)
    # publish from the TRAINED shapes, not the requested params: pq_train
    # clamps centroid counts to min(N, k) on corpora smaller than k
    nlist_t = coarse.shape[1]
    m_t, kcent_t, _ = books.shape
    files = files_per_table or min(nlist_t, 8)
    versions = {
        "centroids": t["centroids"].publish(
            spark.createDataFrame(
                [(c, [float(x) for x in coarse[0][c]]) for c in range(nlist_t)],
                "cell long, v array<double>",
            )
        ),
        "codebooks": t["codebooks"].publish(
            spark.createDataFrame(
                [
                    (s, c, [float(x) for x in books[s][c]])
                    for s in range(m_t)
                    for c in range(kcent_t)
                ],
                "sub int, code int, c array<double>",
            )
        ),
        "codes": t["codes"].publish(
            codes.select("id", "cell", "codes"),
            cluster_by=["cell"],
            partitions=files,
        ),
        "vectors": t["vectors"].publish(
            vn.join(cells_all, "id").select("id", "cell", "v"),
            cluster_by=["cell"],
            partitions=files,
        ),
        # build-time per-cell occupancy + residual-norm baseline over the
        # FULL (multi-assigned) rows — the drift report recomputes the
        # same relation from the live tables, so the comparison is
        # like-for-like at any assign_n
        "stats": t["stats"].publish(
            _cell_stats(enc_all.select("id", "cell", F.col("v").alias("rv")))
        ),
        "meta": t["meta"].publish(
            spark.createDataFrame(
                [("assign_n", str(min(assign_n, nlist_t)))]
                + (
                    [("assign_ratio", repr(float(assign_ratio)))]
                    if assign_ratio is not None
                    else []
                ),
                "key string, value string",
            )
        ),
    }
    vn.unpersist()
    cells_all.unpersist()
    enc_all.unpersist()
    return versions


def _source_fingerprint(spark: SparkSession, source_path: str, params: str) -> str:
    """sha1 over (file path, length, modification time) of every data
    file under *source_path* plus the training-parameter string — the
    cache key for build-once serving. Any rewrite of the corpus (new
    files, new mtimes) or any parameter change yields a new key, so a
    stale index can never serve a changed corpus.

    The listing goes through the Hadoop FileSystem API — the same
    resolver ``spark.read.parquet`` uses — so the fingerprint works for
    any scheme Spark can read (``file:``, ``hdfs:``, ``s3a:``…): object
    stores expose length + modification time in their listings even
    though there is no local ``stat``. This is the object-store-safe
    replacement for the earlier driver-local ``os.walk``."""
    h = hashlib.sha1(params.encode())
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(source_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    entries = []
    it = fs.listFiles(p, True)  # recursive; a single file lists itself
    while it.hasNext():
        st = it.next()
        uri_path = st.getPath().toUri().getPath()
        if os.path.basename(uri_path).startswith((".", "_")):
            continue
        entries.append(f"{uri_path}|{st.getLen()}|{st.getModificationTime()}\n")
    for e in sorted(entries):
        h.update(e.encode())
    return h.hexdigest()[:16]


def _params_string(
    nlist: int, m: int, kcent: int, train_iter: int,
    assign_n: int, id_col: str, vec_col: str,
    assign_ratio: float | None = None,
) -> str:
    """Canonical build-params string: the cached_index cache key input
    AND the `_COMPLETE` marker body. One definition so the CLI rebuild
    can decide whether its params match a live cache-managed index's
    (and therefore whether the marker may be carried forward).
    assign_ratio appends only when set, so every pre-adaptive index keeps
    its exact legacy key (no spurious cache rebuilds)."""
    return (
        f"nlist={nlist},m={m},kcent={kcent},iters={train_iter},"
        f"assign={assign_n},{id_col},{vec_col}"
        + (f",ratio={assign_ratio!r}" if assign_ratio is not None else "")
    )


def cached_index(
    spark: SparkSession,
    source_path: str,
    nlist: int = 16,
    m: int = 32,
    kcent: int = 16,
    train_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
    prune_age_sec: float = 6 * 3600,
    assign_n: int = 1,
    assign_ratio: float | None = None,
) -> str:
    """Return the directory of a persisted IVFADC index over the parquet
    corpus at *source_path*, building it at most once per (corpus
    fingerprint, params): the build-once/serve-many discipline the
    in-memory ``ivfpq_topk`` lacks. Training amortizes across every
    later batch — and across PROCESSES, because the index lives on disk
    keyed by the source files' (path, size, mtime) fingerprint (Hadoop
    FS listing, so remote corpora fingerprint too).

    Concurrency-safe: the build lands in a private ``.tmp-<pid>``
    sibling and is ``os.rename``d into place — an atomic publish, so two
    processes that both miss the cache race to a WHOLE index each and
    the loser discards its own copy; nobody ever writes into a directory
    another process is reading. A `_COMPLETE` marker inside the renamed
    directory makes the publish idempotent. Stale DATA fingerprints of
    the same (corpus path, params) are pruned only once *prune_age_sec*
    old — a freshly superseded index may still be mid-serve in another
    process, so eviction is deferred, not immediate.
    Override the location with $SPARK_GRAFT_ANN_CACHE (default:
    <repo>/spark-warehouse/ann_cache, a gitignored path)."""
    import shutil
    import time

    root = cache_root or os.environ.get("SPARK_GRAFT_ANN_CACHE") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        "ann_cache",
    )
    params = _params_string(
        nlist, m, kcent, train_iter, assign_n, id_col, vec_col,
        assign_ratio=assign_ratio,
    )
    pkey = hashlib.sha1(params.encode()).hexdigest()[:8]
    key = _source_fingerprint(spark, source_path, params)
    # the prune scope keys on the FULL source path (hashed), not just the
    # basename: two corpora that share a basename (sf0.001/embeddings vs
    # sf1/embeddings) must never evict each other's index
    canonical = source_path if "://" in source_path else os.path.abspath(source_path)
    skey = hashlib.sha1(canonical.rstrip("/").encode()).hexdigest()[:8]
    base = os.path.basename(source_path.rstrip("/")).replace(".parquet", "")
    prefix = f"{base}-{skey}-{pkey}-"
    path = os.path.join(root, prefix + key)
    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        corpus = spark.read.parquet(source_path)
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)  # stale crash debris of OUR pid
        build_index(
            corpus, tmp, nlist=nlist, m=m, kcent=kcent,
            train_iter=train_iter, id_col=id_col, vec_col=vec_col,
            assign_n=assign_n, assign_ratio=assign_ratio,
        )
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(params + "\n")
        try:
            os.rename(tmp, path)  # atomic publish (same filesystem)
        except OSError:
            if os.path.exists(marker):
                # a concurrent builder won the rename — serve its copy
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # markerless debris at the target (a crash from the old
                # build-in-place layout, or an interrupted prune) would
                # otherwise wedge EVERY later call: clear it and retry
                # the publish once, restoring the old self-healing.
                # Re-check the marker IMMEDIATELY before deleting: a
                # concurrent builder may have renamed a COMPLETE index
                # into place since the check above, and rmtree'ing a
                # directory another process is already serving would
                # violate the module's never-delete-while-reading
                # invariant.
                if os.path.exists(marker):
                    shutil.rmtree(tmp, ignore_errors=True)
                else:
                    shutil.rmtree(path, ignore_errors=True)
                    try:
                        os.rename(tmp, path)
                    except OSError:
                        # the target reappeared between rmtree and the
                        # retry — if it's a complete index a concurrent
                        # builder won; serve theirs. Anything else is a
                        # genuine wedge: surface it.
                        if os.path.exists(marker):
                            shutil.rmtree(tmp, ignore_errors=True)
                        else:
                            raise
        # deferred prune of stale fingerprints of this corpus+params:
        # only evict directories old enough that no live process should
        # still be serving them
        now = time.time()
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if not (d.startswith(prefix) and full != path):
                continue
            try:
                age = now - os.stat(full).st_mtime
            except OSError:
                continue
            if age >= prune_age_sec:
                shutil.rmtree(full, ignore_errors=True)
    return path


def _load_models(spark: SparkSession, path: str):
    import numpy as np

    t = _tables(spark, path)
    cent_rows = t["centroids"].read().collect()
    nlist = len(cent_rows)
    d = len(cent_rows[0].v)
    coarse = np.zeros((1, nlist, d))
    for r in cent_rows:
        coarse[0][r.cell] = np.asarray(r.v, dtype=np.float64)
    book_rows = t["codebooks"].read().collect()
    m = 1 + max(r.sub for r in book_rows)
    kc = 1 + max(r.code for r in book_rows)
    dsub = len(book_rows[0].c)
    books = np.zeros((m, kc, dsub))
    for r in book_rows:
        books[r.sub][r.code] = np.asarray(r.c, dtype=np.float64)
    return coarse, books, t


def add_to_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, int]:
    """Incremental ingest (FAISS ``add()``): encode *new_vectors* with
    the STORED models — no retraining — and append their codes and
    normalized vectors to the index tables. ParquetTable.append is
    file-granular (existing files hard-link forward), so ingest costs
    O(batch), and the new files' footer cell ranges join the pruning
    like any other. Quantizer drift under a shifted distribution is the
    operator's call: rebuild with build_index when recall decays."""
    from id3c_spark.operators.ann import _prep
    from id3c_spark.operators.pq import (
        _assign_topn,
        _normalized,
        _residuals_rows,
        pq_encode_cells,
    )

    coarse, books, t = _load_models(spark, path)
    assign_n, assign_ratio = _read_assign_meta(spark, t)
    bcg = spark.sparkContext.broadcast(coarse)
    vn = _normalized(_prep(new_vectors, id_col, vec_col)).persist()
    # honor the INDEX's assignment fan-out AND adaptive cutoff (meta
    # table): a multi-assign index must keep receiving one (codes,
    # vectors) row per kept (id, cell) or its secondary-cell recall
    # silently decays for new ingest
    cells = _assign_topn(
        vn, bcg, min(assign_n, coarse.shape[1]), ratio=assign_ratio
    ).persist()
    enc = _residuals_rows(cells.join(vn, "id"), bcg, keep_cell=True)
    codes = pq_encode_cells(enc, books)
    versions = {
        "codes": t["codes"].append(codes.select("id", "cell", "codes")),
        "vectors": t["vectors"].append(
            vn.join(cells, "id").select("id", "cell", "v")
        ),
    }
    vn.unpersist()
    cells.unpersist()
    return versions


#: index_drift_report rebuild thresholds: a cell whose occupancy grew to
#: ≥ 4× its build-time SHARE of the corpus, or whose mean squared
#: residual norm grew ≥ 1.3×, is flagged — either means the coarse
#: quantizer no longer matches the data it serves (hot cells defeat the
#: inverted-list pruning; fat residuals defeat the PQ codebooks trained
#: on the build distribution, and recall decays).
DRIFT_OCCUPANCY_RATIO = 4.0
DRIFT_RESID_RATIO = 1.3


def index_drift_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell drift of a persisted index vs its build-time baseline —
    the measurable rebuild policy ``add_to_index`` defers to: encode-only
    ingest never retrains, so this report is the monitoring signal that
    says when training debt has accumulated.

    Returns one row per cell: build-time vs current occupancy SHARE
    (shares, not counts — growing the corpus uniformly is not drift),
    build-time vs current mean squared residual norm, the two ratios,
    and a ``rebuild`` flag per the documented thresholds
    (DRIFT_OCCUPANCY_RATIO / DRIFT_RESID_RATIO). Rebuild when any cell
    flags: ``build_index`` over the current corpus re-trains both
    quantizers (which restores recall measured on a drifted ingest).

    Cost: one scan of the vectors table (residual recompute against the
    broadcast coarse model) + two nlist-sized aggregates — an offline
    monitoring job, no serving-path impact."""
    from id3c_spark.operators.pq import _residuals_rows

    coarse, _books, t = _load_models(spark, path)
    bcg = spark.sparkContext.broadcast(coarse)
    live = t["vectors"].read()
    # per-ROW residuals (multi-assign safe: an id's rows each subtract
    # their OWN cell's centroid — an id equi-join here would cross-pair
    # a multi-assigned id's cells)
    now = _cell_stats(
        _residuals_rows(live, bcg, keep_cell=True).select(
            "id", "cell", F.col("v").alias("rv")
        )
    )
    base = t["stats"].read().select(
        F.col("cell"),
        F.col("n").alias("n_built"),
        F.col("mean_resid2").alias("resid2_built"),
    )
    tot_b = base.agg(F.sum("n_built")).collect()[0][0]
    tot_n = now.agg(F.sum("n")).collect()[0][0]
    joined = base.join(
        now.select(
            "cell", F.col("n").alias("n_now"),
            F.col("mean_resid2").alias("resid2_now"),
        ),
        "cell",
        "full_outer",
    ).fillna(0, ["n_built", "n_now"]).fillna(
        0.0, ["resid2_built", "resid2_now"]
    )  # a cell absent on one side: occupancy share 0 / fresh-cell ratio
    occ_ratio = F.round(
        (F.col("n_now") / F.lit(float(tot_n)))
        / F.greatest(F.col("n_built") / F.lit(float(tot_b)), F.lit(1e-12)),
        6,
    )
    resid_ratio = F.round(
        F.col("resid2_now") / F.greatest(F.col("resid2_built"), F.lit(1e-12)), 6
    )
    return joined.select(
        "cell", "n_built", "n_now",
        F.round(F.col("n_built") / F.lit(float(tot_b)), 6).alias("share_built"),
        F.round(F.col("n_now") / F.lit(float(tot_n)), 6).alias("share_now"),
        occ_ratio.alias("occupancy_ratio"),
        "resid2_built", "resid2_now",
        resid_ratio.alias("resid_ratio"),
        (
            (occ_ratio >= DRIFT_OCCUPANCY_RATIO)
            | (resid_ratio >= DRIFT_RESID_RATIO)
        ).alias("rebuild"),
    )


def _fused_serve(
    qp: DataFrame,
    codes_df: DataFrame,
    vectors_df: DataFrame | None,
    coarse,
    books,
    assign_n: int,
    k: int,
    nprobe: int,
    rerank_shortlist: int | None,
) -> DataFrame:
    """Single-task mirror of the serve path for the stats-gated small
    regime: query batch, the FULL codes table (small enough for one task
    by the gate — reading it whole replaces the probed-cells collect, so
    the query lineage is evaluated exactly once) and, for IVFADC+R, the
    vectors table ride ONE tagged union into one mapInPandas task that
    replays normalize → nprobe coarse assign → per-probed-cell residual
    LUT ADC scoring → (multi-assign min-dist pair dedup) → per-query
    (dist asc, neighbor asc) rank → optional exact-cosine rerank. Every
    float op is the identical elementwise numpy op the distributed
    stages run (the per-cell LUT values do not depend on pack splits —
    see _adc_topk), int64 LUT micros sum exactly, and the global top-k
    over ALL candidates equals the partial-top-k-then-window merge, so
    results are bit-identical (pinned in tests/test_ann_index.py)."""
    import numpy as np

    # The codes table (and, for IVFADC+R, the vectors table) is gate-
    # bounded to single-task bytes — collect it ONCE here and broadcast,
    # then shard the QUERY batch across defaultParallelism tasks: every
    # serve decision is per-query (normalize, assign, per-cell LUT,
    # dedup, rank, rerank all key on the query row alone), so splitting
    # the batch is result-identical while the scoring — the serve's
    # entire latency in this regime — uses the whole machine instead of
    # one core (same-session A/B at sf0.1: ~6.6 s → ~1.3 s per serve).
    # The collect is one small job at plan-build time, the same bytes
    # the former single task read; the query-side exchange ships only
    # the batch rows. Parallelism follows the scheduler's
    # defaultParallelism, not a local constant.
    #
    # Eagerness + broadcast lifetime (ADVICE r15): building the serve
    # DataFrame is therefore NOT lazy (the collect jobs run per serve
    # call), and the broadcast lives until the Python object is GC'd —
    # a long-lived serve loop that builds many serve plans accumulates
    # gate-bounded (≤ single-task-bytes) broadcast blocks until then.
    # Destroying it eagerly is unsafe from here: the returned plan is
    # lazy and may execute (or re-execute) after this function returns.
    sc = qp.sparkSession.sparkContext
    code_rows = codes_df.select("id", "cell", "codes").collect()
    cid_g = np.asarray([r["id"] for r in code_rows], dtype=np.int64)
    ccell_g = np.asarray([r["cell"] for r in code_rows], dtype=np.int64)
    cm_g = (
        np.asarray([r["codes"] for r in code_rows], dtype=np.int64)
        if code_rows else np.empty((0, books.shape[0]), dtype=np.int64)
    )
    v_items = None
    if vectors_df is not None:
        v_map_d: dict = {}
        for r in vectors_df.select("id", "v").collect():
            if r["id"] not in v_map_d:   # dropDuplicates([id]) mirror
                v_map_d[r["id"]] = np.asarray(r["v"], dtype=np.float64)
        v_items = v_map_d
    bc = sc.broadcast((cid_g, ccell_g, cm_g, v_items))
    src = qp.repartition(max(2, sc.defaultParallelism))
    m, kc, dsub = books.shape
    cent0 = coarse[0]
    shortlist_k = rerank_shortlist or k

    def run(batches):
        import numpy as np
        import pandas as pd

        q_ids, q_vecs = [], []
        for pdf in batches:
            if len(pdf):
                q_ids.append(pdf["id"].to_numpy(np.int64))
                q_vecs.append(np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                ))
        c_ids, c_cells, cm, v_map = bc.value
        if not q_ids or not len(c_ids):
            return
        qid = np.concatenate(q_ids)
        qx = np.vstack(q_vecs)
        qx = qx / np.sqrt((qx * qx).sum(axis=1))[:, None]   # _normalized
        # _assign_topn(ratio=None): 6-dp squared L2, stable argsort
        d2 = np.round(((qx[:, None, :] - cent0[None]) ** 2).sum(axis=2), 6)
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        cid, ccell = c_ids, c_cells
        dedup = assign_n > 1
        # Scoring runs cell-by-cell over BOUNDED probe chunks with
        # per-cell top-(shortlist) pruning and a vectorized min-dist
        # dedup — replacing the per-candidate Python dict/list loop,
        # whose O(|candidates|) interpreter work and whose per-cell
        # (|probing|, m, kc) LUT allocations dominated serve latency in
        # this regime. Arithmetic is unchanged: the chunked LUT rows are
        # the identical elementwise ops (LUT values never depended on
        # how queries were batched — the _adc_topk argument), int64 LUT
        # micros sum exactly, and per-cell pruning at t = shortlist_k is
        # lossless: per (query, cell) neighbors are unique, any pair
        # ahead of a kept pair inside its cell is ahead of it globally
        # too (its deduped dist is ≤ its in-cell dist), so fewer than t
        # cell-local pairs can precede a global top-t pair and the merge
        # of per-cell top-t contains the global top-t exactly — the same
        # partial-top-k argument the staged window relies on.
        chunk = 512
        m_idx = np.arange(m)[None, :]
        lut_buf = np.empty((chunk, m, kc), dtype=np.int64)
        qa_parts, na_parts, da_parts = [], [], []
        for c in range(len(cent0)):
            sel = np.flatnonzero(ccell == c)
            if not len(sel):
                continue
            probing = np.flatnonzero((order == c).any(axis=1))
            if not len(probing):
                continue
            # columns in (neighbor id asc, input position asc) order so
            # a stable row argsort on dist reads out the
            # (dist asc, neighbor asc) candidate order of the window
            sel = sel[np.argsort(cid[sel], kind="stable")]
            sub_ids = cid[sel]
            sub_codes = cm[sel]
            t_keep = min(shortlist_k, len(sel))
            for s0 in range(0, len(probing), chunk):
                pr = probing[s0:s0 + chunk]
                nq = len(pr)
                qs = (qx[pr] - cent0[c]).reshape(nq, m, dsub)
                lut_mi = lut_buf[:nq]
                for s in range(m):
                    lut_s = np.round(
                        ((qs[:, s, None, :] - books[s][None]) ** 2).sum(axis=2),
                        6,
                    )
                    lut_mi[:, s, :] = np.rint(lut_s * 1e6)
                dist_all = lut_mi[:, m_idx, sub_codes].sum(axis=2) / 1e6
                # self-exclusion by id (as before): +inf sorts after
                # every real distance and before NaNs — select t+1,
                # drop selves, keep the first t per row
                self_mask = sub_ids[None, :] == qid[pr, None]
                dist_all[self_mask] = np.inf
                # window sized past the worst per-row self count, so
                # dropping selves can never evict a real candidate
                # (duplicate corpus ids contribute several self columns)
                t1 = min(
                    shortlist_k + int(self_mask.sum(axis=1).max(initial=0)),
                    len(sel),
                )
                t1 = max(t1, min(shortlist_k, len(sel)))
                sub_order = np.argsort(dist_all, axis=1, kind="stable")[:, :t1]
                sub_d = np.take_along_axis(dist_all, sub_order, axis=1)
                not_self = np.isfinite(sub_d.ravel()) | np.isnan(sub_d.ravel())
                rq = np.repeat(pr, t1)[not_self]
                rn = sub_ids[sub_order.ravel()[not_self]]
                rd = sub_d.ravel()[not_self]
                if not len(rq):
                    continue
                row_start = np.flatnonzero(np.r_[True, rq[1:] != rq[:-1]])
                row_sizes = np.diff(np.r_[row_start, len(rq)])
                posw = np.arange(len(rq)) - np.repeat(row_start, row_sizes)
                keep_t = posw < t_keep
                qa_parts.append(rq[keep_t])
                na_parts.append(rn[keep_t])
                da_parts.append(rd[keep_t])
        if not qa_parts:
            return
        qa = np.concatenate(qa_parts)
        na = np.concatenate(na_parts)
        da = np.concatenate(da_parts)
        if not len(qa):
            return
        if dedup:
            # min dist per (query, neighbor) across multi-assign cells:
            # sort by (query, neighbor, dist) and keep each pair's first
            # row — identical to the dict's strict-< keep-first-minimum
            o = np.lexsort((da, na, qa))
            qa, na, da = qa[o], na[o], da[o]
            first = np.r_[True, (qa[1:] != qa[:-1]) | (na[1:] != na[:-1])]
            qa, na, da = qa[first], na[first], da[first]
        # per-query (dist asc, neighbor asc) rank ≤ shortlist_k — the
        # window mirror (global top-k == partial-top-k merge)
        o = np.lexsort((na, da, qa))
        qa, na, da = qa[o], na[o], da[o]
        starts = np.flatnonzero(np.r_[True, qa[1:] != qa[:-1]])
        ends = np.r_[starts[1:], len(qa)]
        keep_p, rank_p = [], []
        for s, e in zip(starts, ends):
            take = min(shortlist_k, e - s)
            keep_p.append(np.arange(s, s + take))
            rank_p.append(np.arange(1, take + 1))
        keep = np.concatenate(keep_p)
        qa, na, da = qa[keep], na[keep], da[keep]
        ranks = np.concatenate(rank_p).astype(np.int32)
        if rerank_shortlist is None:
            yield pd.DataFrame({
                "query_id": qid[qa], "neighbor_id": na,
                "dist": da, "rank": ranks,
            })
            return
        # IVFADC+R refine: exact cosine over the shortlist pairs only,
        # same np.round(dot/(‖q‖·‖c‖), 6) as ann._score_pairs on the
        # normalized query batch vs the stored normalized vectors
        keep2 = np.asarray(
            [i for i in range(len(qa)) if na[i] in v_map], dtype=np.int64
        )
        if not len(keep2):
            return
        qa, na = qa[keep2], na[keep2]
        qm = qx[qa]
        cmv = np.stack([v_map[nb] for nb in na.tolist()])
        sims = np.round(
            (qm * cmv).sum(axis=1)
            / (np.sqrt((qm * qm).sum(axis=1)) * np.sqrt((cmv * cmv).sum(axis=1))),
            6,
        )
        o2 = np.lexsort((na, -sims, qa))
        qa, na, sims = qa[o2], na[o2], sims[o2]
        starts = np.flatnonzero(np.r_[True, qa[1:] != qa[:-1]])
        ends = np.r_[starts[1:], len(qa)]
        keep_p, rank_p = [], []
        for s, e in zip(starts, ends):
            take = min(k, e - s)
            keep_p.append(np.arange(s, s + take))
            rank_p.append(np.arange(1, take + 1))
        keep3 = np.concatenate(keep_p)
        yield pd.DataFrame({
            "query_id": qid[qa[keep3]], "neighbor_id": na[keep3],
            "sim": sims[keep3],
            "rank": np.concatenate(rank_p).astype(np.int32),
        })

    schema = (
        "query_id long, neighbor_id long, dist double, rank int"
        if rerank_shortlist is None
        else "query_id long, neighbor_id long, sim double, rank int"
    )
    return src.mapInPandas(run, schema)


def serve_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_shortlist: int | None = None,
) -> DataFrame:
    """Serve a query batch from the persisted index: broadcast the
    stored models (nlist·d + m·k*·dsub doubles — tiny), assign each
    query its nprobe cells, then score through pq._adc_topk against
    ONLY the probed cells' code files (read_pruned_in — the scan list
    is the file-level inverted-list lookup). *rerank_shortlist* adds the
    IVFADC+R refine: the ADC shortlist reranked by true cosine against
    the vectors table (also probed-cell-pruned reads via the shortlist
    join).

    Precondition: *queries* must be DETERMINISTIC under re-evaluation
    (a parquet scan, a filter, a join — not ``sample()`` or a
    multi-partition ``limit()``). The serve path is persist-free by
    design (per-batch persists leak in a long-lived server), so the
    query lineage is evaluated twice — once to collect the probed
    cells, once in the final action; a nondeterministic frame could
    probe cells its second evaluation never assigns, silently dropping
    candidates. Callers with nondeterministic batches should
    ``localCheckpoint()`` the frame first."""
    from id3c_spark.operators.ann import _prep, exact_rerank, fits_one_task
    from id3c_spark.operators.pq import _adc_topk, _assign_topn, _normalized

    coarse, books, t = _load_models(spark, path)
    assign_n = _read_assign_n(spark, t)
    # when the query batch and the codes table (plus the vectors table
    # for IVFADC+R) each fit one task (ann.fits_one_task), the whole
    # serve runs in ONE narrow mapInPandas stage over a tagged union
    # (_fused_serve). Reading the
    # small codes table whole replaces the probed-cells collect — the
    # query lineage is then evaluated exactly once, and the determinism
    # precondition below is moot in this regime. Large indexes/batches
    # keep the probed-cell-pruned distributed path.
    if (
        fits_one_task(queries)
        and fits_one_task(t["codes"].read())
        and (rerank_shortlist is None or fits_one_task(t["vectors"].read()))
    ):
        return _fused_serve(
            _prep(queries, id_col, vec_col),
            t["codes"].read().select("id", "cell", "codes"),
            (
                t["vectors"].read().select("id", "cell", "v")
                if rerank_shortlist is not None
                else None
            ),
            coarse, books, assign_n, k, nprobe, rerank_shortlist,
        )
    bcg = spark.sparkContext.broadcast(coarse)
    # deliberately NO persist on the query-batch relations: a serving
    # session calls this per batch, and leaked storage blocks accumulate
    # without bound (pinned by test_serve_topk_leaves_no_cached_blocks).
    # The probed-cell collect recomputes normalize+assign once more in
    # the final action — two Arrow passes over the QUERY batch, noise
    # next to the ADC scoring they gate.
    qn = _normalized(_prep(queries, id_col, vec_col))
    probes = _assign_topn(qn, bcg, nprobe)
    probe_vecs = probes.join(qn, "id")
    probed = [r.cell for r in probes.select("cell").distinct().collect()]
    codes_cells = t["codes"].read_pruned_in("cell", probed).select(
        "id", "cell", "codes"
    )
    # cell_splits=None → ADAPTIVE: a long-lived index accumulates ingest
    # drift, so hot cells must still shard to bounded tasks — but a
    # fixed split count makes every split pack recompute its queries'
    # LUTs (4× redundant work on balanced cells; measurable at k*=256).
    # The per-cell count aggregate sizes splits to ceil(rows/65536)
    short = _adc_topk(
        probe_vecs, codes_cells, books, bcg, k=rerank_shortlist or k,
        residual=True, cell_splits=None,
        # a multi-assigned corpus surfaces a pair once per shared probed
        # cell — dedup by min ADC dist; single-assign keeps its exact
        # pre-multi-assign plan (no extra aggregate)
        dedup_pairs=assign_n > 1,
    )
    if rerank_shortlist is None:
        return short
    # every shortlist neighbor came from a probed cell's codes, so the
    # rerank corpus read prunes to the same probed-cell files — the
    # refine step opens nprobe/nlist of the vectors table, never the
    # whole corpus (file-level superset: footer pruning keeps any file
    # whose cell range intersects, it never drops probed-cell rows)
    corpus_vecs = t["vectors"].read_pruned_in("cell", probed).select(
        F.col("id").alias(id_col), F.col("v").alias(vec_col)
    )
    if assign_n > 1:
        # a multi-assigned id can appear under several probed cells with
        # the SAME normalized vector — collapse to one row per id so the
        # rerank window ranks each neighbor once. dropDuplicates on the
        # id alone: the id's rows are value-identical, and hashing just
        # the key beats distinct()'s full array-compare shuffle
        # (measured: the rerank query regressed 1.4x with distinct())
        corpus_vecs = corpus_vecs.dropDuplicates([id_col])
    return exact_rerank(
        qn.select(F.col("id").alias(id_col), F.col("v").alias(vec_col)),
        corpus_vecs,
        short,
        k=k,
    )
