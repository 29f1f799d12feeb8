"""Data profiling / skew diagnostics (north-star ops tooling).

Pipelines over 100 TB start with two questions: what does each column
look like (nulls, cardinality, range), and which join keys are skewed?
The reference answers these ad hoc (import stats via `count(*) filter`,
`/root/reference/lib/id3c/cli/command/location.py:271-279`; manifest QC
dedup counts, `manifest.py:568-611`); here they are first-class
operators.

Scale shape:
  - `profile_table` is ONE aggregation job producing a single row that
    is then unpivoted driver-free (the row is one row — the unpivot is
    a constant-size projection). Exact distinct counts over several
    columns make Catalyst plan an Expand (input duplicated once per
    distinct aggregate) — acceptable for a handful of profiled columns;
    at very large scale pass ``exact=False`` to use
    approx_count_distinct (HLL, no Expand) — the oracle covers the
    exact mode.
  - `heavy_hitters` is groupBy(key).count + TakeOrderedAndProject —
    per-partition heaps, k rows to the driver; the canonical "find the
    skewed keys before they find you" probe feeding operators/skew.py's
    salted join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from id3c_spark.operators.bounded import bounded_collect

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


#: atomic types the fused profile's pandas mirror can hash/compare
#: exactly (complex types keep the distributed Expand aggregation)
_FUSABLE = _NUMERIC + (
    T.StringType, T.BooleanType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)


def _fused_profile(df: DataFrame, cols: list[str], dtypes: dict) -> DataFrame:
    """Single-task profile for the stats-gated small regime: ONE narrow
    mapInPandas task computes every column's counts / exact distinct /
    min-max, replacing the Expand-based multi-count_distinct aggregation
    (which duplicates each input row once per distinct aggregate before
    its exchange). Exactness mirrors: nullness is decided by JVM-side
    isnull companion columns (a float NULL and a float NaN both arrive
    as NaN through Arrow — the indicator keeps them distinct, NaN
    staying a value like Spark treats it: one distinct, sorts largest);
    string order is code-point order == Spark's UTF-8 byte order;
    numeric casts widen exactly (int/float) or round half-even
    (Decimal.doubleValue == float(Decimal)); the output crosses back as
    Arrow (mapInArrow), where NaN stays a VALUE — the pandas output
    boundary would fold a NaN max back into NULL."""
    import math

    import numpy as np
    import pandas as pd

    src = df.select(
        *[F.col(c) for c in cols],
        *[F.isnull(F.col(c)).alias(f"__nul_{i}") for i, c in enumerate(cols)],
    ).coalesce(1)
    numeric = {c: isinstance(dtypes[c], _NUMERIC) for c in cols}
    stringy = {c: isinstance(dtypes[c], T.StringType) for c in cols}

    def run(batches):
        import pyarrow as pa

        parts = [b.to_pandas() for b in batches]
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame(columns=[c for c in cols] + [
                f"__nul_{i}" for i in range(len(cols))
            ])
        )
        n = len(pdf)
        out = {k: [] for k in (
            "col_name", "n_rows", "n_nulls", "n_distinct",
            "min_num", "max_num", "min_str", "max_str",
        )}
        for i, c in enumerate(cols):
            nulls = pdf[f"__nul_{i}"].to_numpy(bool) if n else np.zeros(0, bool)
            vals = pdf[c][~nulls]
            nn = int(len(vals))
            # nunique(dropna=False): nulls are already masked out, so
            # any remaining NaN is a real value — one distinct, exactly
            # like Spark's NaN normalization in count_distinct
            nd = int(vals.nunique(dropna=False))
            mn = mx = mns = mxs = None
            if nn and numeric[c]:
                arr = vals.to_numpy()
                if arr.dtype == object:          # decimals
                    mn, mx = float(min(arr)), float(max(arr))
                else:
                    arr = arr.astype(np.float64)
                    nanmask = np.isnan(arr)
                    if nanmask.all():
                        mn = mx = math.nan
                    else:
                        # Spark's total order puts NaN largest: min skips
                        # it unless all-NaN, max is NaN when any present
                        mn = float(np.nanmin(arr))
                        mx = math.nan if nanmask.any() else float(np.nanmax(arr))
            elif nn and stringy[c]:
                mns, mxs = min(vals), max(vals)
            out["col_name"].append(c)
            out["n_rows"].append(n)
            out["n_nulls"].append(int(nulls.sum()))
            out["n_distinct"].append(nd)
            out["min_num"].append(mn)
            out["max_num"].append(mx)
            out["min_str"].append(mns)
            out["max_str"].append(mxs)
        yield pa.RecordBatch.from_pydict({
            "col_name": pa.array(out["col_name"], pa.string()),
            "n_rows": pa.array(out["n_rows"], pa.int64()),
            "n_nulls": pa.array(out["n_nulls"], pa.int64()),
            "n_distinct": pa.array(out["n_distinct"], pa.int64()),
            "min_num": pa.array(out["min_num"], pa.float64()),
            "max_num": pa.array(out["max_num"], pa.float64()),
            "min_str": pa.array(out["min_str"], pa.string()),
            "max_str": pa.array(out["max_str"], pa.string()),
        })

    return src.mapInArrow(
        run,
        "col_name string, n_rows long, n_nulls long, n_distinct long, "
        "min_num double, max_num double, min_str string, max_str string",
    )


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str).

    Numeric columns report min/max as DOUBLE (min_str/max_str null);
    string columns report lexicographic min/max (min_num/max_num null);
    other types report counts only. One scan, one aggregation row,
    constant-size unpivot.
    """
    cols = columns or df.columns
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    # an exact profile over a source below the regime gate
    # (ann.fits_one_task) runs as one narrow mapInPandas pass
    # (see _fused_profile) instead of the Expand shape, which multiplies
    # every input row by the number of distinct aggregates before the
    # exchange; bigger or in-memory sources (and approx mode / complex
    # column types) keep the distributed aggregation below.
    from id3c_spark.operators.ann import fits_one_task

    if (
        exact
        and all(isinstance(dtypes[c], _FUSABLE) for c in cols)
        and fits_one_task(df)
    ):
        return _fused_profile(df, cols, dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(
            (F.count_distinct(F.col(c)) if exact
             else F.approx_count_distinct(F.col(c))).alias(f"__nd_{c}")
        )
        if isinstance(dtypes[c], _NUMERIC):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
        elif isinstance(dtypes[c], T.StringType):
            aggs.append(F.min(F.col(c)).alias(f"__mns_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"__mxs_{c}"))
    one = df.agg(*aggs)

    # Unpivot WITHOUT a union of per-column selects (that shape would
    # duplicate the aggregation subtree once per column): one array of
    # structs over the single agg row, exploded — the agg runs once.
    def struct_for(c: str):
        num = isinstance(dtypes[c], _NUMERIC)
        s = isinstance(dtypes[c], T.StringType)
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (F.col(f"__mn_{c}") if num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__mx_{c}") if num else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"__mns_{c}") if s else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"__mxs_{c}") if s else F.lit(None).cast("string")).alias("max_str"),
        )

    return one.select(
        F.explode(F.array(*[struct_for(c) for c in cols])).alias("p")
    ).select("p.*")


def heavy_hitters(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Top-k most frequent key values: (key, cnt, rank) — the join-key
    skew probe. Ties break by key ascending (deterministic)."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        F.col("key").alias(key_col), "cnt", "rank"
    )


def cms_sketch(
    df: DataFrame, key_col: str, depth: int = 3, width: int = 1 << 14
) -> DataFrame:
    """Count-min sketch of a key column as a BOUNDED relation
    (j, pos, c): row j of the sketch maps each key to
    pos = md5_48(j:key) mod width and c sums the collisions. At most
    depth×width rows whatever the input size — the classic mergeable
    KB-scale summary (Cormode-Muthukrishnan) for when the full
    groupBy(key) is itself too large to keep.

    All-integer md5 arithmetic → bit-identical in any engine (the same
    '0x'||substr(md5(...)) trick as hash_bucket), so estimates carry a
    full value-level oracle, not a tolerance band. One explode(depth) +
    map-side-combined count; no shuffle wider than depth×width cells."""
    js = F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("j").cast("string"),
                                F.col(key_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(width)
    )
    return (
        df.select(F.col(key_col), js)
        .withColumn("pos", pos)
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 1 << 14,
) -> DataFrame:
    """Point-estimate counts for *keys* against a cms_sketch relation →
    (key_col, n_cms). The estimate min-reduces the key's depth cells, so
    it NEVER underestimates (every cell counts a superset of the key's
    occurrences) and overestimates only by collision mass — the CMS
    guarantee, here structural rather than probabilistic paperwork.
    The sketch side is depth×width bounded → broadcast; the key side
    never shuffles."""
    js = F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
    pos = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("j").cast("string"),
                                F.col(key_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(width)
    )
    probes = keys.select(F.col(key_col), js).withColumn("pos", pos)
    return (
        probes.join(F.broadcast(sketch), ["j", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("n_cms"))
    )


def _kmv_hash(col) -> F.Column:
    """Deterministic uniform hash of *col* into (0, 1]: the first 13 hex
    digits of md5 as an exact 52-bit integer scaled by 16^-13. 13 digits
    keep the integer below 2^53, so the double is EXACT and a SQL oracle
    computing ('0x' || substr(md5(x),1,13))::BIGINT / 16^13 reproduces it
    bit-for-bit (the same discipline as cms_sketch's position hash)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("bigint")
        / F.lit(float(16 ** 13))
    )


def kmv_sketch(df: DataFrame, group_col: str, value_col: str, k: int = 64) -> DataFrame:
    """Per-group KMV (k-minimum-values) distinct sketch: the k smallest
    distinct value hashes per group → (group, h, r) with r the hash's
    1-based rank. Beyer et al. 2007; the mergeable-summary alternative to
    HLL when set OPERATIONS (union / intersection / Jaccard) are needed,
    not just cardinality.

    Scale shape: duplicates collapse map-side in the distinct's partial
    aggregation, so the one shuffle carries distinct (group, hash) pairs;
    the rank window then runs per group. The sketch itself is ≤ k rows
    per group — broadcastable state, mergeable by re-ranking the union
    of sketches (see kmv_jaccard)."""
    w = Window.partitionBy("g").orderBy("h")
    return (
        df.select(F.col(group_col).alias("g"), _kmv_hash(F.col(value_col)).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
    )


def kmv_cardinality(df: DataFrame, group_col: str, value_col: str, k: int = 64) -> DataFrame:
    """Per-group distinct-count estimate from a KMV sketch →
    (group, n_rows, n_sketch, est_distinct). The unbiased estimator is
    (k − 1) / m_k with m_k the k-th smallest hash; a group with fewer
    than k distinct values keeps its EXACT count (its sketch is the whole
    hash set). Estimates round to 6 dp so the DuckDB oracle matches
    exactly."""
    sk = kmv_sketch(df, group_col, value_col, k)
    agg = sk.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("m_k")
    )
    rows = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        rows.join(agg, "g")
        .select(
            F.col("g").alias(group_col),
            "n_rows",
            "n_sketch",
            F.round(
                F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double"))
                .otherwise((F.lit(k - 1)) / F.col("m_k")),
                6,
            ).alias("est_distinct"),
        )
    )


def kmv_jaccard(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
    max_sketch_rows: int = 4_000_000,
) -> DataFrame:
    """Estimated pairwise Jaccard similarity between every pair of groups
    from their KMV sketches → (group_a, group_b, k_used, n_common,
    est_jaccard), group_a < group_b.

    The merged sketch of a pair is the k smallest hashes of the UNION of
    the two sketches (valid because each side's sketch is its k smallest
    — the union's k smallest are among them); the Jaccard estimate is the
    fraction of merged-sketch hashes present in BOTH sides. All inputs
    are ≤ k-row-per-group relations, so the pair join broadcasts; the
    full corpus is scanned exactly once by kmv_sketch.

    The sketch relation is BOUNDED at k·|groups| rows by construction,
    so it collects to the driver and re-enters the plan as a local
    relation: one corpus scan total (five lazy consumers would each
    rescan otherwise), no persist (the old cache here leaked storage
    blocks past the caller's action — the operator returns a lazy
    plan and could never unpersist it), and every downstream join
    broadcasts a local list exactly like the trained-model relations in
    pq/ann.

    "Bounded" assumes bounded GROUP CARDINALITY: driver memory is
    k·|groups| rows, which is a model-sized relation for source/domain/
    shard-grain groupings but unbounded if *group_col* is
    near-unique. *max_sketch_rows* guards that assumption explicitly —
    the materializing action goes through ``bounded_collect`` (one
    single-wave scan, per-partition-capped driver transfer regardless of
    the true size; see operators/bounded.py) and overflow raises a clear
    error instead of silently exhausting driver memory."""
    spark = df.sparkSession
    sk_plan = kmv_sketch(df, group_col, value_col, k).select("g", "h")
    rows = bounded_collect(sk_plan, max_sketch_rows)
    if len(rows) > max_sketch_rows:
        raise ValueError(
            f"kmv_jaccard: sketch relation exceeds max_sketch_rows="
            f"{max_sketch_rows} (k={k} x group cardinality of "
            f"{group_col!r}); driver materialization assumes a bounded "
            f"group count — lower k, group coarser, or raise "
            f"max_sketch_rows if driver memory allows"
        )
    # r16 (guide §5 driver shape): the pair tail is driver-local set
    # arithmetic over the ALREADY-COLLECTED ≤ k·|G|-row sketch — the old
    # plan re-shipped those ~k·|G| local rows through a crossJoin, a
    # (ga, gb) rank window and four broadcast joins (8+ jobs for ~100
    # rows). Merged sketch per pair = k smallest of the union of the two
    # sides' hash SETS (each side is its own k smallest, so the union's
    # k smallest are among them — same validity argument as before);
    # n_common counts merged hashes present in both. Hashes are exact
    # doubles compared by equality on both engines, and group order
    # (ga < gb) is Python's — identical to Spark's for strings (UTF-8
    # byte order == code-point order) and numerics; NULL groups never
    # pair (the old `ga < gb` predicate dropped them identically). The
    # division + 6-dp round stay the SAME Spark expression as before.
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["g"], set()).add(r["h"])
    gs = sorted(g for g in by_g if g is not None)
    out = []
    for i, ga in enumerate(gs):
        for gb in gs[i + 1:]:
            sa, sb = by_g[ga], by_g[gb]
            merged = sorted(sa | sb)[:k]
            n_common = sum(1 for h in merged if h in sa and h in sb)
            out.append((ga, gb, len(merged), n_common))
    from pyspark.sql.types import LongType, StructField, StructType

    g_type = sk_plan.schema["g"].dataType
    schema = StructType(
        [
            StructField("group_a", g_type),
            StructField("group_b", g_type),
            StructField("k_used", LongType(), nullable=False),
            StructField("n_common", LongType()),
        ]
    )
    return spark.createDataFrame(out, schema).select(
        "group_a",
        "group_b",
        "k_used",
        "n_common",
        F.round(F.col("n_common") / F.col("k_used"), 6).alias("est_jaccard"),
    )
