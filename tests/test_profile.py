"""Unit tests for data profiling / skew diagnostics (operators/profile.py)."""

from __future__ import annotations


def test_profile_table_per_type_stats(spark):
    from id3c_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, -3.0), (None, "a", 2.0)],
        "k long, s string, x double",
    )
    rows = {r.col_name: r for r in profile_table(df).collect()}

    assert set(rows) == {"k", "s", "x"}
    assert all(r.n_rows == 4 for r in rows.values())
    assert rows["k"].n_nulls == 1 and rows["k"].n_distinct == 2
    assert rows["k"].min_num == 1.0 and rows["k"].max_num == 2.0
    assert rows["k"].min_str is None
    assert rows["s"].n_nulls == 1 and rows["s"].n_distinct == 2
    assert rows["s"].min_str == "a" and rows["s"].max_str == "b"
    assert rows["s"].min_num is None
    assert rows["x"].min_num == -3.0 and rows["x"].max_num == 2.0


def test_profile_table_single_aggregation_job(spark):
    from id3c_spark.operators.profile import profile_table

    df = spark.range(100).selectExpr("id AS a", "CAST(id % 7 AS STRING) AS b")
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    # the struct-array unpivot must not duplicate the agg per column:
    # exactly one scan of the input in the plan
    assert plan.count("Scan ") + plan.count("FileScan") <= 2  # range leaf (+reuse)


def test_profile_table_approx_mode(spark):
    from id3c_spark.operators.profile import profile_table

    df = spark.range(1000).selectExpr("id AS a")
    r = profile_table(df, exact=False).collect()[0]
    assert 900 <= r.n_distinct <= 1100  # HLL estimate near truth
    assert r.n_nulls == 0 and r.min_num == 0.0 and r.max_num == 999.0


def test_heavy_hitters_order_and_ties(spark):
    from id3c_spark.operators.profile import heavy_hitters

    rows = [(1,)] * 5 + [(2,)] * 3 + [(3,)] * 3 + [(4,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = heavy_hitters(df, "k", k=3).collect()
    assert [(r.k, r.cnt, r.rank) for r in out] == [
        (1, 5, 1), (2, 3, 2), (3, 3, 3)  # tie 2 vs 3 -> key asc
    ]


def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    from id3c_spark.operators.profile import cms_estimate, cms_sketch

    rows = [(i % 7,) for i in range(700)] + [(99,)] * 5
    df = spark.createDataFrame(rows, "k long")
    sketch = cms_sketch(df, "k", depth=3, width=1 << 14)
    keys = spark.createDataFrame([(i,) for i in range(7)] + [(99,), (12345,)], "k long")
    est = {r["k"]: r["n_cms"] for r in cms_estimate(sketch, keys, "k").collect()}
    exact = {i: 100 for i in range(7)} | {99: 5, 12345: 0}
    for k, n in exact.items():
        assert est[k] >= n                       # CMS guarantee
    # 9 distinct keys in 3x16384 cells: collisions are essentially
    # impossible, so the estimates are exact here
    assert est == exact


def test_cms_bounded_relation(spark):
    from id3c_spark.operators.profile import cms_sketch

    df = spark.range(0, 5000).selectExpr("id % 1000 as k")
    assert cms_sketch(df, "k", depth=3, width=64).count() <= 3 * 64


def test_kmv_cardinality_exact_below_k_and_estimate_above(spark):
    from id3c_spark.operators.profile import kmv_cardinality

    rows = [("small", f"v{i}") for i in range(10)] * 3  # 10 distinct, 30 rows
    rows += [("big", f"w{i}") for i in range(500)]      # 500 distinct
    rows += [("big", None)]                             # nulls don't count
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.g: r for r in kmv_cardinality(df, "g", "v", k=64).collect()}

    # below k: the sketch IS the distinct set — exact count, no estimator
    assert out["small"].n_sketch == 10
    assert out["small"].est_distinct == 10.0
    assert out["small"].n_rows == 30
    # above k: (k-1)/m_k estimate within the KMV error envelope
    # (σ ≈ 1/√(k−2) ≈ 13% at k=64; 3σ bound)
    assert out["big"].n_sketch == 64
    assert 500 * 0.6 <= out["big"].est_distinct <= 500 * 1.4
    assert out["big"].n_rows == 501


def test_kmv_jaccard_tracks_true_overlap(spark):
    from id3c_spark.operators.profile import kmv_jaccard

    shared = [f"s{i}" for i in range(300)]
    only_a = [f"a{i}" for i in range(100)]
    only_b = [f"b{i}" for i in range(100)]
    rows = [("A", v) for v in shared + only_a] + [("B", v) for v in shared + only_b]
    rows += [("C", f"c{i}") for i in range(200)]  # disjoint from both
    df = spark.createDataFrame(rows, "g string, v string")
    out = {(r.group_a, r.group_b): r for r in
           kmv_jaccard(df, "g", "v", k=64).collect()}

    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    # true J(A,B) = 300/500 = 0.6; k=64 KMV has σ ≈ √(J(1−J)/k) ≈ 0.06
    ab = out[("A", "B")]
    assert 0.4 <= ab.est_jaccard <= 0.8
    assert ab.n_common <= ab.k_used == 64
    # disjoint pairs estimate (near) zero
    assert out[("A", "C")].est_jaccard <= 0.05
    assert out[("B", "C")].est_jaccard <= 0.05


def test_kmv_sketch_bounded_and_mergeable_state(spark):
    from id3c_spark.operators.profile import kmv_sketch

    df = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(200)] + [("g2", "x")],
        "g string, v string",
    )
    sk = kmv_sketch(df, "g", "v", k=16).collect()
    by_g = {}
    for r in sk:
        by_g.setdefault(r.g, []).append(r)
    assert len(by_g["g1"]) == 16        # capped at k
    assert len(by_g["g2"]) == 1         # whole (tiny) hash set
    hs = sorted(r.h for r in by_g["g1"])
    assert [r.h for r in sorted(by_g["g1"], key=lambda r: r.r)] == hs
    assert all(0.0 < h <= 1.0 for h in hs)


def test_kmv_sketch_map_side_topk_plan(spark):
    """The k-smallest window must compile to a PARTIAL WindowGroupLimit:
    each map partition keeps only its local k smallest hashes before the
    shuffle, so per-group sketch state — not the distinct hash set —
    crosses the wire (the property that makes KMV viable at corpus
    scale with few groups)."""
    from id3c_spark.operators.profile import kmv_sketch

    df = spark.range(10000).selectExpr(
        "CAST(id % 4 AS STRING) AS g", "CAST(id AS STRING) AS v"
    )
    plan = kmv_sketch(df, "g", "v", k=64)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1].split("\n")[0]


def test_profile_table_fused_parity_with_distributed(spark, tmp_path, regime):
    """r16 fused single-task profile (guide §2.4): the fused regime must equal
    the Expand-based distributed aggregation value-for-value on every
    supported type, including the nasty cases — float NULL vs float NaN
    (the isnull companion keeps them apart through Arrow), NaN min/max
    order (NaN sorts largest in Spark), decimals' half-even double
    cast, unicode string order, timestamps/dates/bools (counts only),
    and the empty table."""
    import math

    from pyspark.sql import functions as F

    from id3c_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, True, "2024-01-02 03:04:05", "1.25"),
            (2, "é", float("nan"), None, None, "2.50"),
            (2, None, None, False, "2024-01-02 03:04:05", None),
            (None, "Z", -0.0, True, "2023-12-31 23:59:59", "999999.99"),
            (7, "zz", 0.0, True, "2024-06-01 00:00:00", "0.01"),
        ],
        "k long, s string, x double, b boolean, ts string, d string",
    ).select(
        "k", "s", "x", "b",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("d").cast("decimal(10,2)").alias("d"),
    )
    path = str(tmp_path / "prof")
    df.coalesce(1).write.parquet(path)
    src = spark.read.parquet(path)

    def key(rows):
        out = []
        for r in sorted(rows, key=lambda r: r.col_name):
            vals = []
            for v in (r.n_rows, r.n_nulls, r.n_distinct, r.min_num,
                      r.max_num, r.min_str, r.max_str):
                if isinstance(v, float) and math.isnan(v):
                    v = "nan"
                vals.append(v)
            out.append((r.col_name, tuple(vals)))
        return out

    with regime(True):
        fused = profile_table(src).collect()
    with regime(False):
        dist = profile_table(src).collect()
    assert key(fused) == key(dist)
    # the gate itself: file-backed small source fuses, in-memory doesn't
    assert profile_table(src)._jdf.queryExecution().executedPlan() \
        .toString().count("Expand") == 0
    assert "Expand" in profile_table(df)._jdf.queryExecution() \
        .executedPlan().toString()

    # empty table: same six rows of zeros both ways
    empty = str(tmp_path / "prof_empty")
    src.limit(0).coalesce(1).write.parquet(empty)
    esrc = spark.read.parquet(empty)
    with regime(True):
        fused_empty = profile_table(esrc).collect()
    with regime(False):
        dist_empty = profile_table(esrc).collect()
    assert key(fused_empty) == key(dist_empty)
