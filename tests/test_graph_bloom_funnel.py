"""Unit tests for the round-6 additions: PageRank, Bloom membership,
funnels/retention, and the Levenshtein blocked pair join."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from id3c_spark.operators import similarity
from id3c_spark.operators.bloom import (
    bit_positions,
    bloom_decontaminate,
    bloom_member,
    build_bloom,
)
from id3c_spark.operators.funnel import funnel_steps, retention_cohorts
from id3c_spark.operators.graph import pagerank


def test_pagerank_two_cliques_hub_ranks_highest(spark):
    # path a-b, a-c, a-d (star on a) plus isolated pair e-f
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "id_a long, id_b long"
    )
    out = {r["node"]: r["rank"] for r in pagerank(pairs, iters=10).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # hub of the star outranks its leaves; ranks sum to ~1
    assert out[1] > out[2] == out[3] == out[4]
    assert abs(sum(out.values()) - 1.0) < 1e-3
    # symmetric pair splits evenly
    assert out[5] == out[6]


def test_pagerank_empty_edges(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(pairs).count() == 0


def test_pagerank_preserves_string_ids(spark):
    pairs = spark.createDataFrame([("x", "y")], "id_a string, id_b string")
    out = pagerank(pairs, iters=2).collect()
    assert {r["node"] for r in out} == {"x", "y"}


def test_bloom_membership_no_false_negatives(spark):
    keys = spark.createDataFrame([(f"key-{i}",) for i in range(200)], "s string")
    bloom = build_bloom(keys, "s", m=1 << 16, k=3)
    probes = spark.createDataFrame(
        [(f"key-{i}",) for i in range(400)], "s string"
    ).withColumn("hit", bloom_member(spark, bloom, bit_positions(F.col("s"), 1 << 16, 3), 3))
    rows = {r["s"]: r["hit"] for r in probes.collect()}
    # every inserted key hits (no false negatives — the Bloom guarantee)
    assert all(rows[f"key-{i}"] for i in range(200))
    # at 16 Kib for 200 keys false positives are overwhelmingly unlikely
    fp = sum(rows[f"key-{i}"] for i in range(200, 400))
    assert fp <= 2


def test_bloom_decontaminate_supersets_exact(spark):
    from id3c_spark.operators.corpus import decontaminate

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),       # bench
        (2, "alpha beta gamma delta epsilon zeta eta"),   # overlaps bench
        (3, "one two three four five six seven"),         # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id = 1")
    rest = docs.filter("doc_id > 1")
    exact = {r["id"] for r in decontaminate(rest, bench, "doc_id", "text", k=5).collect()}
    bloomed = {
        r["id"]
        for r in bloom_decontaminate(
            rest, bench, "doc_id", "text", k_shingle=5, m=1 << 16, k_hash=3
        ).collect()
    }
    assert exact == {2}
    assert exact <= bloomed  # false positives only, never negatives


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1, 0, minute)


def test_funnel_strict_order(spark):
    ev = spark.createDataFrame(
        [
            # u1 completes in order
            ("u1", _ts(0), "signup"),
            ("u1", _ts(5), "click"),
            ("u1", _ts(9), "purchase"),
            # u2 purchases BEFORE clicking — not a completion
            ("u2", _ts(0), "signup"),
            ("u2", _ts(8), "click"),
            ("u2", _ts(4), "purchase"),
            # u3 never signs up
            ("u3", _ts(1), "click"),
            ("u3", _ts(2), "purchase"),
        ],
        "user_id string, ts timestamp, event_type string",
    )
    out = funnel_steps(ev, ["signup", "click", "purchase"]).collect()
    assert [r["user"] for r in out] == ["u1"]
    r = out[0]
    assert r["ts_0"] < r["ts_1"] < r["ts_2"]


def test_funnel_greedy_earliest_chain_is_complete(spark):
    # earliest click precedes the only purchase: greedy chain must find it
    ev = spark.createDataFrame(
        [
            ("u", _ts(0), "signup"),
            ("u", _ts(2), "click"),
            ("u", _ts(30), "click"),
            ("u", _ts(10), "purchase"),
        ],
        "user_id string, ts timestamp, event_type string",
    )
    out = funnel_steps(ev, ["signup", "click", "purchase"]).collect()
    assert len(out) == 1 and out[0]["ts_1"] < out[0]["ts_2"]


def test_retention_cohorts_grid(spark):
    week = datetime.timedelta(days=7)
    base = datetime.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [
            ("a", base), ("a", base + week), ("a", base + 2 * week),
            ("b", base), ("b", base + week),
            ("c", base + week),
        ],
        "user_id string, ts timestamp",
    )
    grid = {
        (r["cohort_us"], r["week_n"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    cohorts = sorted({c for c, _ in grid})
    assert len(cohorts) == 2  # base week and base+1 week cohorts
    c0, c1 = cohorts
    assert grid[(c0, 0)] == 2 and grid[(c0, 1)] == 2 and grid[(c0, 2)] == 1
    assert grid[(c1, 0)] == 1 and (c1, 1) not in grid


def test_edit_distance_pairs_blocked(spark):
    df = spark.createDataFrame(
        [
            (1, "red widget", "B1"),
            (2, "red widgets", "B1"),   # dist 1, same block
            (3, "red widget", "B2"),    # same name, other block — no pair
            (4, "blue bolt", "B1"),     # far from everything
            (5, "red widget", "B1"),    # identical to 1 → excluded (dist 0)
        ],
        "id long, name string, blk string",
    )
    out = similarity.edit_distance_pairs(df, "id", "name", "blk", max_distance=2)
    pairs = {(r["id_a"], r["id_b"], r["dist"]) for r in out.collect()}
    assert pairs == {(1, 2, 1), (2, 5, 1)}


def test_triangle_count(spark):
    from id3c_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge and a dup edge
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(4, 5), (2, 1)]  # pendant + reversed duplicate of (1,2)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    assert triangle_count(pairs).collect()[0]["n_triangles"] == 4


def test_triangle_count_no_triangles(spark):
    from id3c_spark.operators.graph import triangle_count

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    assert triangle_count(pairs).collect()[0]["n_triangles"] == 0


def test_overlap_join_matches_bruteforce(spark):
    import itertools
    import random

    from id3c_spark.operators.interval import overlap_join

    rnd = random.Random(7)
    L = [(i, rnd.randrange(0, 200), 0) for i in range(30)]
    L = [(i, s, s + rnd.randrange(1, 60)) for i, s, _ in L]
    R = [(j, rnd.randrange(0, 200), 0) for j in range(20)]
    R = [(j, s, s + rnd.randrange(1, 40)) for j, s, _ in R]
    left = spark.createDataFrame(L, "lid long, ls long, le long")
    right = spark.createDataFrame(R, "rid long, rs long, re long")
    expected = {
        (i, j)
        for (i, ls, le), (j, rs, re) in itertools.product(L, R)
        if ls < re and rs < le
    }
    for width in (7, 64, 500):  # exact for any width
        got = {
            (r["lid"], r["rid"])
            for r in overlap_join(
                left, right, width, "ls", "le", "rs", "re"
            ).collect()
        }
        assert got == expected, f"width={width}"


def test_overlap_join_half_open_boundaries(spark):
    from id3c_spark.operators.interval import overlap_join

    left = spark.createDataFrame([(1, 0, 10)], "lid long, ls long, le long")
    right = spark.createDataFrame(
        [(1, 10, 20), (2, 9, 20)], "rid long, rs long, re long"
    )
    got = {
        (r["lid"], r["rid"])
        for r in overlap_join(left, right, 8, "ls", "le", "rs", "re").collect()
    }
    assert got == {(1, 2)}  # touching endpoints do not overlap


def test_hop_distances_bfs(spark):
    from id3c_spark.operators.graph import hop_distances

    # path 1-2-3-4-5, seed {1}; plus isolated seed 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,), (99,)], "id long")
    got = {r["node"]: r["dist"] for r in hop_distances(pairs, seeds, 3).collect()}
    assert got == {1: 0, 99: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond the cap


def test_funnel_report_counts(spark):
    from id3c_spark.operators.funnel import funnel_report

    ev = spark.createDataFrame(
        [
            ("u1", _ts(0), "signup"), ("u1", _ts(1), "click"), ("u1", _ts(2), "purchase"),
            ("u2", _ts(0), "signup"), ("u2", _ts(1), "click"),
            ("u3", _ts(0), "signup"),
            ("u4", _ts(5), "click"),  # never signed up
        ],
        "user_id string, ts timestamp, event_type string",
    )
    rep = {
        r["step"]: r["n_users"]
        for r in funnel_report(ev, ["signup", "click", "purchase"]).collect()
    }
    assert rep == {"signup": 3, "click": 2, "purchase": 1}


def test_label_propagation_separates_dense_communities(spark):
    from id3c_spark.operators.graph import label_propagation

    # two K4 cliques bridged by one edge: LPA keeps them apart where
    # connected components would merge them
    k4a = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k4b = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    bridge = [(4, 11)]
    pairs = spark.createDataFrame(k4a + k4b + bridge, "id_a long, id_b long")
    out = {r["node"]: r["community"] for r in label_propagation(pairs, iters=4).collect()}
    ca = {out[n] for n in (1, 2, 3)}
    cb = {out[n] for n in (12, 13, 14)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


def test_weighted_pagerank_favors_strong_edges(spark):
    from id3c_spark.operators.graph import pagerank

    # hub h has one strong edge to s (w=1.0) and one weak to t (w=0.1):
    # s should receive more of h's mass than t
    pairs = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 0.1)], "id_a long, id_b long, w double"
    )
    out = {r["node"]: r["rank"] for r in
           pagerank(pairs, iters=8, weight_col="w").collect()}
    assert out[1] > out[2]
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_np_levenshtein_matches_spark_levenshtein(spark):
    """r16 fused entity resolution: the numpy Levenshtein mirror must
    equal Spark's levenshtein on code points, including unicode edge
    cases (combining marks, CJK, astral-plane emoji — UTF8String counts
    code points, not bytes or grapheme clusters)."""
    from pyspark.sql import functions as F

    from id3c_spark.operators.similarity import _np_levenshtein

    pairs = [
        ("kitten", "sitting"), ("", ""), ("", "abc"), ("abc", ""),
        ("same", "same"), ("ab", "ba"), ("abcd", "abdc"),
        ("café", "cafe"), ("café", "café"),   # é vs e+combining
        ("日本語", "日本誤"), ("naïve", "naive"),
        ("a😀b", "ab"), ("😀😀", "😀x😀"),               # astral plane
        ("hot bolt", "hot bol"), ("blue ring", "blues ring"),
    ]
    sdf = spark.createDataFrame(pairs, "a string, b string").select(
        F.levenshtein("a", "b").alias("d")
    )
    ref = [r["d"] for r in sdf.collect()]
    got = _np_levenshtein([a for a, _ in pairs], [b for _, b in pairs], 99)
    assert got.tolist() == ref


def test_entity_resolution_fused_parity(spark, tmp_path, regime):
    """Fused single-task entity resolution == the distributed
    composition, value-for-value: exact-name groups, Levenshtein<=2
    edges, min-id components, member counts — including null
    blocks/names (never pair), the same name recurring across blocks
    (blocks stay separate components), singleton-with-no-edge exclusion,
    and unicode names through the count-GEMM prefilter."""
    from id3c_spark.operators.similarity import entity_resolution

    rows = [
        (1, "B1", "hot bolt"), (2, "B1", "hot bolt"),    # exact pair
        (3, "B1", "hot bol"),                             # lev 1 to both
        (4, "B1", "cold plate"),                          # singleton: out
        (5, "B2", "hot bolt"),                            # other block: out
        (6, "B2", "hot volt"), (7, "B2", "hot bolt"),     # lev 1 pair
        (8, None, "hot bolt"),                            # null block: out
        (9, "B2", None),                                  # null name: out
        (10, "B3", "café"), (11, "B3", "café"),  # unicode lev 2
        (12, "B3", "café"),                               # dup of 10's name
        (13, "B1", "zzz"), (14, "B1", "zz"),              # lev 1 pair
    ]
    df = spark.createDataFrame(rows, "id long, blk string, nm string")
    path = str(tmp_path / "er")
    df.coalesce(1).write.parquet(path)
    src = spark.read.parquet(path)

    def key(rows):
        return sorted(
            (r.canonical_id, r.canonical_name, r.n_members) for r in rows
        )

    with regime(True):
        fused = entity_resolution(src, "id", "nm", "blk", 2).collect()
    with regime(False):
        dist = entity_resolution(src, "id", "nm", "blk", 2).collect()
    assert key(fused) == key(dist) and fused
    # the small file-backed source must gate into the single-task plan
    plan = entity_resolution(src, "id", "nm", "blk", 2)._jdf \
        .queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan
