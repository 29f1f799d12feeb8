"""Unit tests for the n-gram LM operators (operators/lm.py) and TF-IDF
keyword extraction (operators/search.py): hand-computed vectors, not just
oracle agreement."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_tfidf_keywords_hand_vector(spark):
    from id3c_spark.operators.search import tfidf_keywords

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_keywords(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = {d: min(rs, key=lambda r: r.rank) for d, rs in by_doc.items()}

    # df: apple=1, banana=2, cherry=2; N=3
    assert top1[1].term == "apple"
    assert top1[1].tf == 2
    assert top1[1].score == pytest.approx(round(2 * math.log(4 / 2), 6))
    assert top1[3].term == "cherry"
    assert top1[3].score == pytest.approx(round(3 * math.log(4 / 3), 6))
    # per-doc rank is dense from 1 and capped at k
    assert sorted(r.rank for r in by_doc[1]) == [1, 2]
    assert all(r.rank <= 2 for r in out)


def test_bigram_lm_cross_entropy_hand_vector(spark):
    from id3c_spark.operators.lm import bigram_lm_score

    # corpus: d1 = "a b a b", d2 = "a b"
    # bigrams: "a b" x3, "b a" x1; histories: a=3, b=1; V = 2
    # P(b|a) = (3+1)/(3+2) = 0.8;  P(a|b) = (1+1)/(1+2) = 2/3
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bigram_lm_score(df).collect()}

    lp_ab = round(math.log(0.8), 8)
    lp_ba = round(math.log(2 / 3), 8)
    assert out[1].n_bigrams == 3
    assert out[1].cross_entropy == pytest.approx(
        round(-(2 * lp_ab + lp_ba) / 3, 6)
    )
    assert out[2].n_bigrams == 1
    assert out[2].cross_entropy == pytest.approx(round(-lp_ab, 6))
    # self-trained LM: common text scores lower (more typical) than rare
    assert out[2].cross_entropy < out[1].cross_entropy


def test_bigram_lm_skips_short_docs(spark):
    from id3c_spark.operators.lm import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "solo"), (3, "")], "doc_id long, text string"
    )
    ids = {r.doc_id for r in bigram_lm_score(df).collect()}
    assert ids == {1}  # <2 alpha words -> no bigrams -> absent


def test_dsir_prefers_target_like_docs(spark):
    from id3c_spark.operators.lm import dsir_top_docs

    # target slice speaks {x, y}; raw background speaks {p, q}. A raw doc
    # written in target vocabulary must outrank raw docs in raw vocabulary.
    rows = [
        (1, "x y x y x y", "t"),
        (2, "x x y y x x", "t"),
        (3, "x y x y p q", "r"),   # mostly target-like
        (4, "p q p q p q", "r"),
        (5, "q p q p q p", "r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = dsir_top_docs(df, F.col("lang") == "t", n_buckets=64, k=5)
    rows_out = {r.doc_id: r for r in out.collect()}

    assert rows_out[1].n_tokens == 6
    # target-vocabulary docs carry the highest weights; raw-vocabulary lowest
    assert rows_out[3].weight > rows_out[4].weight
    assert rows_out[1].weight > rows_out[3].weight
    # raw-vocabulary docs are strongly down-weighted (p_t ~ smoothing floor)
    assert rows_out[4].weight < 0
    assert rows_out[1].weight > rows_out[4].weight + 1.0
    # ranks are a permutation of 1..5 consistent with weight desc
    ranked = sorted(rows_out.values(), key=lambda r: r.rank)
    weights = [r.weight for r in ranked]
    assert weights == sorted(weights, reverse=True)


def test_dsir_weights_all_docs_scored_regardless_of_membership(spark):
    from id3c_spark.operators.lm import dsir_top_docs

    df = spark.createDataFrame(
        [(1, "x y", "t"), (2, "x y", "r")], "doc_id long, text string, lang string"
    )
    out = {r.doc_id: r for r in dsir_top_docs(df, F.col("lang") == "t", k=10).collect()}
    # identical text -> identical weight; target membership is model-only
    assert out[1].weight == out[2].weight
    assert len(out) == 2


def test_temperature_sample_upsamples_low_resource(spark):
    from id3c_spark.operators.corpus import temperature_sample

    rows = [(i, "big") for i in range(900)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = temperature_sample(df, "doc_id", "stratum", target_docs=400, alpha=0.5)
    kept = out.groupBy("stratum").count().collect()
    by = {r.stratum: r["count"] for r in kept}
    # alpha=0.5: w_big=30, w_small=10 -> q_big=.75, q_small=.25
    # rate_big = 400*.75/900 = 1/3 ; rate_small = 400*.25/100 = 1 (capped)
    assert by["small"] == 100                    # low-resource keeps ALL
    assert 240 <= by["big"] <= 360               # ~300 expected, md5-uniform
    # deterministic: identical second run
    again = temperature_sample(df, "doc_id", "stratum", target_docs=400, alpha=0.5)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_temperature_sample_nested_under_target_increase(spark):
    from id3c_spark.operators.corpus import temperature_sample

    rows = [(i, "a") for i in range(500)] + [(1000 + i, "b") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    small = {r.doc_id for r in temperature_sample(df, "doc_id", "stratum", 100).collect()}
    big = {r.doc_id for r in temperature_sample(df, "doc_id", "stratum", 300).collect()}
    assert small <= big  # raising the target strictly grows the sample


def test_new_operators_handle_empty_and_degenerate_inputs(spark):
    """Empty corpus / absent target slice / single stratum must produce
    empty-or-total results, never crash."""
    from id3c_spark.operators.corpus import temperature_sample
    from id3c_spark.operators.lm import bigram_lm_score, dsir_top_docs
    from id3c_spark.operators.profile import heavy_hitters, profile_table
    from id3c_spark.operators.search import tfidf_keywords

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert bigram_lm_score(empty).count() == 0
    assert tfidf_keywords(empty).count() == 0
    assert dsir_top_docs(empty, F.col("lang") == "en").count() == 0
    assert heavy_hitters(empty, "doc_id").count() == 0

    r = profile_table(empty).collect()[0]
    assert r.n_rows == 0 and r.n_distinct == 0 and r.min_num is None

    # target slice empty -> pure smoothing model, still scores every doc
    one = spark.createDataFrame(
        [(1, "x y", "r")], "doc_id long, text string, lang string"
    )
    assert dsir_top_docs(one, F.col("lang") == "en").count() == 1

    single = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, stratum string")
    assert temperature_sample(single, "doc_id", "stratum", 10).count() == 2
    estr = spark.createDataFrame([], "doc_id long, stratum string")
    assert temperature_sample(estr, "doc_id", "stratum", 10).count() == 0


def test_fused_lm_paths_match_distributed(spark, sf_dir, regime):
    """r16 fused single-task count relations: bigram_lm_score and
    dsir_top_docs must return EXACTLY the distributed pipeline's rows on
    the real documents fixture and on degenerate corpora (empty docs,
    one-word docs, null text, null target flag, repeated words)."""
    from id3c_spark.operators.lm import bigram_lm_score, dsir_top_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with regime(True):
        f = sorted(map(tuple, bigram_lm_score(docs).collect()))
    with regime(False):
        s = sorted(map(tuple, bigram_lm_score(docs).collect()))
    assert f == s and f

    is_t = F.col("lang") == "en"
    with regime(True):
        fd = sorted(map(tuple, dsir_top_docs(docs, is_t).collect()))
    with regime(False):
        sd = sorted(map(tuple, dsir_top_docs(docs, is_t).collect()))
    assert fd == sd and fd

    rows = [
        (1, "the cat sat on the mat the cat", "en"),
        (2, "", "de"),
        (3, "word", None),
        (4, None, "en"),
        (5, "aaa aaa aaa aaa bbb", "de"),
        (6, "the cat sat on a hat", "en"),
    ]
    tiny = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with regime(True):
        f = sorted(map(tuple, bigram_lm_score(tiny).collect()))
    with regime(False):
        s = sorted(map(tuple, bigram_lm_score(tiny).collect()))
    assert f == s and f
    is_t = F.col("lang") == "en"   # null lang → null flag → non-target
    with regime(True):
        fd = sorted(map(tuple, dsir_top_docs(tiny, is_t, k=10).collect()))
    with regime(False):
        sd = sorted(map(tuple, dsir_top_docs(tiny, is_t, k=10).collect()))
    assert fd == sd and fd
