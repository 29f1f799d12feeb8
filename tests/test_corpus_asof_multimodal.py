"""Unit tests: as-of join semantics, corpus curation operators, and the
real WAV/BMP decode kernels (catalog-level oracle checks for the same
operators live in test_queries.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from id3c_spark import multimodal
from id3c_spark.operators import corpus
from id3c_spark.operators.asof import asof_join


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def _trades_quotes(spark):
    trades = spark.createDataFrame(
        [(1, 10, "t1"), (1, 20, "t2"), (2, 15, "t3"), (3, 5, "t4")],
        "key int, ts int, trade string",
    )
    quotes = spark.createDataFrame(
        [(1, 5, 100, 1.0), (1, 20, 101, 2.0), (1, 20, 102, 3.0),
         (2, 14, 103, 4.0), (2, 16, 104, 5.0)],
        "key int, ts int, qid int, px double",
    )
    return trades, quotes


def test_asof_join_latest_at_or_before(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="key", left_ts="ts", right_ts="ts",
                    right_seq="qid", payload=["qid", "px"])
    got = {r.trade: (r.r_qid, r.r_px) for r in out.collect()}
    assert got["t1"] == (100, 1.0)          # only the ts=5 quote precedes
    assert got["t2"] == (102, 3.0)          # equal-ts visible; tie → max qid
    assert got["t3"] == (103, 4.0)          # ts=16 quote is in the future
    assert got["t4"] == (None, None)        # no quote for key 3 at all


def test_asof_join_strict_excludes_equal_ts(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="key", right_seq="qid",
                    payload=["qid"], strict=True)
    got = {r.trade: r.r_qid for r in out.collect()}
    assert got["t2"] == 100                 # ts=20 quotes no longer visible


def test_asof_join_row_count_preserved(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="key", right_seq="qid", payload=["qid"])
    assert out.count() == trades.count()


# ---------------------------------------------------------------------------
# corpus curation
# ---------------------------------------------------------------------------

def test_repetition_metrics_flags_degenerate_doc(spark):
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "the quick brown fox jumps over a lazy dog tonight")],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in corpus.repetition_metrics(docs, "doc_id", "text").collect()}
    spammy, clean = rows[1], rows[2]
    assert spammy.n_words == 8
    assert spammy.top_word_frac == 1.0
    assert spammy.dup_bigram_frac == 1.0 - 1.0 / 7.0 or abs(spammy.dup_bigram_frac - (1 - 1 / 7)) < 1e-6
    assert not spammy.keep
    assert clean.distinct_ratio == 1.0
    assert clean.dup_bigram_frac == 0.0
    assert clean.keep


def test_repetition_metrics_words_relation_parity(spark):
    """The words= fast path (shared tokenize relation; lead-window
    bigrams) returns EXACTLY the default path's rows — including the
    one-word-doc edge where the bigram relation has no row (left join
    must zero-fill, matching the empty shingle array)."""
    from id3c_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),
         (2, "the quick brown fox jumps over a lazy dog tonight"),
         (3, "single"),
         (4, "a b a b a b c"),
         (5, "... 123 ...")],  # zero alpha words: absent from BOTH paths
        "doc_id long, text string",
    )
    base = sorted(
        map(tuple, corpus.repetition_metrics(docs, "doc_id", "text").collect())
    )
    words = (
        dedup.words_relation(docs, "doc_id", "text")
        .repartition("id")
        .sortWithinPartitions("id", "pos")
    )
    fast = sorted(
        map(
            tuple,
            corpus.repetition_metrics(
                docs, "doc_id", "text", words=words
            ).collect(),
        )
    )
    assert fast == base
    assert len(fast) == 4  # doc 5 tokenizes to nothing


def test_decontaminate_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "noise words then alpha beta gamma delta epsilon appears here"),
         (2, "completely unrelated text with no shared five gram at all")],
        "doc_id long, text string",
    )
    out = corpus.decontaminate(docs, bench, "doc_id", "text", k=5).collect()
    assert {(r.id, r.n_hits) for r in out} == {(1, 1)}


def test_stratified_sample_deterministic_and_nested(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo = corpus.stratified_sample(docs, "doc_id", "source", {}, default_rate=0.25)
    hi = corpus.stratified_sample(docs, "doc_id", "source", {}, default_rate=0.5)
    lo_ids = {r.doc_id for r in lo.select("doc_id").collect()}
    hi_ids = {r.doc_id for r in hi.select("doc_id").collect()}
    assert lo_ids == {r.doc_id for r in lo.select("doc_id").collect()}  # rerun-stable
    assert lo_ids <= hi_ids                                             # nested samples
    n = docs.count()
    assert 0.1 * n < len(lo_ids) < 0.4 * n                              # ~rate


def test_chunk_documents_overlap(spark):
    ws = "aa bb cc dd ee ff gg hh ii jj kk ll".split()
    df = spark.createDataFrame(
        [(1, " ".join(ws)), (2, "tiny doc")], "doc_id long, text string"
    )
    rows = {
        (r.id, r.chunk): r
        for r in corpus.chunk_documents(df, "doc_id", "text", size=5, stride=3).collect()
    }
    # doc 1: 12 words, size 5 stride 3 → chunks at 0,3,6,9 (last partial)
    assert {c for i, c in rows if i == 1} == {0, 1, 2, 3}
    assert rows[(1, 0)].text_chunk == "aa bb cc dd ee"
    assert rows[(1, 1)].text_chunk == "dd ee ff gg hh"      # 2-word overlap
    assert rows[(1, 3)].text_chunk == "jj kk ll"            # partial tail
    # doc 2: shorter than one window → single partial chunk 0
    assert rows[(2, 0)].text_chunk == "tiny doc" and rows[(2, 0)].n_words == 2


def test_quality_classifier_scores(spark):
    from id3c_spark.operators.classifier import quality_scores

    df = spark.createDataFrame(
        [(1, "some plain words here"), (2, ""), (3, "some plain words here")],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in quality_scores(df, "doc_id", "text").collect()}
    assert rows[2].n_tokens == 0 and rows[2].score == 0.5   # empty prior
    assert rows[1].score == rows[3].score                   # pure fn of text
    assert 0.0 < rows[1].score < 1.0
    assert rows[1].keep == (rows[1].score >= 0.5)


def test_budget_sample_nested_and_capped(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo = corpus.budget_sample(docs, "doc_id", "lang", "n_chars", {"en": 1500})
    hi = corpus.budget_sample(docs, "doc_id", "lang", "n_chars", {"en": 4000})
    lo_rows = lo.collect()
    assert all(r.lang == "en" for r in lo_rows)          # budget only for en
    assert sum(r.n_chars for r in lo_rows) <= 1500       # within budget
    lo_ids = {r.doc_id for r in lo_rows}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids and lo_ids <= hi_ids                   # nested samples
    assert lo_ids == {r.doc_id for r in lo.collect()}    # rerun-stable


def test_budget_sample_twopass_skewed_stratum(spark):
    # one dominant stratum (the case that serializes the windowed variant)
    rows = [(i, "big", 100) for i in range(2000)] + [(9000 + i, "tiny", 10) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = corpus.budget_sample_twopass(
        df, "doc_id", "lang", "n_chars", {"big": 50_000, "tiny": 1_000_000}
    )
    got = out.collect()
    # tiny stratum's budget covers it fully → kept whole
    assert sum(1 for r in got if r.lang == "tiny") == 20
    # big stratum: captured mass ≈ budget (uniform-priority estimate);
    # 2000 equal-sized docs → relative error well under 10%
    mass = sum(r.n_chars for r in got if r.lang == "big")
    assert 0.9 * 50_000 <= mass <= 1.1 * 50_000
    # deterministic + nested like the exact variant
    ids = {r.doc_id for r in got}
    assert ids == {r.doc_id for r in out.collect()}
    bigger = corpus.budget_sample_twopass(
        df, "doc_id", "lang", "n_chars", {"big": 100_000, "tiny": 1_000_000}
    )
    assert ids <= {r.doc_id for r in bigger.collect()}
    # un-budgeted strata are dropped, matching budget_sample
    assert {r.lang for r in got} == {"big", "tiny"}

    # the selection itself is shuffle-free: no Exchange in the filter plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_interleave_strata_round_robin(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 6 else "b") for i in range(10)], "id long, src string"
    )
    out = corpus.interleave_strata(df, "id", "src").collect()
    assert len({r.position for r in out}) == 10          # positions unique
    by_pos = sorted(out, key=lambda r: r.position)
    # while both strata have docs left, the order alternates a,b,a,b...
    assert [r.src for r in by_pos[:8]] == ["a", "b"] * 4
    # 'a' has 6 docs vs 'b' 4: the tail is all 'a', at sparse positions
    assert [r.src for r in by_pos[8:]] == ["a", "a"]


def test_stratified_sample_rate_zero_and_one(spark):
    df = spark.createDataFrame([(i, "s") for i in range(50)], "id long, src string")
    assert corpus.stratified_sample(df, "id", "src", {"s": 1.0}).count() == 50
    assert corpus.stratified_sample(df, "id", "src", {"s": 0.0}).count() == 0


def test_bpe_learns_frequent_words_as_single_tokens(spark):
    from id3c_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, "hello world " * 5) for i in range(10)] + [(99, "rare words here")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, "text", num_merges=20)
    assert merges == bpe.train_bpe(docs, "text", num_merges=20)  # deterministic
    ranks = {m: i for i, m in enumerate(merges)}
    assert bpe.encode_word("hello", ranks) == ["hello" + bpe.END]
    assert bpe.encode_word("world", ranks) == ["world" + bpe.END]
    # unseen word falls back to smaller units but round-trips
    toks = bpe.encode_word("helloworld", ranks)
    assert "".join(toks) == "helloworld" + bpe.END


def test_bpe_vocab_cap_bounds_driver_table(spark):
    from id3c_spark.operators import bpe

    # raw vocab is 5 distinct words with distinct frequencies; a cap of 2
    # must train exactly as if only the top-2 words existed
    docs = spark.createDataFrame(
        [(1, "aaa " * 9 + "bbb " * 7 + "ccc " * 5 + "ddd " * 3 + "eee")],
        "doc_id long, text string",
    )
    capped = bpe.train_bpe(docs, "text", num_merges=10, max_vocab=2)
    top2 = spark.createDataFrame([(1, "aaa " * 9 + "bbb " * 7)], "doc_id long, text string")
    assert capped == bpe.train_bpe(top2, "text", num_merges=10, max_vocab=None)

    # min_count floors hapax words out of training
    floored = bpe.train_bpe(docs, "text", num_merges=10, min_count=2)
    no_eee = spark.createDataFrame(
        [(1, "aaa " * 9 + "bbb " * 7 + "ccc " * 5 + "ddd " * 3)],
        "doc_id long, text string",
    )
    assert floored == bpe.train_bpe(no_eee, "text", num_merges=10)

    # the truncation plan is a TakeOrdered (bounded driver rows), not a
    # global sort + collect
    from id3c_spark.operators.bpe import word_frequencies
    from pyspark.sql import functions as F

    plan = (
        word_frequencies(docs, "text")
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bpe_tokenize_matches_driver_side(spark):
    from id3c_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, "text", num_merges=30)
    ranks = {m: i for i, m in enumerate(merges)}
    out = {r.id: r for r in bpe.tokenize(docs, "doc_id", "text", merges).collect()}
    expect1 = [t for w in ["the", "cat", "ran"] for t in bpe.encode_word(w, ranks)]
    assert list(out[2].tokens) == expect1
    assert out[2].n_tokens == len(expect1)
    assert out[1].n_tokens == len(list(out[1].tokens))


def test_pack_sequences_respects_budget(spark):
    rows = [(i, 300 + (i * 97) % 900) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = corpus.pack_sequences(df, "doc_id", "n_tokens", budget=2000, n_buckets=4).toPandas()
    assert len(out) == 200 and out["id"].nunique() == 200
    per_bin = out.groupby("bin")["bin_fill"].max()
    assert (per_bin <= 2000).all()
    # deterministic across reruns
    again = corpus.pack_sequences(df, "doc_id", "n_tokens", budget=2000, n_buckets=4).toPandas()
    assert out.sort_values("id").reset_index(drop=True).equals(
        again.sort_values("id").reset_index(drop=True)
    )


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(1, 50), (2, 5000), (3, 60)], "doc_id long, n_tokens long"
    )
    out = corpus.pack_sequences(df, "doc_id", "n_tokens", budget=100, n_buckets=1).toPandas()
    big = out[out["id"] == 2].iloc[0]
    others = out[out["id"] != 2]
    assert big["pos_in_bin"] == 0                  # oversize opens its own bin
    assert not (others["bin"] == big["bin"]).any() or (others["pos_in_bin"] > 0).all()


def test_shuffle_shards_contiguous_positions(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.shuffle_shards(docs, "doc_id", n_shards=4).toPandas()
    assert len(out) == docs.count()
    for shard, grp in out.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))


def test_curation_pipeline_end_to_end(spark):
    from id3c_spark.plans.curation import curate

    good = "the quick brown fox jumps over a lazy dog near the quiet river tonight"
    rows = [
        (1, "spam " * 30, "src1"),                       # repetition-filtered
        (2, good, "src1"),                               # survives
        (3, good, "src1"),                               # exact dup of 2 → dropped
        (4, good + " extra tail words", "src1"),         # near-dup of 2 → dropped
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src2"),  # contaminated
        (6, "completely different clean content about mountains and weather patterns today", "src2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    out = curate(docs, bench, jaccard_threshold=0.5, token_budget=64, n_shards=2)
    assert {r.doc_id for r in out["quality"].collect()} == {2, 3, 4, 5, 6}
    assert {r.doc_id for r in out["clean"].collect()} == {2, 3, 4, 6}
    assert {r.doc_id for r in out["exact"].collect()} == {2, 4, 6}
    assert {r.doc_id for r in out["unique"].collect()} == {2, 6}
    sampled = {r.doc_id for r in out["sampled"].collect()}
    assert sampled == {2, 6}                              # default_rate=1.0
    packed = out["packed"].toPandas()
    assert sorted(packed["id"]) == [2, 6]
    assert (packed["bin_fill"] <= 64).all()
    shards = out["shards"].toPandas()
    assert sorted(shards["id"]) == [2, 6]


def test_curate_sampled_exact_fused_parity(spark, regime):
    """r16 fused curation composition: the single-task mirror of
    quality → decontaminate → exact dedup → near-dup components →
    keep-canonical → stratified sample must return EXACTLY the staged
    curate() rows — including repetition-gated docs, contaminated docs,
    exact/near dup clusters, empty and single-word texts, null source,
    and per-stratum sampling."""
    from id3c_spark.plans.curation import curate_sampled_exact

    good = "the quick brown fox jumps over a lazy dog near the quiet river tonight"
    rows = [
        (1, "spam " * 30, "src1"),                       # repetition-filtered
        (2, good, "src1"),                               # survives
        (3, good, "src1"),                               # exact dup of 2
        (4, good + " extra tail words", "src1"),         # near-dup of 2
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "src2"),
        (6, "completely different clean content about mountains and weather patterns today", "src2"),
        (7, "", "src2"),                                 # empty text → no words
        (8, "word", None),                               # 1 word, null source
        (9, good + " extra tail words", "src3"),         # exact dup of 4
        (10, "unique nine token document covering oceans rivers lakes and streams", "src9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    # three configs cover: no-rates/keep-all at a low threshold, the
    # catalog query's rate map at 0.8, and a zero default rate — the
    # full 6-config matrix ran 65 s and added no distinct code path
    for rates, default, thr in (
        ({}, 1.0, 0.5),
        ({"src1": 0.5, "src2": 0.25}, 0.0625, 0.8),
        ({"src1": 1.0}, 0.0, 0.8),
    ):
        with regime(True):
            fused = curate_sampled_exact(
                docs, bench, sample_rates=rates, default_rate=default,
                jaccard_threshold=thr,
            )
        with regime(False):
            staged = curate_sampled_exact(
                docs, bench, sample_rates=rates, default_rate=default,
                jaccard_threshold=thr,
            )
        f = sorted((r.doc_id, r.source) for r in
                   fused.select("doc_id", "source").collect())
        s = sorted((r.doc_id, r.source) for r in
                   staged.select("doc_id", "source").collect())
        assert f == s, (rates, default, thr, f, s)


def test_curate_sampled_exact_fused_parity_sf(spark, sf_dir, regime):
    """Fused vs staged curation on the real documents fixture (the
    catalog query's exact configuration, both doc_id%97 splits)."""
    from id3c_spark.plans.curation import curate_sampled_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    kw = dict(
        sample_rates={"src1": 0.5, "src2": 0.25, "src3": 0.125},
        default_rate=0.0625, jaccard_threshold=0.8, k=3, max_df=200,
    )
    with regime(True):
        f = sorted((r.doc_id, r.source) for r in
                   curate_sampled_exact(rest, bench, **kw)
                   .select("doc_id", "source").collect())
    with regime(False):
        s = sorted((r.doc_id, r.source) for r in
                   curate_sampled_exact(rest, bench, **kw)
                   .select("doc_id", "source").collect())
    assert f == s and f


# ---------------------------------------------------------------------------
# WAV / BMP kernels
# ---------------------------------------------------------------------------

def test_wav_decode_sine_rms_and_zcr():
    sr = 8000
    n = sr  # 1 second
    samples = [0.5 * math.sin(2 * math.pi * 440 * i / sr) for i in range(n)]
    wav = multimodal.encode_wav(samples, sample_rate=sr)
    got = multimodal.decode_wav(wav)
    assert got["sample_rate"] == sr
    assert got["channels"] == 1
    assert got["n_samples"] == n
    assert got["duration_ms"] == 1000
    assert abs(got["rms"] - 0.5 / math.sqrt(2)) < 1e-3
    # a 440 Hz tone crosses zero 880 times/s → rate ≈ 880/8000
    assert abs(got["zero_crossing_rate"] - 880 / sr) < 0.01


def test_wav_decode_silence():
    wav = multimodal.encode_wav([0.0] * 100, sample_rate=1000)
    got = multimodal.decode_wav(wav)
    assert got["rms"] == 0.0
    assert got["zero_crossing_rate"] == 0.0
    assert got["duration_ms"] == 100


def test_bmp_roundtrip_via_image_features():
    # 2x2 24-bit BMP, all channels = 10
    bmp = multimodal.encode_bmp(2, 2, bytes([10] * 12))
    got = multimodal.decode_bmp(bmp)
    assert (got["width"], got["height"]) == (2, 2)
    assert got["mean"] == 10.0


def test_audio_and_bmp_features_through_spark(spark):
    wav = multimodal.encode_wav([0.25, -0.25] * 200, sample_rate=400)
    bmp = multimodal.encode_bmp(3, 1, bytes([0, 0, 0, 90, 90, 90, 180, 180, 180]))
    media = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(wav), (None, None, None)),
         (2, "image", "image/bmp", bytearray(bmp), (None, None, None)),
         (3, "audio", "audio/mpeg", bytearray(b"ID3\x04not-a-wav"), (None, None, None))],
        multimodal.MEDIA_SCHEMA,
    )
    audio = {r.media_id: r for r in multimodal.extract_audio_features(media).collect()}
    assert audio[1].sample_rate == 400
    assert audio[1].n_samples == 400
    assert abs(audio[1].rms - 0.25) < 1e-3
    assert audio[1].zero_crossing_rate > 0.9      # alternating signs
    assert audio[3].rms is None                   # honest stub boundary for mp3
    image = {r.media_id: r for r in multimodal.extract_image_features(media).collect()}
    assert (image[2].width, image[2].height) == (3, 1)
    assert abs(image[2].mean_byte - 90.0) < 1e-9
    assert 3 not in image                         # only image rows decode


def test_jpeg_and_gif_header_dimensions():
    import struct

    # minimal JPEG: SOI + APP0 + SOF0(640x480, 3 components) + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 480, 640) \
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert multimodal.jpeg_dimensions(jpeg) == (640, 480)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert multimodal.gif_dimensions(gif) == (320, 200)
    assert multimodal.jpeg_dimensions(gif) is None
    assert multimodal.gif_dimensions(jpeg) is None

    feats = multimodal._decode_image(jpeg)
    assert (feats["width"], feats["height"]) == (640, 480)
    feats = multimodal._decode_image(gif)
    assert (feats["width"], feats["height"]) == (320, 200)


def test_mp3_frame_header_parse():
    # MPEG1 Layer III, 128 kbps, 44100 Hz, stereo; 4000 bytes of stream
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 3996
    info = multimodal.mp3_frame_info(frame)
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["bitrate_kbps"] == 128
    assert info["duration_ms"] == 4000 * 8 * 1000 // 128000

    # ID3v2-tagged stream: 10-byte header + 100-byte tag, then the frame
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x64" + b"\x00" * 100 + frame
    info2 = multimodal.mp3_frame_info(tagged)
    assert info2 is not None and info2["sample_rate"] == 44100
    assert info2["duration_ms"] == info["duration_ms"]

    assert multimodal.mp3_frame_info(b"not audio at all") is None


def test_mp3_metadata_through_spark(spark):
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 3996
    media = spark.createDataFrame(
        [(1, "audio", "audio/mpeg", bytearray(frame), (None, None, None))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_audio_features(media).collect()[0]
    assert row.sample_rate == 44100 and row.channels == 2
    assert row.duration_ms == 250
    assert row.rms is None                        # sample decode needs a codec


def test_priority_sample_weight_bias_and_determinism(spark):
    from id3c_spark.operators.corpus import priority_sample

    # 200 light docs (w=10) vs 200 heavy docs (w=1000): heavy docs must
    # dominate the weighted sample
    rows = [(i, 10) for i in range(200)] + [(i, 1000) for i in range(200, 400)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [r["doc_id"] for r in priority_sample(df, "w", "doc_id", 50).collect()]
    assert len(got) == 50
    heavy = sum(1 for i in got if i >= 200)
    assert heavy >= 40  # ~99% expected; md5 determinism makes this stable
    # deterministic replay
    again = [r["doc_id"] for r in priority_sample(df, "w", "doc_id", 50).collect()]
    assert got == again
    # plans as TakeOrdered, not a global sort
    plan = priority_sample(df, "w", "doc_id", 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
