"""Perceptual image hashing (aHash) + banded hamming pair join."""

from __future__ import annotations

import numpy as np

from id3c_spark import multimodal


def _gradient_png(w=32, h=32, noise=None, seed=0, invert=False):
    """RGB gradient test image, optionally noised/inverted."""
    rng = np.random.default_rng(seed)
    x = np.linspace(0, 255, w)
    img = np.tile(x, (h, 1))
    if invert:
        img = 255 - img
    if noise:
        img = np.clip(img + rng.normal(scale=noise, size=img.shape), 0, 255)
    rgb = np.repeat(img[:, :, None], 3, axis=2).astype(np.uint8)
    return multimodal.encode_png(w, h, 3, rgb.tobytes())


def _media(spark, rows):
    return spark.createDataFrame(
        [(i, "image", "image/png", bytearray(c), (None, None, None)) for i, c in rows],
        multimodal.MEDIA_SCHEMA,
    )


def test_phash_identical_and_noised_and_inverted(spark):
    a = _gradient_png()
    b = _gradient_png(noise=6.0, seed=1)
    c = _gradient_png(invert=True)
    df = _media(spark, [(1, a), (2, a), (3, b), (4, c)])
    ph = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df).collect()}
    assert ph[1] == ph[2]                                     # identical bytes
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert ham(ph[1], ph[3]) <= 6                             # mild noise → close
    assert ham(ph[1], ph[4]) >= 40                            # inverted → far


def test_phash_invariant_across_png_and_bmp_encoding(spark):
    rng = np.random.default_rng(3)
    pix = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    png = multimodal.encode_png(16, 16, 3, pix.tobytes())
    # BMP rows are stored bottom-up → feed them flipped so the decoded
    # picture matches; channel order (BGR vs RGB) is mean-invariant
    bmp = multimodal.encode_bmp(16, 16, pix[::-1].tobytes())
    df = _media(spark, [(1, png), (2, bmp)])
    ph = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df).collect()}
    assert ph[1] == ph[2]


def _bmp8(w, h, idx_rows, palette):
    """Minimal 8-bit palettized BMP: 14-byte file header + 40-byte info
    header + 256×4 BGRA color table + bottom-up index rows."""
    import struct

    pal = bytearray()
    for i in range(256):
        b, g, r = palette[i] if i < len(palette) else (0, 0, 0)
        pal += bytes([b, g, r, 0])
    stride = (w + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += bytes(idx_rows[y]) + b"\x00" * (stride - w)
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(body), 0, 0, 256, 0)
    return bytes(hdr + info + pal + body)


def test_phash_8bit_bmp_maps_palette_not_indices(spark):
    # non-identity palette: index i renders as gray 255 - i. Treating the
    # index as the intensity (the pre-fix behavior) would produce the
    # INVERTED picture's hash; mapping through the palette must match the
    # 24-bit encoding of the same picture.
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    gray = (255 - idx).astype(np.uint8)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    bmp24 = multimodal.encode_bmp(16, 16, rgb[::-1].tobytes())
    bmp8 = _bmp8(16, 16, idx.tolist(), [(255 - i,) * 3 for i in range(256)])
    df = _media(spark, [(1, bmp24), (2, bmp8)])
    ph = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df).collect()}
    assert ph[1] is not None
    assert ph[1] == ph[2]


def test_phash_8bit_bmp_truncated_palette_is_null(spark):
    good = _bmp8(4, 4, [[0] * 4] * 4, [(0, 0, 0)] * 256)
    truncated = good[: 14 + 40 + 100]  # cuts inside the color table
    df = _media(spark, [(1, truncated)])
    assert multimodal.image_phash(df).collect()[0]["phash"] is None


def test_phash_null_for_header_only_formats(spark):
    jpeg_ish = bytes.fromhex("ffd8ffe000104a46494600") + b"\x00" * 32
    df = _media(spark, [(1, jpeg_ish)])
    rows = multimodal.image_phash(df).collect()
    assert rows[0]["phash"] is None


def test_phash_pairs_complete_vs_bruteforce(spark):
    rows = [(1, _gradient_png()), (2, _gradient_png(noise=6.0, seed=5))]
    rows += [(3, _gradient_png(invert=True))]
    rows += [(i, _gradient_png(noise=3.0, seed=i)) for i in range(4, 10)]
    df = _media(spark, rows)
    ph = {r["media_id"]: r["phash"] for r in multimodal.image_phash(df).collect()}
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    brute = {
        (a, b): ham(ph[a], ph[b])
        for a in ph
        for b in ph
        if a < b and ham(ph[a], ph[b]) <= 7
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_phash_pairs(df, bands=8, max_hamming=7).collect()
    }
    assert got == brute
    assert brute, "fixture must produce close pairs"


def _wav_media(spark, rows):
    return spark.createDataFrame(
        [(i, "audio", "audio/wav", bytearray(c), (None, None, None)) for i, c in rows],
        multimodal.MEDIA_SCHEMA,
    )


def _tone(freq=220.0, n=4000, rate=8000, amp=0.4, noise=0.0, seed=0):
    """Harmonic-rich test clip with a rising envelope: spectral band
    deltas are then signal-driven (a pure sine leaves most bands at
    ~zero energy, where delta signs are noise — useless for a
    robustness fixture)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n) / rate
    x = sum((amp / k) * np.sin(2 * np.pi * freq * k * t) for k in range(1, 7))
    x = x * (0.5 + 0.5 * np.linspace(0, 1, n))
    if noise:
        x = x + rng.normal(scale=noise, size=n)
    return multimodal.encode_wav(np.clip(x, -1, 1).tolist(), sample_rate=rate)


def test_audio_fingerprint_amplitude_invariant_and_discriminative(spark):
    a = _tone(amp=0.4)
    half = _tone(amp=0.2)                     # same content, half volume
    noisy = _tone(amp=0.4, noise=0.002, seed=3)
    other = _tone(freq=317.0)
    df = _wav_media(spark, [(1, a), (2, half), (3, noisy), (4, other)])
    fp = {r["media_id"]: r["afp"] for r in multimodal.audio_fingerprint(df).collect()}
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    assert fp[1] == fp[2]                     # scaling never flips a sign
    assert ham(fp[1], fp[3]) <= 7             # light noise stays close
    assert ham(fp[1], fp[4]) >= 15            # different tone is far


def test_audio_fingerprint_stub_boundary(spark):
    df = _wav_media(spark, [(1, b"ID3\x04not-a-wav")])
    assert multimodal.audio_fingerprint(df).collect()[0]["afp"] is None


def test_audio_fingerprint_pairs_complete(spark):
    rows = [(1, _tone()), (2, _tone(noise=0.002, seed=9)), (3, _tone(freq=317.0))]
    df = _wav_media(spark, rows)
    fp = {r["media_id"]: r["afp"] for r in multimodal.audio_fingerprint(df).collect()}
    ham = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")
    brute = {
        (a, b): ham(fp[a], fp[b]) for a in fp for b in fp
        if a < b and ham(fp[a], fp[b]) <= 7
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.audio_fingerprint_pairs(df).collect()
    }
    assert got == brute
    assert brute, "fixture must produce a close pair"


def test_streaming_image_dedup_catches_reencoded_duplicate(spark, tmp_path):
    """A PNG and its BMP re-encode (different bytes, same picture) arrive
    in the stream; perceptual dedup emits only the first."""
    import datetime

    rng = np.random.default_rng(21)
    pix = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    png = multimodal.encode_png(16, 16, 3, pix.tobytes())
    bmp = multimodal.encode_bmp(16, 16, pix[::-1].tobytes())
    other = _gradient_png()
    t0 = datetime.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [
            (1, "image", "image/png", bytearray(png), t0),
            (2, "image", "image/bmp", bytearray(bmp), t0 + datetime.timedelta(minutes=1)),
            (3, "image", "image/png", bytearray(other), t0 + datetime.timedelta(minutes=2)),
            (4, "audio", "audio/wav", bytearray(b"RIFFxxxx"), t0),
        ],
        "media_id long, kind string, mime string, content binary, ts timestamp",
    )
    src_dir = str(tmp_path / "media")
    src.write.parquet(src_dir)
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(src.schema).parquet(src_dir)
    q = (
        multimodal.streaming_image_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    ids = sorted(r["media_id"] for r in rows)
    # one of {1, 2} survives plus the distinct image 3; audio row ignored
    assert len(ids) == 2 and 3 in ids and (1 in ids) != (2 in ids)


def test_phash_injectable_jpeg_decoder(spark):
    """r10-VERDICT #7: a registered pixel decoder gives JPEG a real pixel
    aHash through the Spark stage (registry snapshot reaches executor
    workers via the pickled closure — the decoder is a nested function,
    serialized BY VALUE, exactly what a PIL-backed hook would be);
    unregistered formats keep the honest NULL stub; deregistering
    restores the stub."""

    def _stub_jpeg_decode(content: bytes):
        # deterministic fake decode: pixels derived from the byte payload
        # (a real decoder would parse the JPEG; the Spark-side plumbing —
        # registry snapshot, closure pickling, gray conversion — is what
        # this test pins)
        h = w = 16
        seed = sum(content) % 251
        base = np.arange(h * w, dtype=np.float64).reshape(h, w)
        return (base + seed) % 256.0

    jpeg_ish = bytes.fromhex("ffd8ffe000104a46494600") + b"\x00" * 32
    gif_ish = b"GIF89a" + bytes(24)
    df = _media(spark, [(1, jpeg_ish), (2, gif_ish)])

    multimodal.register_pixel_decoder("jpeg", _stub_jpeg_decode)
    try:
        got = {r["media_id"]: r["phash"]
               for r in multimodal.image_phash(df).collect()}
        expected = multimodal._ahash(_stub_jpeg_decode(jpeg_ish), 8)
        assert got[1] == expected       # decoded through the injected hook
        assert got[2] is None           # gif stays at the stub boundary
    finally:
        del multimodal._PIXEL_DECODERS["jpeg"]

    rows = {r["media_id"]: r["phash"]
            for r in multimodal.image_phash(df).collect()}
    assert rows[1] is None              # honest stub restored


# ---------------------------------------------------------------------------
# video: native AVI rawvideo decode, injectable codec hook, temporal
# signature, banded near-dup pairs (r12 — mirrors the image decoder design)
# ---------------------------------------------------------------------------


def _video_media(spark, rows):
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("content", BinaryType()),
    ])
    return spark.createDataFrame(
        [(i, "video", c) for i, c in rows], schema
    )


def _gray_frames_avi(seed, n_frames=3, w=16, h=16, bump=None):
    """Deterministic AVI whose decoded frames are integer gradients;
    *bump* perturbs a single pixel per frame (near-dup fixture)."""
    from id3c_spark.multimodal import encode_avi

    frames = []
    for f in range(n_frames):
        px = bytearray()
        for y in reversed(range(h)):          # bottom-up DIB rows
            for x in range(w):
                v = (seed * 31 + f * 11 + y * 5 + x * 3) % 200
                if bump is not None and (y, x) == bump:
                    v = (v + 90) % 256
                px += bytes((v, v, v))
        frames.append(bytes(px))
    return encode_avi(w, h, frames)


def test_avi_roundtrip_decode_exact():
    import numpy as np

    from id3c_spark.multimodal import decode_avi_frames, encode_avi

    w, h = 8, 6
    frames = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in reversed(range(h)) for x in range(w)
                        for _ in range(3)))
        for f in range(3)
    ]
    dec = decode_avi_frames(encode_avi(w, h, frames))
    assert len(dec) == 3 and dec[0].shape == (h, w)
    for f, gray in enumerate(dec):
        want = np.array([[(f * 13 + y * 5 + x * 3) % 256 for x in range(w)]
                         for y in range(h)], dtype=float)
        assert np.array_equal(gray, want)


def test_video_frame_phashes_neardup_and_stub_boundary(spark):
    from id3c_spark.multimodal import video_frame_phashes

    a = _gray_frames_avi(1)
    dup = _gray_frames_avi(1, bump=(3, 3))   # one perturbed pixel
    other = _gray_frames_avi(9)
    mp4_stub = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    df = _video_media(spark, [(1, a), (2, dup), (3, other), (4, mp4_stub)])
    rows = video_frame_phashes(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, {})[r.frame_idx] = r.phash
    assert set(by_id) == {1, 2, 3}           # stub mp4 yields NO rows
    assert len(by_id[1]) == 3
    ham12 = sum(bin((by_id[1][i] ^ by_id[2][i]) & (2**64 - 1)).count("1")
                for i in range(3))
    ham13 = sum(bin((by_id[1][i] ^ by_id[3][i]) & (2**64 - 1)).count("1")
                for i in range(3))
    assert ham12 < ham13                      # perturbed twin is closer


def test_video_decoder_hook_injects_mp4_support(spark):
    """register_video_decoder: an environment with a real codec library
    installs a decoder and the SAME pipeline produces frame hashes for
    mp4 — no code changes (the video mirror of
    test_phash_injectable_jpeg_decoder). The fake decoder stands in for
    PyAV/imageio."""
    import numpy as np

    from id3c_spark import multimodal as mm

    def fake_mp4_decoder(content: bytes):
        # deterministic 2-frame gradient "decode"
        return [
            np.array([[(f * 7 + y * 5 + x * 3) % 199 for x in range(16)]
                      for y in range(16)], dtype=float)
            for f in range(2)
        ]

    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    df = _video_media(spark, [(1, mp4)])
    try:
        assert mm.video_frame_phashes(df).count() == 0   # stub first
        mm.register_video_decoder("mp4", fake_mp4_decoder)
        rows = mm.video_frame_phashes(df).collect()
        assert {r.frame_idx for r in rows} == {0, 1}
        assert all(r.phash is not None for r in rows)
    finally:
        mm._VIDEO_DECODERS.pop("mp4", None)


def test_video_signature_majority_and_pairs_complete(spark):
    """The temporal signature is the per-bit frame majority, and the
    banded pair join is complete vs brute force over signatures."""
    from id3c_spark import multimodal as mm

    rows = [(i, _gray_frames_avi(i // 3, bump=(i % 3, i % 3) if i % 3 else None))
            for i in range(12)]
    df = _video_media(spark, rows)
    sigs = {r.media_id: r.signature for r in mm.video_signature(df).collect()}
    assert len(sigs) == 12

    # majority replay from the frame hashes
    ph = mm.video_frame_phashes(df).collect()
    by_id = {}
    for r in ph:
        by_id.setdefault(r.media_id, []).append(r.phash)
    for mid, hs in by_id.items():
        want = 0
        for i in range(64):
            ones = sum((h >> i) & 1 for h in hs)
            if 2 * ones >= len(hs):
                want |= 1 << i
        if want >= 1 << 63:
            want -= 1 << 64
        assert sigs[mid] == want, mid

    got = {(r.id_a, r.id_b) for r in
           mm.video_signature_pairs(df, bands=8, max_hamming=7).collect()}
    brute = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 7:
                brute.add((a, b))
    assert brute and got == brute


def test_avi_edge_cases_stride_padding_and_malformed():
    """Odd widths exercise the 4-byte DIB row alignment; truncated and
    frameless containers return None (stub boundary, never garbage)."""
    import numpy as np

    from id3c_spark.multimodal import decode_avi_frames, encode_avi

    for w, h, nf in ((5, 3, 2), (1, 1, 1), (7, 4, 3)):
        frames = [
            bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                            for y in reversed(range(h)) for x in range(w)
                            for _ in range(3)))
            for f in range(nf)
        ]
        dec = decode_avi_frames(encode_avi(w, h, frames))
        assert len(dec) == nf
        for f in range(nf):
            want = np.array([[(f * 13 + y * 5 + x * 3) % 256
                              for x in range(w)] for y in range(h)], dtype=float)
            assert np.array_equal(dec[f], want), (w, h, f)
    whole = encode_avi(5, 3, [bytes(45)])
    assert decode_avi_frames(whole[:40]) is None          # truncated
    assert decode_avi_frames(encode_avi(5, 3, [])) is None  # no frames


def test_extract_video_features_motion_and_stub(spark):
    from id3c_spark.multimodal import extract_video_features

    static = _gray_frames_avi(1)                    # gradient, moving content
    mp4_stub = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    df = _video_media(spark, [(1, static), (2, mp4_stub)])
    rows = {r.media_id: r for r in extract_video_features(df).collect()}
    assert rows[1].n_frames == 3 and rows[1].width == 16 and rows[1].height == 16
    assert rows[1].mean_frame_delta is not None and rows[1].mean_frame_delta > 0
    assert rows[2].n_frames is None and rows[2].mean_frame_delta is None


def test_video_frame_matches_cross_modal(spark):
    """A still image planted as a video frame is found by the bipartite
    banded join (video decontamination against a benchmark-image set);
    unrelated images match nothing. Complete vs brute force."""
    from pyspark.sql import functions as F

    from id3c_spark import multimodal as mm

    # videos: three clips; clip 1's frame 2 IS image 100's pixels
    def frame_bytes(seed, f, w=16, h=16):
        return bytes(bytearray(
            (seed * 31 + f * 11 + y * 5 + x * 3) % 200
            for y in reversed(range(h)) for x in range(w) for _ in range(3)
        ))

    vids = _video_media(spark, [
        (1, mm.encode_avi(16, 16, [frame_bytes(1, 0), frame_bytes(1, 1),
                                   frame_bytes(77, 0)])),
        (2, mm.encode_avi(16, 16, [frame_bytes(2, f) for f in range(3)])),
    ])
    # images as BMPs with the same pixel layout (bottom-up rows match)
    img_rows = [
        (100, mm.encode_bmp(16, 16, frame_bytes(77, 0))),   # = vid1 frame 2
        (101, mm.encode_bmp(16, 16, frame_bytes(55, 0))),   # unrelated
    ]
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("content", BinaryType()),
    ])
    imgs = spark.createDataFrame(
        [(i, "image", c) for i, c in img_rows], schema
    )
    got = mm.video_frame_matches(vids, imgs, bands=8, max_hamming=7).collect()

    # brute force over the hashes
    fr = {(r.media_id, r.frame_idx): r.phash
          for r in mm.video_frame_phashes(vids).collect()}
    im = {r.media_id: r.phash for r in mm.image_phash(imgs).collect()}
    brute = {
        (v, i, f)
        for (v, f), hv in fr.items()
        for i, hi in im.items()
        if bin((hv ^ hi) & (2**64 - 1)).count("1") <= 7
    }
    assert (1, 100, 2) in brute                  # planted match exists
    assert {(r.media_id, r.image_id, r.frame_idx) for r in got} == brute
    assert all(r.image_id != 101 for r in got)   # unrelated image clean


def test_avi_topdown_negative_height_decodes_unmirrored():
    """ADVICE r12: a negative biHeight means TOP-DOWN row storage — the
    decoder must not apply the bottom-up flip (which silently mirrored
    frames and produced wrong aHashes). A top-down AVI (negative strf
    height, rows stored first-row-first) decodes to the exact same
    matrices as its bottom-up twin."""
    import struct

    import numpy as np

    from id3c_spark.multimodal import decode_avi_frames, encode_avi

    w, h = 8, 6
    # bottom-up fixture (encode_avi's native convention)
    frames_bu = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in reversed(range(h)) for x in range(w)
                        for _ in range(3)))
        for f in range(2)
    ]
    want = decode_avi_frames(encode_avi(w, h, frames_bu))

    # top-down twin: same pixels with rows in natural top-down order,
    # and biHeight patched negative in the strf BITMAPINFOHEADER
    frames_td = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in range(h) for x in range(w)
                        for _ in range(3)))
        for f in range(2)
    ]
    raw = bytearray(encode_avi(w, h, frames_td))
    strf_data = raw.index(b"strf") + 8
    assert struct.unpack_from("<i", raw, strf_data + 8)[0] == h
    struct.pack_into("<i", raw, strf_data + 8, -h)
    got = decode_avi_frames(bytes(raw))

    assert got is not None and len(got) == len(want)
    for g, wv in zip(got, want):
        assert np.array_equal(g, wv)


def test_registered_decoder_bad_frames_hit_stub_boundary(spark):
    """ADVICE r12: a registered decoder returning ragged, non-2D, empty,
    or shape-shifting frames must map to the documented None/no-rows
    boundary instead of crashing the executor task."""
    import numpy as np

    from id3c_spark import multimodal as mm

    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    df = _video_media(spark, [(1, mp4)])

    bad_decoders = {
        "ragged": lambda c: [[[1, 2, 3], [4, 5]]],          # ragged rows
        "one_d": lambda c: [np.arange(16.0)],               # 1-D frame
        "four_d": lambda c: [np.zeros((2, 2, 2, 2))],       # 4-D frame
        "empty": lambda c: [np.zeros((0, 4))],              # zero-height
        "shapeshift": lambda c: [np.zeros((4, 4)), np.zeros((8, 8))],
        "raises": lambda c: (_ for _ in ()).throw(RuntimeError("boom")),
        "text": lambda c: [np.array([["a", "b"]])],         # non-numeric
    }
    for name, fn in bad_decoders.items():
        try:
            mm.register_video_decoder("mp4", fn)
            assert mm.video_frame_phashes(df).count() == 0, name
            feats = mm.extract_video_features(df).collect()
            assert len(feats) == 1 and feats[0].n_frames is None, name
        finally:
            mm._VIDEO_DECODERS.pop("mp4", None)

    # and a GOOD decoder still flows through the same validation path
    def good(content):
        return [np.full((4, 4), float(f)) for f in range(2)]

    try:
        mm.register_video_decoder("mp4", good)
        assert mm.video_frame_phashes(df).count() == 2
    finally:
        mm._VIDEO_DECODERS.pop("mp4", None)


def test_video_library_auto_register():
    """_try_register_video_libs: with a real codec library importable
    the registry lights up automatically (skipped where absent — this
    image ships none); either way the function is a no-op on an
    already-populated registry and never raises."""
    from id3c_spark import multimodal as mm

    have_lib = False
    for lib in ("av", "imageio.v3"):
        try:
            __import__(lib)
            have_lib = True
        except Exception:
            pass

    saved = dict(mm._VIDEO_DECODERS)
    try:
        mm._VIDEO_DECODERS.clear()
        mm._try_register_video_libs()      # must never raise
        if have_lib:
            assert set(mm._VIDEO_DECODERS) >= {"mp4", "webm"}
        else:
            assert mm._VIDEO_DECODERS == {}
        # setdefault semantics: an explicit registration wins
        sentinel = lambda c: None  # noqa: E731
        mm._VIDEO_DECODERS["mp4"] = sentinel
        mm._try_register_video_libs()
        assert mm._VIDEO_DECODERS["mp4"] is sentinel
    finally:
        mm._VIDEO_DECODERS.clear()
        mm._VIDEO_DECODERS.update(saved)


class _FakeAvFrame:
    def __init__(self, arr):
        self._arr = arr

    def to_ndarray(self, format):
        assert format == "gray"
        return self._arr


class _FakeAvContainer:
    def __init__(self, frames):
        self._frames = frames

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def decode(self, video):
        assert video == 0
        return iter(_FakeAvFrame(a) for a in self._frames)


def _with_fake_module(name, module):
    """Context manager installing *module* at sys.modules[name] (and its
    parent package attribute for dotted names), restoring on exit."""
    import contextlib
    import sys

    @contextlib.contextmanager
    def cm():
        saved = {n: sys.modules.get(n) for n in (name, name.split(".")[0])}
        try:
            if "." in name:
                parent_name, child = name.rsplit(".", 1)
                parent = sys.modules.get(parent_name)
                if parent is None:
                    import types

                    parent = types.ModuleType(parent_name)
                    sys.modules[parent_name] = parent
                setattr(parent, child, module)
            sys.modules[name] = module
            yield
        finally:
            for n, m in saved.items():
                if m is None:
                    sys.modules.pop(n, None)
                else:
                    sys.modules[n] = m

    return cm()


def test_pyav_decode_frames_contract():
    """API-shape contract for the PyAV-backed decoder (VERDICT r13 #3):
    a fake ``av`` module drives the REAL _pyav_decode_frames body —
    success, dtype coercion, empty container → None, open failure →
    None — so the ~30 lines of codec-boundary code execute in CI even
    though this image ships no codec libraries."""
    import types

    import numpy as np

    from id3c_spark import multimodal as mm

    frames = [np.arange(12, dtype=np.uint8).reshape(3, 4),
              np.ones((3, 4), dtype=np.int32)]

    fake_av = types.ModuleType("av")
    fake_av.open = lambda fh: _FakeAvContainer(frames)
    with _with_fake_module("av", fake_av):
        out = mm._pyav_decode_frames(b"\x00\x00\x00\x18ftyp" + b"\x00" * 16)
        assert out is not None and len(out) == 2
        assert all(a.dtype == np.float64 and a.shape == (3, 4) for a in out)
        assert out[0][0, 1] == 1.0

    fake_av.open = lambda fh: _FakeAvContainer([])
    with _with_fake_module("av", fake_av):
        assert mm._pyav_decode_frames(b"x" * 16) is None   # empty → None

    def boom(fh):
        raise RuntimeError("codec not found")

    fake_av.open = boom
    with _with_fake_module("av", fake_av):
        assert mm._pyav_decode_frames(b"x" * 16) is None   # failure → None


def test_imageio_decode_frames_contract():
    """API-shape contract for the imageio-backed decoder: fake
    ``imageio.v3`` drives the REAL _imageio_decode_frames body — gray
    (n,h,w) passthrough, (n,h,w,c) channel-mean collapse, bad ndim →
    None, read failure → None — and the extension hint follows the
    SNIFFED container (ADVICE r13: webm must not be read with ".mp4")."""
    import types

    import numpy as np

    from id3c_spark import multimodal as mm

    mp4 = b"\x00\x00\x00\x18ftyp" + b"\x00" * 16
    webm = b"\x1a\x45\xdf\xa3" + b"\x00" * 16
    seen = {}

    def make_v3(ret):
        v3 = types.ModuleType("imageio.v3")

        def imread(content, index, extension):
            assert index is None
            seen["ext"] = extension
            if isinstance(ret, Exception):
                raise ret
            return ret

        v3.imread = imread
        return v3

    gray = np.stack([np.full((3, 4), float(f)) for f in range(2)])
    with _with_fake_module("imageio.v3", make_v3(gray)):
        out = mm._imageio_decode_frames(mp4)
        assert seen["ext"] == ".mp4"
        assert len(out) == 2 and out[0].shape == (3, 4)
        assert out[1][0, 0] == 1.0

    color = np.zeros((2, 3, 4, 3))
    color[0, :, :, 0] = 3.0                     # channel mean → 1.0
    with _with_fake_module("imageio.v3", make_v3(color)):
        out = mm._imageio_decode_frames(webm)
        assert seen["ext"] == ".webm"           # sniffed, not hardcoded
        assert out[0].shape == (3, 4) and out[0][0, 0] == 1.0

    with _with_fake_module("imageio.v3", make_v3(np.zeros((3, 4)))):
        assert mm._imageio_decode_frames(mp4) is None      # bad ndim

    with _with_fake_module("imageio.v3", make_v3(RuntimeError("no plugin"))):
        assert mm._imageio_decode_frames(mp4) is None      # failure → None

    with _with_fake_module("imageio.v3", make_v3(gray)):
        mm._imageio_decode_frames(b"not-a-video-container")
        assert seen["ext"] is None              # unknown → let imageio sniff


def test_max_frames_validated_at_plan_build(spark):
    """A bad max_frames raises ValueError on the DRIVER at plan-build
    time (ADVICE r13: 0 was a ZeroDivisionError and negatives sampled
    negative indices inside executor tasks)."""
    import pytest

    from id3c_spark import multimodal as mm

    df = spark.createDataFrame(
        [(1, "video", None)], "media_id long, kind string, content binary"
    )
    for bad in (0, -3, True, 2.5):
        with pytest.raises(ValueError, match="max_frames"):
            mm.video_frame_phashes(df, max_frames=bad)
        with pytest.raises(ValueError, match="max_frames"):
            mm.streaming_video_dedup(df, max_frames=bad)
        with pytest.raises(ValueError, match="max_frames"):
            mm.video_signature(df, max_frames=bad)
    # the valid boundary still builds a plan
    assert mm.video_frame_phashes(df, max_frames=1).count() == 0


def test_streaming_video_dedup_catches_frame_duplicated_twin(spark, tmp_path):
    """An AVI and its frame-duplicated twin (every frame repeated —
    different bytes, same temporal signature by majority invariance)
    arrive in the stream; perceptual dedup emits only the first. The
    streaming signature must agree bit-for-bit with the batch
    video_signature."""
    import datetime

    from id3c_spark import multimodal as mm

    w, h = 16, 16
    frames = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in reversed(range(h)) for x in range(w)
                        for _ in range(3)))
        for f in range(3)
    ]
    a = mm.encode_avi(w, h, frames)
    twin = mm.encode_avi(w, h, [fr for fr in frames for _ in (0, 1)])
    other = _gray_frames_avi(9)
    t0 = datetime.datetime(2024, 1, 1)
    src = spark.createDataFrame(
        [
            (1, "video", bytearray(a), t0),
            (2, "video", bytearray(twin), t0 + datetime.timedelta(minutes=1)),
            (3, "video", bytearray(other), t0 + datetime.timedelta(minutes=2)),
            (4, "image", bytearray(b"\x89PNG\r\n\x1a\n"), t0),
        ],
        "media_id long, kind string, content binary, ts timestamp",
    )
    src_dir = str(tmp_path / "media")
    src.write.parquet(src_dir)
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(src.schema).parquet(src_dir)
    q = (
        mm.streaming_video_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    ids = sorted(r["media_id"] for r in rows)
    assert len(ids) == 2 and 3 in ids and (1 in ids) != (2 in ids)

    # batch parity: the streamed signatures equal video_signature's
    batch = {r.media_id: r.signature
             for r in mm.video_signature(
                 spark.read.parquet(src_dir)).collect()}
    streamed = {r["media_id"]: r["signature"] for r in rows}
    for mid, sig in streamed.items():
        assert batch[mid] == sig, mid


def test_frame_sampling_deterministic_and_signature_stable(spark):
    """_sample_frames: deterministic uniform subset (first frame pinned,
    bounded count, pure function of (n, max_frames)); and the temporal
    signature of a frame-repeated long video under sampling equals the
    full-signature of the base clip (majority invariance — the property
    that makes sampled and full indexes interoperable)."""
    import numpy as np

    from id3c_spark import multimodal as mm

    frames = [np.full((4, 4), float(i)) for i in range(10)]
    got = mm._sample_frames(frames, 4)
    assert len(got) == 4
    assert got[0] is frames[0]
    assert [id(f) for f in got] == [id(f) for f in mm._sample_frames(frames, 4)]
    assert mm._sample_frames(frames, None) is frames
    assert mm._sample_frames(frames, 20) is frames

    # a 12-frame clip that's the 3-frame base repeated 4x: sampled (max 6)
    # and full signatures both equal the base clip's signature
    w, h = 16, 16
    base = [
        bytes(bytearray((f * 13 + y * 5 + x * 3) % 256
                        for y in reversed(range(h)) for x in range(w)
                        for _ in range(3)))
        for f in range(3)
    ]
    short = mm.encode_avi(w, h, base)
    long_ = mm.encode_avi(w, h, base * 4)
    df = _video_media(spark, [(1, short), (2, long_)])
    full = {r.media_id: r.signature for r in mm.video_signature(df).collect()}
    sampled = {r.media_id: r.signature
               for r in mm.video_signature(df, max_frames=6).collect()}
    assert full[1] == full[2] == sampled[2]
    # and the sampled hash pass emitted at most max_frames rows per video
    n_rows = (mm.video_frame_phashes(df, max_frames=6)
              .groupBy("media_id").count().collect())
    assert all(r["count"] <= 6 for r in n_rows)


# ---------------------------------------------------------------------------
# r16 vectorization / fusion parity (guide §4.2, §2.4): the batched numpy
# paths must be BIT-identical to the scalar paths they replaced, and the
# stats-gated fused sketch joins must reproduce the distributed banded
# join exactly (including duplicate-id triple dedup).
# ---------------------------------------------------------------------------


def test_ahash_batch_parity_with_scalar():
    from id3c_spark import multimodal as mm

    rng = np.random.default_rng(7)
    for h, w in [(16, 16), (32, 48), (8, 8), (24, 40)]:
        stacks = [
            # integer grays, non-dyadic channel-mean grays (k/3 — the BGR
            # mean of real decodes), and arbitrary floats
            rng.integers(0, 256, (64, h, w)).astype(np.float64),
            rng.integers(0, 3 * 256, (64, h, w)).astype(np.float64) / 3.0,
            rng.random((64, h, w)) * 255.0,
        ]
        for st in stacks:
            ref = [mm._ahash(f, 8) for f in st]
            got = mm._ahash_batch(st, 8).tolist()
            assert got == ref
            assert mm._ahash_many(list(st), 8) == ref
    # odd shapes fall back to the scalar path inside _ahash_many
    odd = [rng.random((10, 13)) * 255, rng.random((16, 16)) * 255]
    assert mm._ahash_many(odd, 8) == [mm._ahash(f, 8) for f in odd]


def test_synthetic_corpus_vectorized_bytes_match_scalar_reference(spark):
    from id3c_spark import multimodal as mm

    ids = [0, 1, 5, 11, 12, 23, 24, 97, 500, 10**6 + 3, 10**7 + 11]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def ref_avi(did, n_frames=4, w=16, h=16, group=12):
        frames = []
        for f in range(n_frames):
            rows = [
                bytes(
                    b
                    for x in range(w)
                    for b in [mm._synthetic_pixel(did, f, y, x, w, group)] * 3
                )
                for y in range(h)
            ]
            frames.append(b"".join(reversed(rows)))
        return mm.encode_avi(w, h, frames)

    def ref_bmp(did, frame=0, w=16, h=16, group=12):
        rows = [
            bytes(
                b
                for x in range(w)
                for b in [mm._synthetic_pixel(did, frame, y, x, w, group)] * 3
            )
            for y in range(h)
        ]
        return mm.encode_bmp(w, h, b"".join(reversed(rows)))

    vids = {r.media_id: bytes(r.content)
            for r in mm.synthetic_video_corpus(df).collect()}
    stills = {r.media_id: bytes(r.content)
              for r in mm.synthetic_still_corpus(df).collect()}
    assert set(vids) == set(ids) and set(stills) == set(ids)
    for i in ids:
        assert vids[i] == ref_avi(i)
        assert stills[i] == ref_bmp(i)


def test_video_signature_in_task_matches_per_frame_majority(spark):
    from id3c_spark import multimodal as mm

    ids = list(range(30))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = mm.synthetic_video_corpus(df)
    rows = {r.media_id: bytes(r.content) for r in media.collect()}
    sigs = {r.media_id: r.signature for r in mm.video_signature(media).collect()}
    assert set(sigs) == set(ids)
    for did, content in rows.items():
        hs = [mm._ahash(g) & (2**64 - 1) for g in mm.decode_avi_frames(content)]
        ref, n = 0, len(hs)
        for i in range(64):
            if 2 * sum((h >> i) & 1 for h in hs) >= n:
                ref |= 1 << i
        if ref >= 1 << 63:
            ref -= 1 << 64
        assert sigs[did] == ref


def _pairs_key(rows):
    return sorted((r["id_a"], r["id_b"], r["hamming"]) for r in rows)


def test_fused_sketch_pairs_parity_with_banded_join(spark, regime):
    from id3c_spark.operators.ann import sketch_hamming_pairs

    rng = np.random.default_rng(11)
    base = rng.integers(-(2**63), 2**63, size=40, dtype=np.int64)
    rows = []
    for i, s in enumerate(base):
        rows.append((int(i), int(s)))
        if i % 7 == 0:  # near twins → real candidates
            rows.append((int(i) + 1000, int(s ^ (1 << (i % 64)))))
    # duplicate ids: same sketch (triple dedup) and different sketches
    rows.append((3, int(base[3])))
    rows.append((4, int(base[4] ^ 7)))
    sk = spark.createDataFrame(rows, "id long, sketch long")
    for bits, bands, mh in [(64, 8, 7), (64, 4, 3)]:
        with regime(True):
            fused = _pairs_key(
                sketch_hamming_pairs(sk, bits, bands, mh).collect()
            )
        with regime(False):
            dist = _pairs_key(
                sketch_hamming_pairs(sk, bits, bands, mh).collect()
            )
        assert fused == dist and fused  # non-empty: twins survive


def test_fused_sketch_join_parity_with_banded_join(spark, regime):
    from pyspark.sql import functions as F

    from id3c_spark.operators.ann import sketch_hamming_join

    rng = np.random.default_rng(13)
    ls = rng.integers(-(2**63), 2**63, size=25, dtype=np.int64)
    left = spark.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(ls)], "id long, sketch long"
    )
    right_rows = [(int(i) + 100, int(s ^ (1 << (i % 64))))
                  for i, s in enumerate(ls) if i % 3 == 0]
    right_rows += [(999, int(rng.integers(-(2**63), 2**63))) for _ in range(5)]
    right_rows.append(right_rows[0])  # duplicate row → triple dedup
    right = spark.createDataFrame(right_rows, "id long, sketch long")
    with regime(True):
        fused = _pairs_key(
            sketch_hamming_join(left, right, 64, 8, 7).collect()
        )
    with regime(False):
        dist = _pairs_key(
            sketch_hamming_join(left, right, 64, 8, 7).collect()
        )
    assert fused == dist and fused


def test_fused_sketch_join_struct_ids(spark, regime):
    from pyspark.sql import functions as F

    from id3c_spark.operators.ann import sketch_hamming_join

    rng = np.random.default_rng(17)
    sks = rng.integers(-(2**63), 2**63, size=10, dtype=np.int64)
    left = spark.createDataFrame(
        [(int(i), int(s)) for i, s in enumerate(sks)], "id long, sketch long"
    )
    right = spark.createDataFrame(
        [(int(i), int(f), int(s))
         for i, s in enumerate(sks) for f in range(2)],
        "v long, f long, sketch long",
    ).select(F.struct("v", "f").alias("id"), "sketch")
    with regime(True):
        fused = sketch_hamming_join(left, right, 64, 8, 7).collect()
    with regime(False):
        dist = sketch_hamming_join(left, right, 64, 8, 7).collect()
    key = lambda rows: sorted(
        (r["id_a"], (r["id_b"]["v"], r["id_b"]["f"]), r["hamming"])
        for r in rows
    )
    assert key(fused) == key(dist) and fused


def test_fused_sketch_join_empty_and_no_match_cases(spark, regime):
    """No-candidate / no-match / empty-side fused joins must return
    empty frames of the declared schema — including struct ids, where a
    default float64 empty pandas column cannot Arrow-cast to the struct
    type (regression: r16 first cut crashed there)."""
    from pyspark.sql import functions as F

    from id3c_spark.operators.ann import (
        sketch_hamming_join,
        sketch_hamming_pairs,
    )

    left = spark.createDataFrame([(1, 0)], "id long, sketch long")
    right = spark.createDataFrame([(2, -1)], "id long, sketch long")
    rs = spark.createDataFrame(
        [(2, 0, -1)], "v long, f long, sketch long"
    ).select(F.struct("v", "f").alias("id"), "sketch")
    empty = spark.createDataFrame([], "id long, sketch long")
    with regime(True):
        assert sketch_hamming_join(left, right, 64, 8, 7).count() == 0
        assert sketch_hamming_join(left, rs, 64, 8, 7).count() == 0
        assert sketch_hamming_join(left, empty, 64, 8, 7).count() == 0
        assert sketch_hamming_join(empty, rs, 64, 8, 7).count() == 0
    two = spark.createDataFrame([(1, 0), (2, -1)], "id long, sketch long")
    with regime(True):
        assert sketch_hamming_pairs(two, 64, 8, 7).count() == 0
        assert sketch_hamming_pairs(empty, 64, 8, 7).count() == 0
