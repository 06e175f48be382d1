"""Multimodal payload operators: image resize, audio features, video
frame sampling — real math for the uncompressed codecs, registry stubs
for the library-dependent ones, and NumPy oracles throughout."""
import functools
import re

import numpy as np
import pandas as pd
import pytest


def test_resize_raw_matches_gather_oracle():
    from hiselspark.functions.image import resize_raw
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    out = resize_raw(img, 16, 8)
    assert out.shape == (8, 16, 3)
    # pixel-center mapping oracle
    for oy in (0, 3, 7):
        for ox in (0, 9, 15):
            sy = min(int((oy + 0.5) * 32 / 8), 31)
            sx = min(int((ox + 0.5) * 48 / 16), 47)
            assert (out[oy, ox] == img[sy, sx]).all()
    # identity resize is exact
    assert (resize_raw(img, 48, 32) == img).all()


def test_resize_images_spark(spark):
    from hiselspark.functions.image import resize_images, decode_image
    rng = np.random.default_rng(2)
    rows = []
    for i in range(30):
        w, h = int(rng.choice([16, 24])), int(rng.choice([16, 32]))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((f"i{i}", img.tobytes(), w, h, "raw"))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                      "fmt"])
    out = resize_images(spark.createDataFrame(pdf).repartition(3),
                        out_w=8, out_h=8).toPandas()
    assert (out["w"] == 8).all() and (out["h"] == 8).all()
    assert (out["fmt"] == "raw").all()
    assert out["bytes"].map(len).eq(8 * 8 * 3).all()
    # spot-check one image against the single-image resize
    from hiselspark.functions.image import resize_raw
    src = {r[0]: np.frombuffer(r[1], dtype=np.uint8).reshape(r[3], r[2], 3)
           for r in rows}
    got = out.set_index("image_id")["bytes"]
    for key in ("i0", "i7", "i29"):
        exp = resize_raw(src[key], 8, 8).tobytes()
        assert got[key] == exp, key


def test_audio_features_match_numpy_oracle(spark):
    from hiselspark.functions.audio import with_audio_features
    rng = np.random.default_rng(3)
    rows = []
    for i in range(20):
        ns = int(rng.integers(400, 2000))
        ch = int(rng.choice([1, 2]))
        pcm = (rng.normal(0, 0.2, size=(ns, ch)) * 32767).clip(
            -32768, 32767).astype("<i2")
        rows.append((f"a{i}", pcm.tobytes(), 16000, ch, "pcm16", pcm))
    pdf = pd.DataFrame([r[:5] for r in rows],
                       columns=["clip_id", "audio", "sample_rate",
                                "n_channels", "codec"])
    out = (with_audio_features(spark.createDataFrame(pdf).repartition(4))
           .toPandas().set_index("clip_id"))
    for cid, _, rate, ch, _, pcm in rows:
        x = pcm.astype(np.float64) / 32768.0
        mono = x.mean(axis=1)
        np.testing.assert_allclose(
            out.loc[cid, "au_duration_s"], len(mono) / rate, rtol=1e-12)
        np.testing.assert_allclose(
            out.loc[cid, "au_rms"], np.sqrt(np.mean(mono ** 2)),
            rtol=1e-9)
        np.testing.assert_allclose(
            out.loc[cid, "au_peak"], np.abs(x).max(), rtol=1e-9)
        zcr = (np.count_nonzero(np.signbit(mono[1:])
                                != np.signbit(mono[:-1]))
               / (len(mono) - 1))
        np.testing.assert_allclose(out.loc[cid, "au_zcr"], zcr,
                                   rtol=1e-9)
    assert "audio" not in out.columns  # payload dropped


def test_audio_compressed_codec_stubbed(spark):
    from hiselspark.functions.audio import decode_audio
    with pytest.raises(NotImplementedError):
        decode_audio(b"\x00\x01", 1, "mp3")


def test_video_frame_sampling_and_motion(spark):
    from hiselspark.functions.video import (decode_frames, sample_frames,
                                            with_motion_score)
    from hiselspark.functions.image import with_pixel_stats
    rng = np.random.default_rng(4)
    w = h = 8
    vids = []
    for i in range(6):
        nf = int(rng.integers(15, 40))
        frames = rng.integers(0, 256, size=(nf, h, w, 3), dtype=np.uint8)
        vids.append((f"v{i}", frames.tobytes(), w, h, nf, "rawv", frames))
    pdf = pd.DataFrame([v[:6] for v in vids],
                       columns=["video_id", "video", "w", "h",
                                "n_frames", "container"])
    sdf = spark.createDataFrame(pdf).repartition(2)
    sampled = sample_frames(sdf, every_k=10).toPandas()
    exp_rows = sum(len(range(0, v[4], 10)) for v in vids)
    assert len(sampled) == exp_rows
    # sampled frame bytes match the source frames exactly
    src = {v[0]: v[6] for v in vids}
    for _, r in sampled.iterrows():
        assert bytes(r["bytes"]) == src[r["video_id"]][r["frame_idx"]].tobytes()
    # sampled frames flow straight into the image pixel-stats operator
    stats = with_pixel_stats(
        sample_frames(sdf, every_k=10)).toPandas()
    assert len(stats) == exp_rows and "px_mean_r" in stats.columns
    # motion score: static clip scores 0, noise clip scores high
    static = np.tile(src["v0"][:1], (10, 1, 1, 1))
    pdf2 = pd.DataFrame(
        [("s", static.tobytes(), w, h, 10, "rawv"),
         ("n", vids[0][1], w, h, vids[0][4], "rawv")],
        columns=["video_id", "video", "w", "h", "n_frames", "container"])
    ms = (with_motion_score(spark.createDataFrame(pdf2))
          .toPandas().set_index("video_id")["motion_score"])
    assert ms["s"] == 0.0 and ms["n"] > 0.2
    with pytest.raises(NotImplementedError):
        decode_frames(b"x", 2, 2, "mp4")


def test_augment_raw_matches_numpy():
    from hiselspark.functions.image import augment_raw
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    np.testing.assert_array_equal(augment_raw(img, [("hflip",)]),
                                  img[:, ::-1])
    np.testing.assert_array_equal(augment_raw(img, [("vflip",)]),
                                  img[::-1])
    np.testing.assert_array_equal(augment_raw(img, [("rot90",)]),
                                  np.rot90(img))
    # involution / periodicity
    np.testing.assert_array_equal(
        augment_raw(img, [("hflip",), ("hflip",)]), img)
    np.testing.assert_array_equal(
        augment_raw(img, [("rot90",)] * 4), img)
    crop = augment_raw(img, [("crop", 2, 1, 4, 5)])
    np.testing.assert_array_equal(crop, img[1:6, 2:6])
    with pytest.raises(ValueError):
        augment_raw(img, [("crop", 5, 0, 4, 4)])


def test_augment_images_spark_and_checksum(spark):
    from hiselspark.functions.image import (augment_images, augment_raw,
                                            with_byte_checksum)
    rng = np.random.default_rng(9)
    rows = []
    for i in range(20):
        w, h = int(rng.choice([8, 12])), int(rng.choice([8, 10]))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((f"i{i}", img.tobytes(), w, h, "raw"))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                      "fmt"])
    ops = [("crop", 1, 1, 6, 6), ("hflip",), ("rot90",)]
    out = (with_byte_checksum(
        augment_images(spark.createDataFrame(pdf).repartition(3), ops))
        .toPandas().set_index("image_id"))
    assert (out["w"] == 6).all() and (out["h"] == 6).all()
    src = {r[0]: np.frombuffer(r[1], dtype=np.uint8).reshape(r[3], r[2], 3)
           for r in rows}
    for key in ("i0", "i5", "i19"):
        exp = augment_raw(src[key], ops)
        assert out.loc[key, "bytes"] == exp.tobytes(), key
        b = np.frombuffer(exp.tobytes(), dtype=np.uint8).astype(np.int64)
        ck = int(np.dot(b, np.arange(1, b.size + 1)) % 2147483647)
        assert out.loc[key, "byte_checksum"] == ck
    # checksum is position-sensitive: flipping changes it
    plain = (with_byte_checksum(spark.createDataFrame(pdf))
             .toPandas().set_index("image_id")["byte_checksum"])
    flipped = (with_byte_checksum(
        augment_images(spark.createDataFrame(pdf), [("hflip",)]))
        .toPandas().set_index("image_id")["byte_checksum"])
    assert (plain != flipped).any()


def test_augment_images_rejects_out_of_range_crop(spark):
    """One crop check for the per-image and the per-block path: Spark
    fails with augment_raw's error for raw blocks and decoded rows."""
    from hiselspark.functions.image import augment_images, augment_raw
    from hiselspark.functions.png import encode_png
    img = np.zeros((6, 8, 3), dtype=np.uint8)
    ops = [("crop", 5, 0, 4, 4)]
    with pytest.raises(ValueError) as err:
        augment_raw(img, ops)
    msg = str(err.value)
    assert msg == "crop (5,0,4,4) outside 8x6"
    for fmt, buf in (("raw", img.tobytes()), ("png", encode_png(img))):
        pdf = pd.DataFrame([("i0", buf, 8, 6, fmt)],
                           columns=["image_id", "bytes", "w", "h", "fmt"])
        with pytest.raises(Exception, match=re.escape(msg)):
            augment_images(spark.createDataFrame(pdf), ops).collect()


def _fill_frames():
    import hiselspark.functions.image as im
    return {
        "pixel_stats": im._pixel_stats_frame,
        "spatial": lambda p: im._spatial_frame(p, 2),
        "conv": im._conv_frame,
        "equalize": im._equalize_frame,
        "dhash": im._dhash_frame,
        "otsu": im._otsu_frame,
        "morph": lambda p: im._morph_frame(p, 380),
        "blob": lambda p: im._blob_frame(p, 380),
        "gradhist": im._gradhist_frame,
        "moments": im._moments_frame,
        "boxmax": im._boxmax_frame,
        "lbp": im._lbp_frame,
        "median3": im._median3_frame,
        "lap_suffstats": im._lap_suffstats_frame,
        "harris": lambda p: im._harris_frame(p, 0),
        "glcm": im._glcm_frame,
        "projection": im._projection_frame,
    }


@functools.lru_cache(maxsize=1)
def _mixed_codec_batch():
    """Raw 256x256 and 9x7 images interleaved with lossless png copies
    of some of them.  256x256 raw blocks are chunked at 20 rows, so the
    22 raw rows of that shape cross a chunk boundary.  Values below 200
    keep the foreground of the 380 gray-sum threshold sparse, so blob
    labelling converges in few sweeps."""
    from hiselspark.functions.png import encode_png
    rng = np.random.default_rng(11)
    rows, twin = [], {}
    for i in range(22):
        for w, h in ((256, 256), (9, 7)):
            img = rng.integers(0, 200, size=(h, w, 3), dtype=np.uint8)
            rows.append((len(rows), img.tobytes(), w, h, "raw"))
            if i % 4 == 1:
                # adaptive filters decode row by row; "Up" keeps the
                # large twins cheap
                strategy = "adaptive" if w < 64 else "fixed:2"
                twin[len(rows)] = len(rows) - 1
                rows.append((len(rows),
                             encode_png(img, filter_strategy=strategy),
                             w, h, "png"))
    pdf = pd.DataFrame(rows, columns=["k", "bytes", "w", "h", "fmt"])
    return pdf.astype({"w": "int32", "h": "int32"}), twin


@pytest.mark.parametrize("name", sorted(_fill_frames()))
def test_fill_frames_mixed_codecs_cross_chunks(name):
    """Every frame decoding through the shared payload path keeps row
    order and non-payload columns, gives a png row the features of its
    raw twin, and gives each row the features it has when run alone —
    also for raw rows on both sides of a chunk boundary."""
    frame = _fill_frames()[name]
    pdf, twin = _mixed_codec_batch()
    pdf = pdf.copy()
    assert ((pdf["w"] == 256) & (pdf["fmt"] == "raw")).sum() > 20
    out = frame(pdf)
    keep = ["k", "w", "h", "fmt"]
    pd.testing.assert_frame_equal(out[keep], pdf[keep])
    feats = [c for c in out.columns if c not in keep]
    assert feats and "bytes" not in out.columns
    for png_row, raw_row in twin.items():
        pd.testing.assert_frame_equal(
            out.loc[[png_row], feats].reset_index(drop=True),
            out.loc[[raw_row], feats].reset_index(drop=True))
    for i in range(len(pdf)):
        pd.testing.assert_frame_equal(out.iloc[[i]],
                                      frame(pdf.iloc[[i]]))


def test_spatial_features_match_numpy_and_detect_blur(spark):
    import numpy as np
    import pandas as pd
    from hiselspark.functions.image import with_spatial_features
    rng = np.random.default_rng(7)
    sharp = rng.integers(0, 256, size=(12, 16, 3)).astype(np.uint8)
    # heavy box blur (valid-region averaging), same shape
    k = 5
    pad = np.pad(sharp.astype(np.int64), ((k//2, k//2), (k//2, k//2),
                                          (0, 0)), mode="edge")
    blurred = np.zeros_like(sharp, dtype=np.int64)
    for dy in range(k):
        for dx in range(k):
            blurred += pad[dy:dy+12, dx:dx+16]
    blurred = (blurred // (k*k)).astype(np.uint8)
    pdf = pd.DataFrame({
        "img_id": [0, 1],
        "bytes": [sharp.tobytes(), blurred.tobytes()],
        "w": [16, 16], "h": [12, 12], "fmt": ["raw", "raw"],
    })
    out = (with_spatial_features(spark.createDataFrame(pdf), grid=2)
           .toPandas().sort_values("img_id").reset_index(drop=True))
    # numpy twin for the sharp image
    c = sharp.astype(np.int64)
    want_tiles = [c[:6, :8].sum()/ (6*8*3), c[:6, 8:].sum()/(6*8*3),
                  c[6:, :8].sum()/(6*8*3), c[6:, 8:].sum()/(6*8*3)]
    got = out.loc[0, "tile_means"]
    assert np.allclose(got, want_tiles, atol=1e-12)
    dx = np.abs(np.diff(c, axis=1)).sum() / (12*15*3)
    dy = np.abs(np.diff(c, axis=0)).sum() / (11*16*3)
    assert out.loc[0, "edge_dx"] == pytest.approx(dx, abs=1e-12)
    assert out.loc[0, "edge_dy"] == pytest.approx(dy, abs=1e-12)
    assert out.loc[0, "edge_energy"] == pytest.approx((dx+dy)/2,
                                                      abs=1e-12)
    # the blur detector property: blurred scores far lower
    assert out.loc[1, "edge_energy"] < 0.35 * out.loc[0, "edge_energy"]
    # payload dropped
    assert "bytes" not in out.columns


def test_dhash_matches_numpy_and_survives_rescale(spark):
    import numpy as np
    import pandas as pd
    from hiselspark.functions.image import with_dhash
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 16, 3)).astype(np.uint8)
    up = np.kron(img, np.ones((4, 4, 1), dtype=np.uint8))  # 4x upscale
    other = rng.integers(0, 256, size=(16, 16, 3)).astype(np.uint8)
    pdf = pd.DataFrame({
        "img_id": [0, 1, 2],
        "bytes": [img.tobytes(), up.tobytes(), other.tobytes()],
        "w": [16, 64, 16], "h": [16, 64, 16],
        "fmt": ["raw"] * 3,
    })
    out = (with_dhash(spark.createDataFrame(pdf)).toPandas()
           .sort_values("img_id").reset_index(drop=True))
    # numpy twin for the base image
    ys = np.minimum(((np.arange(8) + 0.5) * 16 / 8).astype(int), 15)
    xs = np.minimum(((np.arange(9) + 0.5) * 16 / 9).astype(int), 15)
    g = img[ys[:, None], xs[None, :], :].astype(np.int64).sum(axis=2)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
    lo = int((bits[:4].ravel() << np.arange(32)).sum())
    hi = int((bits[4:].ravel() << np.arange(32)).sum())
    assert out.loc[0, "dhash_lo"] == lo
    assert out.loc[0, "dhash_hi"] == hi
    assert 0 <= lo < 2**32 and 0 <= hi < 2**32

    def ham(a, b):
        return (bin(int(a.dhash_lo) ^ int(b.dhash_lo)).count("1")
                + bin(int(a.dhash_hi) ^ int(b.dhash_hi)).count("1"))
    # perceptual: a pixel-doubled copy hashes (near-)identically...
    assert ham(out.loc[0], out.loc[1]) <= 6
    # ...while an unrelated image differs in ~half the 64 bits
    assert ham(out.loc[0], out.loc[2]) > 16


def test_image_curation_chain_invariants(spark):
    """Drive the gate's end-to-end image-curation chain at sf0.001 and
    check the pipeline invariants the oracle can't express: survivor
    uniqueness per perceptual group and conservation of groups."""
    import __spark_entry__ as se
    out = se.q_image_curation(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) >= 1
    assert (out.group_size >= 1).all()
    assert (out.n_groups >= 1).all()
    # planted duplication: seeds repeat every 400 keys over <=2000 keys,
    # so multi-member groups must exist
    assert (out.group_size > 1).any()
    # survivors are distinct original ids
    assert out.min_survivor.is_unique


def test_conv_features_match_numpy_laplacian(spark):
    """with_conv_features vs a direct NumPy 3x3 Laplacian on random
    raw images of two different shapes (exercises the shape-grouped
    batching)."""
    import numpy as np
    from hiselspark.functions.image import with_conv_features
    rng = np.random.default_rng(11)
    rows = []
    truth = {}
    for i in range(12):
        w, h = (8, 8) if i % 2 == 0 else (10, 6)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64)
        r = (4 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
             - g[1:-1, :-2] - g[1:-1, 2:])
        truth[i] = (float(np.abs(r).mean()), int(r.max()),
                    int((r > 0).sum()))
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_conv_features(df).toPandas().set_index("img_id")
    for i, (am, mx, npos) in truth.items():
        assert abs(out.loc[i, "conv_abs_mean"] - am) < 1e-9
        assert out.loc[i, "conv_max"] == mx
        assert out.loc[i, "conv_n_pos"] == npos


def test_equalized_stats_match_reference_equalization(spark):
    """with_equalized_stats vs a straightforward per-image Python
    histogram equalization (round-half-up LUT), plus invariants: a
    uniform ramp maps to the full 0..255 sweep and a constant image
    maps to all zeros."""
    import numpy as np
    from hiselspark.functions.image import with_equalized_stats

    def ref_eq(g, npix):
        hist = np.bincount(g, minlength=766)
        cdf = hist.cumsum()
        cdf_min = hist[np.nonzero(hist)[0][0]]
        span = npix - cdf_min
        if span == 0:
            return np.zeros_like(g)
        lut = ((cdf - cdf_min) * 510 + span) // (2 * span)
        return lut[g]

    rng = np.random.default_rng(3)
    rows, truth = [], {}
    for i in range(8):
        img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64).ravel()
        eq = ref_eq(g, 64)
        truth[i] = (int(eq.sum()), float(eq.sum() / 64.0),
                    len(np.unique(eq)))
        rows.append((i, img.tobytes(), 8, 8, "raw"))
    const = np.full((8, 8, 3), 77, dtype=np.uint8)
    rows.append((100, const.tobytes(), 8, 8, "raw"))
    truth[100] = (0, 0.0, 1)
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_equalized_stats(df).toPandas().set_index("img_id")
    for i, (s, m, d) in truth.items():
        assert out.loc[i, "eq_sum"] == s
        assert abs(out.loc[i, "eq_mean"] - m) < 1e-12
        assert out.loc[i, "eq_distinct"] == d


def test_otsu_matches_scalar_reference(spark):
    """with_otsu_stats vs a plain scalar-Python Otsu (explicit loop
    over every threshold, fractions compared exactly) on random raw
    images of two shapes, plus the constant-image degenerate case."""
    import numpy as np
    from fractions import Fraction
    from hiselspark.functions.image import with_otsu_stats
    rng = np.random.default_rng(23)
    rows, truth = [], {}
    for i in range(10):
        w, h = (8, 8) if i % 2 == 0 else (6, 10)
        if i == 9:  # constant image -> no valid split
            img = np.full((h, w, 3), 7, dtype=np.uint8)
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64).ravel()
        n, s = len(g), int(g.sum())
        best_t, best_score = -1, Fraction(-1)
        for t in range(766):
            w0 = int((g <= t).sum())
            if w0 == 0 or w0 == n:
                continue
            s0 = int(g[g <= t].sum())
            sc = Fraction((s * w0 - n * s0) ** 2, w0 * (n - w0))
            if sc > best_score:
                best_t, best_score = t, sc
        if best_t >= 0:
            truth[i] = (best_t, int((g > best_t).sum()),
                        int(g[g > best_t].sum()))
        else:
            truth[i] = (-1, 0, 0)
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_otsu_stats(df).toPandas().set_index("img_id")
    for i, (t, fc, fs) in truth.items():
        assert out.loc[i, "otsu_t"] == t, i
        assert out.loc[i, "fg_count"] == fc
        assert out.loc[i, "fg_sum"] == fs


def test_morphology_matches_scalar_reference(spark):
    """with_morphology_stats vs explicit per-pixel neighborhood loops
    on random raw images of two shapes."""
    import numpy as np
    from hiselspark.functions.image import with_morphology_stats
    rng = np.random.default_rng(29)
    rows, truth = [], {}
    for i in range(8):
        w, h = (8, 8) if i % 2 == 0 else (10, 6)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64)
        mask = g > 380
        er = di = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                nb = [mask[y + dy, x + dx]
                      for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
                er += all(nb)
                di += any(nb)
        truth[i] = (int(mask.sum()), er, di)
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_morphology_stats(df, thresh=380).toPandas().set_index(
        "img_id")
    for i, (fg, er, di) in truth.items():
        assert out.loc[i, "n_fg"] == fg
        assert out.loc[i, "n_eroded"] == er
        assert out.loc[i, "n_dilated"] == di


def test_blob_stats_match_bfs(spark):
    """with_blob_stats vs an explicit per-image BFS flood fill on
    random raw images of two shapes, incl. all-background and
    all-foreground extremes."""
    import numpy as np
    from collections import deque
    from hiselspark.functions.image import with_blob_stats
    rng = np.random.default_rng(31)
    rows, truth = [], {}
    for i in range(10):
        w, h = (8, 8) if i % 2 == 0 else (6, 9)
        if i == 8:
            img = np.zeros((h, w, 3), dtype=np.uint8)      # no mask
        elif i == 9:
            img = np.full((h, w, 3), 255, dtype=np.uint8)  # all mask
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        mask = img.sum(axis=2, dtype=np.int64) > 380
        seen = np.zeros_like(mask)
        sizes = []
        for y in range(h):
            for x in range(w):
                if mask[y, x] and not seen[y, x]:
                    q, sz = deque([(y, x)]), 0
                    seen[y, x] = True
                    while q:
                        cy, cx = q.popleft()
                        sz += 1
                        for dy, dx in ((1, 0), (-1, 0), (0, 1),
                                       (0, -1)):
                            ny, nx = cy + dy, cx + dx
                            if (0 <= ny < h and 0 <= nx < w
                                    and mask[ny, nx]
                                    and not seen[ny, nx]):
                                seen[ny, nx] = True
                                q.append((ny, nx))
                    sizes.append(sz)
        truth[i] = (len(sizes), max(sizes) if sizes else 0)
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_blob_stats(df, thresh=380).toPandas().set_index(
        "img_id")
    for i, (nb, mb) in truth.items():
        assert out.loc[i, "n_blobs"] == nb, i
        assert out.loc[i, "max_blob"] == mb, i


def test_octant_rule_matches_atan2():
    """The pure-integer octant rule must agree with floor(atan2/45°)
    for every nonzero integer gradient in a dense grid."""
    import math
    import numpy as np
    from hiselspark.functions.image import _octant
    gs = [(gx, gy) for gx in range(-6, 7) for gy in range(-6, 7)
          if (gx, gy) != (0, 0)]
    gx = np.array([g[0] for g in gs], dtype=np.int64)
    gy = np.array([g[1] for g in gs], dtype=np.int64)
    got = _octant(gx, gy)
    for (x, y), b in zip(gs, got):
        ang = math.atan2(y, x)
        if ang < 0:
            ang += 2 * math.pi
        want = int(ang // (math.pi / 4)) % 8
        assert b == want, (x, y, b, want)


def test_gradient_hist_matches_scalar(spark):
    """with_gradient_hist vs an explicit per-pixel loop on random raw
    images of two shapes."""
    import numpy as np
    from hiselspark.functions.image import with_gradient_hist, _octant
    rng = np.random.default_rng(37)
    rows, truth = [], {}
    for i in range(8):
        w, h = (8, 8) if i % 2 == 0 else (7, 9)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64)
        hog = [0] * 8
        flat = 0
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                gx = int(g[y, x + 1] - g[y, x - 1])
                gy = int(g[y + 1, x] - g[y - 1, x])
                mag = abs(gx) + abs(gy)
                if mag == 0:
                    flat += 1
                else:
                    b = int(_octant(np.array([gx]),
                                    np.array([gy]))[0])
                    hog[b] += mag
        truth[i] = (hog, flat)
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_gradient_hist(df).toPandas().set_index("img_id")
    for i, (hog, flat) in truth.items():
        for b in range(8):
            assert out.loc[i, f"hog{b}"] == hog[b], (i, b)
        assert out.loc[i, "n_flat"] == flat


def test_image_moments_match_scalar(spark):
    """with_image_moments vs explicit per-pixel loops on random raw
    images of two shapes."""
    import numpy as np
    from hiselspark.functions.image import with_image_moments
    rng = np.random.default_rng(43)
    rows, truth = [], {}
    for i in range(6):
        w, h = (8, 8) if i % 2 == 0 else (5, 11)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64)
        m = {k: 0 for k in ("m00", "m10", "m01", "m20", "m02", "m11")}
        for y in range(h):
            for x in range(w):
                v = int(g[y, x])
                m["m00"] += v
                m["m10"] += x * v
                m["m01"] += y * v
                m["m20"] += x * x * v
                m["m02"] += y * y * v
                m["m11"] += x * y * v
        truth[i] = (m["m00"], m["m10"], m["m01"],
                    m["m00"] * m["m20"] - m["m10"] ** 2,
                    m["m00"] * m["m11"] - m["m10"] * m["m01"],
                    m["m00"] * m["m02"] - m["m01"] ** 2)
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_image_moments(df).toPandas().set_index("img_id")
    for i, (m00, m10, m01, cn20, cn11, cn02) in truth.items():
        assert out.loc[i, "m00"] == m00
        assert out.loc[i, "m10"] == m10
        assert out.loc[i, "m01"] == m01
        assert out.loc[i, "cn20"] == cn20
        assert out.loc[i, "cn11"] == cn11
        assert out.loc[i, "cn02"] == cn02


def test_box_peak_matches_direct_sums(spark):
    """with_box_peak (summed-area table) vs direct 9-term box sums
    with the row-major first-occurrence tie rule — including a
    constant image where EVERY box ties."""
    import numpy as np
    from hiselspark.functions.image import with_box_peak
    rng = np.random.default_rng(47)
    rows, truth = [], {}
    for i in range(6):
        w, h = (8, 8) if i % 2 == 0 else (9, 6)
        if i == 5:
            img = np.full((h, w, 3), 100, dtype=np.uint8)
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        g = img.sum(axis=2, dtype=np.int64)
        best = None
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                bs = int(g[y - 1:y + 2, x - 1:x + 2].sum())
                if best is None or bs > best[0]:
                    best = (bs, y, x)
        truth[i] = best
        rows.append((i, img.tobytes(), w, h, "raw"))
    df = spark.createDataFrame(
        rows, "img_id long, bytes binary, w int, h int, fmt string")
    out = with_box_peak(df).toPandas().set_index("img_id")
    for i, (bs, y, x) in truth.items():
        assert out.loc[i, "box_max"] == bs
        assert out.loc[i, "box_y"] == y, i
        assert out.loc[i, "box_x"] == x, i
    assert (out.loc[5, "box_y"], out.loc[5, "box_x"]) == (1, 1)


def test_ssim_tiles_identity_and_brute(spark):
    """ssim_tiles vs a scalar brute-force SSIM; identical images give
    exactly 1.0 per tile; heavier perturbation scores lower."""
    from hiselspark.functions.image import ssim_tiles
    rng = np.random.default_rng(31)
    rows = []
    imgs = {}
    for i in range(5):
        a = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        if i == 0:
            b = a.copy()                        # identity
        elif i == 1:
            b = np.clip(a.astype(int) + 5, 0, 255).astype(np.uint8)
        else:
            b = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        imgs[i] = (a, b)
        rows.append((i, a.tobytes(), b.tobytes(), 8, 8))
    df = spark.createDataFrame(
        rows, "img_id long, bytes_a binary, bytes_b binary, w int, h int")
    out = ssim_tiles(df, "bytes_a", "bytes_b", tile=4).toPandas()
    c1, c2 = (0.01 * 765) ** 2, (0.03 * 765) ** 2
    for _, r in out.iterrows():
        a, b = imgs[r["img_id"]]
        ga = a.sum(axis=2, dtype=np.int64)
        gb = b.sum(axis=2, dtype=np.int64)
        ti, tj = int(r["ti"]), int(r["tj"])
        xa = ga[ti * 4:(ti + 1) * 4, tj * 4:(tj + 1) * 4].astype(float)
        xb = gb[ti * 4:(ti + 1) * 4, tj * 4:(tj + 1) * 4].astype(float)
        mx, my = xa.mean(), xb.mean()
        vx, vy = xa.var(), xb.var()
        cxy = (xa * xb).mean() - mx * my
        exp = ((2 * mx * my + c1) * (2 * cxy + c2)
               / ((mx * mx + my * my + c1) * (vx + vy + c2)))
        assert r["ssim"] == pytest.approx(exp, rel=1e-9), r["img_id"]
    by_img = out.groupby("img_id")["ssim"].mean()
    assert by_img[0] == pytest.approx(1.0, abs=1e-12)
    assert by_img[1] > 0.9                 # mild +5 shift stays high
    assert by_img[2] < by_img[1]           # independent noise is lower
    # exact integer sums round-trip
    assert (out["n"] == 16).all()
    assert (out.groupby("img_id").size() == 4).all()


def test_color_stats_brute_and_tie_rule(spark):
    """with_color_stats vs scalar counts; solid image => 1 bin, zero
    entropy, dom_share 1; two-color tie => lowest bin wins."""
    from hiselspark.functions.image import with_color_stats
    import math
    rng = np.random.default_rng(91)
    rows, truth = [], {}
    for i in range(4):
        if i == 0:
            img = np.full((8, 8, 3), 200, dtype=np.uint8)   # solid
        elif i == 1:
            img = np.zeros((8, 8, 3), dtype=np.uint8)       # tie:
            img[:, 4:, :] = 255      # half bin 0, half bin 63
        else:
            img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        rows.append((i, img.tobytes(), 8, 8))
        q = img.astype(int) // 64
        bins = q[:, :, 0] * 16 + q[:, :, 1] * 4 + q[:, :, 2]
        cnt = np.bincount(bins.ravel(), minlength=64)
        share = cnt / 64.0
        ent = -sum(s * math.log(s) for s in share[cnt > 0])
        truth[i] = (int((cnt > 0).sum()), int(cnt.argmax()),
                    share[cnt.argmax()], ent)
    df = spark.createDataFrame(rows,
                               "img_id long, bytes binary, w int, h int")
    out = with_color_stats(df).toPandas().set_index("img_id")
    for i, (nb, db, ds, ent) in truth.items():
        assert out.loc[i, "n_bins"] == nb
        assert out.loc[i, "dom_bin"] == db
        assert out.loc[i, "dom_share"] == pytest.approx(ds, rel=1e-12)
        assert out.loc[i, "color_entropy"] == pytest.approx(ent,
                                                            rel=1e-9)
    assert out.loc[0, "color_entropy"] == 0.0
    assert out.loc[0, "dom_share"] == 1.0
    assert out.loc[1, "dom_bin"] == 0          # tie -> lowest bin
    with pytest.raises(ValueError):
        with_color_stats(df, bins_per_channel=5)


def test_ssim_brightness_shift_vs_structural_change(spark):
    """A brightness-shifted copy keeps dhash (near-)equal and SSIM
    high; a different-gradient image scores lower — the two-stage
    near-dup premise."""
    from pyspark.sql import functions as F
    from hiselspark.functions.image import with_dhash, ssim_tiles
    i = np.arange(192, dtype=np.int64)
    a = ((7919 + i * 13) % 256).astype(np.uint8)
    b = ((7919 + 4 + i * 13) % 256).astype(np.uint8)   # +4 brightness
    c = ((7919 + i * 29) % 256).astype(np.uint8)       # new structure
    df = spark.createDataFrame(
        [(0, a.tobytes()), (1, b.tobytes()), (2, c.tobytes())],
        "img_id long, bytes binary") \
        .withColumn("w", F.lit(8)).withColumn("h", F.lit(8)) \
        .withColumn("fmt", F.lit("raw"))
    h = {r["img_id"]: (r["dhash_lo"], r["dhash_hi"])
         for r in with_dhash(df).collect()}
    ham01 = (bin(h[0][0] ^ h[1][0]).count("1")
             + bin(h[0][1] ^ h[1][1]).count("1"))
    assert ham01 <= 6          # shift survives banding+verify
    pairs = spark.createDataFrame(
        [(1, a.tobytes(), b.tobytes(), 8, 8),
         (2, a.tobytes(), c.tobytes(), 8, 8)],
        "pid long, bytes_a binary, bytes_b binary, w int, h int")
    m = (ssim_tiles(pairs, "bytes_a", "bytes_b", tile=4)
         .groupBy("pid").agg(F.avg("ssim").alias("m")).collect())
    ms = {r["pid"]: r["m"] for r in m}
    assert 0.5 < ms[1] < 1.0       # shifted: high but not identical
    assert ms[2] < ms[1]           # structural change scores lower


def test_audio_segments_runs_and_threshold(spark):
    """audio_segments vs hand-built runs: loud/quiet alternation maps
    to exact frame runs; trailing partial frames dropped; silent clip
    yields no rows."""
    from hiselspark.functions.audio import audio_segments

    def pcm(vals):
        s = np.asarray(vals, dtype=np.int64)
        return s.astype("<i2").tobytes()

    frame = 4
    loud, quiet = [20000] * frame, [10] * frame
    # clip 0: loud, quiet, loud, loud, quiet + 2 trailing samples
    c0 = pcm(loud + quiet + loud + loud + quiet + [30000, 30000])
    c1 = pcm(quiet * 3)                      # all quiet -> no rows
    df = spark.createDataFrame(
        [(0, c0, 1, "pcm16"), (1, c1, 1, "pcm16")],
        "vec_id long, audio binary, n_channels int, codec string")
    out = audio_segments(df, "vec_id", "audio", frame_samples=frame,
                         energy_threshold=4 * 1000 ** 2).collect()
    rows = sorted((r["vec_id"], r["seg"], r["start_frame"],
                   r["end_frame"], r["n_frames"], r["energy_sum"])
                  for r in out)
    e_loud = 4 * 20000 ** 2
    assert rows == [(0, 0, 0, 0, 1, e_loud),
                    (0, 1, 2, 3, 2, 2 * e_loud)]
