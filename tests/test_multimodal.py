"""Multimodal plumbing tests: binary schema, Arrow batch shapes, stub
determinism (the decode itself is a documented fake — no codecs here)."""

from __future__ import annotations

from apache_jira_scraper_spark.operators.multimodal import (
    _fake_decode,
    binary_docs,
    decode_features,
    frame_sample,
)


def test_binary_docs_schema(spark, sf_dir):
    media = binary_docs(spark, sf_dir)
    dt = dict(media.dtypes)
    assert dt["content"] == "binary"
    assert dt["meta"].startswith("struct<width:int,height:int,n_bytes:int")
    row = media.orderBy("doc_id").first()
    assert row["meta"]["n_bytes"] == len(row["content"])


def test_decode_features_deterministic(spark, sf_dir):
    media = binary_docs(spark, sf_dir).limit(20)
    feats = decode_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["features"]) == 8
        assert sum(r["features"]) == r["n_bytes"]  # histogram partitions bytes
    # determinism across runs (and across partitioning)
    again = {r["doc_id"]: r["features"] for r in decode_features(media.repartition(7)).collect()}
    for r in feats:
        assert again[r["doc_id"]] == r["features"]


def test_fake_decode_is_byte_histogram():
    assert _fake_decode(b"\x00\x1f\x20\xff", 1, 1) == [2, 1, 0, 0, 0, 0, 0, 1]


def test_frame_sample_stride(spark, sf_dir):
    media = binary_docs(spark, sf_dir)
    out = frame_sample(media, stride=16).orderBy("doc_id").first()
    src = media.orderBy("doc_id").first()
    expected = list(src["content"][::16])
    assert out["frames"] == expected
    assert out["n_frames"] == len(expected)


def test_resize_composes_with_decode(spark, sf_dir):
    """resize → fixed-dim media whose payload is target_w*target_h bytes;
    deterministic under repartition, and decode_features still runs on the
    resized payload (the stages compose)."""
    from apache_jira_scraper_spark.operators.multimodal import binary_docs, resize

    media = binary_docs(spark, sf_dir)
    small = resize(media, target_w=16, target_h=8)
    rows = {r["doc_id"]: r for r in small.collect()}
    assert all(r["meta"]["width"] == 16 and r["meta"]["height"] == 8 for r in rows.values())
    assert all(len(r["content"]) == 16 * 8 for r in rows.values())
    again = {r["doc_id"]: r["content"] for r in resize(media.repartition(7), 16, 8).collect()}
    assert {k: v["content"] for k, v in rows.items()} == again
    feats = decode_features(small).collect()
    assert all(sum(r["features"]) == 16 * 8 for r in feats)


def test_multimodal_meta_matches_oracle(spark, sf_dir):
    """q_multimodal_meta left the 50-gate registry (subsumed by the decode
    gate) but stays a library function — keep its oracle parity pinned."""
    from apache_jira_scraper_spark.operators.multimodal import (
        MULTIMODAL_META_SQL,
        q_multimodal_meta,
    )
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        q_multimodal_meta(spark, sf_dir), MULTIMODAL_META_SQL, sf_dir,
        name="multimodal_meta",
    )


def test_patch_grid_shapes_and_determinism(spark, sf_dir):
    """Patch count = ceil(h/16)*ceil(w/16) per image; positions form a full
    grid; identical payloads yield identical digests (the property the
    patch-dedup use case needs)."""
    from apache_jira_scraper_spark.operators.multimodal import binary_docs, patch_grid

    media = binary_docs(spark, sf_dir).limit(20)
    meta = {r["doc_id"]: (r["meta"]["width"], r["meta"]["height"]) for r in media.collect()}
    rows = patch_grid(media, patch=16).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(meta)
    for doc_id, prs in by_doc.items():
        w, h = meta[doc_id]
        py_n = -(-max(h, 1) // 16)
        px_n = -(-max(w, 1) // 16)
        assert len(prs) == py_n * px_n
        assert {(r["py"], r["px"]) for r in prs} == {
            (y, x) for y in range(py_n) for x in range(px_n)
        }
        assert all(0.0 <= r["patch_mean"] <= 255.0 for r in prs)
    # determinism: second run produces identical digests
    again = {
        (r["doc_id"], r["py"], r["px"]): r["patch_digest"]
        for r in patch_grid(media, patch=16).collect()
    }
    first = {(r["doc_id"], r["py"], r["px"]): r["patch_digest"] for r in rows}
    assert first == again


def test_patch_grid_region_alignment(spark):
    """Tiles must correspond to regions of the DECLARED image: with a
    20x17 row-major payload and patch=16, tile (0,0) is exactly rows
    0..15 x cols 0..15 of the image (regression: a direct reshape to the
    padded dims wrapped rows at the padded width)."""
    import hashlib

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import patch_grid
    from pyspark.sql import functions as F

    w, h = 20, 17
    img = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    media = spark.createDataFrame(
        [(1, bytes(img.tobytes()), "image")],
        "doc_id long, content binary, media_type string",
    ).select(
        "doc_id",
        "content",
        "media_type",
        F.struct(
            F.lit(w).alias("width"), F.lit(h).alias("height"),
            F.lit(w * h).alias("n_bytes"),
        ).alias("meta"),
    )
    got = {
        (r["py"], r["px"]): (r["patch_mean"], r["patch_digest"])
        for r in patch_grid(media, patch=16).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    tile00 = img[0:16, 0:16]
    assert got[(0, 0)][1] == hashlib.md5(tile00.tobytes()).hexdigest()
    assert got[(0, 0)][0] == float(tile00.mean())


def test_frame_sample_byte_exact_on_non_ascii_payload(spark):
    """r04 review fix: frame values are the actual BYTES at stride
    offsets — the old cast-to-string form UTF-8-decoded the payload, so
    non-ASCII bytes became U+FFFD and char indexes diverged from byte
    offsets (wrong for exactly the real binary payloads this models)."""
    from apache_jira_scraper_spark.operators.multimodal import frame_sample

    payload = bytes([0, 65, 195, 169, 255, 128, 66])
    df = spark.createDataFrame([(1, payload)], "doc_id long, content binary")
    out = frame_sample(df, stride=2).collect()[0]
    assert out["frames"] == list(payload[::2])
    assert out["n_frames"] == len(payload[::2])


def _media_df(spark, payload: bytes, w: int = 1, h: int = 1):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(1, payload, "image")],
        "doc_id long, content binary, media_type string",
    ).select(
        "doc_id",
        "content",
        "media_type",
        F.struct(
            F.lit(w).alias("width"), F.lit(h).alias("height"),
            F.lit(len(payload)).alias("n_bytes"),
        ).alias("meta"),
    )


def _ppm_p6(img_rgb) -> bytes:
    """Binary PPM from an (h, w, 3) uint8 array, with a header comment to
    exercise the tokenizer."""
    h, w, _ = img_rgb.shape
    return b"P6\n# test image\n%d %d\n255\n" % (w, h) + img_rgb.tobytes()


def _pgm_p5(img) -> bytes:
    h, w = img.shape
    return b"P5 %d %d 255\n" % (w, h) + img.tobytes()


def test_pixel_decoder_ppm_exact_pixels():
    """The REAL decode path (r06): a constructed binary PPM parses to the
    exact known pixel grid — integer mean luma for P6, raw plane for P5."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3) * 10
    got = decode(_ppm_p6(rgb))
    want = ((rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3).astype(
        np.uint8
    )
    assert got.shape == (2, 3) and (got == want).all()

    gray = np.array([[0, 128, 255], [7, 200, 31]], dtype=np.uint8)
    got5 = decode(_pgm_p5(gray))
    assert got5.shape == (2, 3) and (got5 == gray).all()

    # non-netpbm / malformed payloads -> None (fake fallback downstream)
    assert decode(b"hello world") is None
    assert decode(b"P6\n3 2\n255\nshort") is None  # truncated plane
    assert decode(b"P6\n3 2\n65535\n" + b"\0" * 12) is None  # 16-bit maxval
    assert decode(b"") is None


def test_decode_features_real_ppm_histogram(spark):
    """decode_features over a PPM payload histograms the DECODED PIXELS
    (not the raw payload bytes): a solid-color image lands every pixel in
    exactly one bin, which the raw header bytes would never do."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import decode_features

    img = np.full((4, 5, 3), 200, dtype=np.uint8)  # luma 200 -> bin 6
    payload = _ppm_p6(img)
    row = decode_features(_media_df(spark, payload, w=5, h=4)).collect()[0]
    want = [0] * 8
    want[200 >> 5] = 4 * 5
    assert row["features"] == want


def test_patch_grid_real_ppm_pixels(spark):
    """patch_grid on a PPM payload tiles the DECODED image with the
    header dims authoritative over the (deliberately wrong) meta dims."""
    import hashlib

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import patch_grid

    h, w = 17, 20
    gray = (np.arange(h * w, dtype=np.uint8).reshape(h, w) * 3).astype(np.uint8)
    payload = _pgm_p5(gray)
    media = _media_df(spark, payload, w=999, h=1)  # meta lies; header wins
    got = {
        (r["py"], r["px"]): (r["patch_mean"], r["patch_digest"])
        for r in patch_grid(media, patch=16).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    tile00 = gray[0:16, 0:16]
    assert got[(0, 0)][1] == hashlib.md5(tile00.tobytes()).hexdigest()
    assert got[(0, 0)][0] == float(tile00.mean())


def test_resize_real_ppm_nearest_neighbor(spark):
    """resize on a PGM payload subsamples the DECODED pixel grid with the
    exact nearest-neighbor index rule."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import resize

    h, w = 8, 12
    gray = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    payload = _pgm_p5(gray)
    tw, th = 4, 3
    out = resize(_media_df(spark, payload, w=1, h=1), target_w=tw, target_h=th).collect()[0]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    assert bytes(out["content"]) == gray[np.ix_(ys, xs)].tobytes()
    assert out["meta"]["width"] == tw and out["meta"]["height"] == th


def test_pixel_decoder_roundtrip_property():
    """Property: any (h, w[, 3]) uint8 array encoded as binary PGM/PPM
    decodes back to exactly itself (P5) / its integer mean luma (P6),
    independent of dims, header whitespace style, or pixel content."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        rgb=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
        sep=st.sampled_from([b"\n", b" ", b"\t", b"\n# c\n"]),
    )
    def check(w, h, rgb, seed, sep):
        rng = np.random.default_rng(seed)
        if rgb:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            payload = b"P6" + sep + b"%d %d" % (w, h) + sep + b"255\n" + img.tobytes()
            want = (
                (img[:, :, 0].astype(np.uint16) + img[:, :, 1] + img[:, :, 2]) // 3
            ).astype(np.uint8)
        else:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            payload = b"P5" + sep + b"%d %d" % (w, h) + sep + b"255\n" + img.tobytes()
            want = img
        got = decode(payload)
        assert got is not None and got.shape == (h, w) and (got == want).all()

    check()


def _bmp24(img_rgb, top_down: bool = False) -> bytes:
    """Minimal uncompressed 24-bit BMP from an (h, w, 3) uint8 RGB array:
    BITMAPINFOHEADER, BGR pixel order, 4-byte row alignment, bottom-up
    storage unless top_down."""
    import numpy as np

    h, w, _ = img_rgb.shape
    stride = ((24 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = img_rgb[:, :, ::-1].reshape(h, 3 * w)  # RGB -> BGR
    stored = rows if top_down else rows[::-1]
    data_off = 14 + 40
    size = data_off + stride * h
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if top_down else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (stride * h).to_bytes(4, "little")
        + b"\0" * 16
    )
    return header + stored.tobytes()


def _bmp8(idx, palette_rgb) -> bytes:
    """Minimal 8-bit palette BMP from an (h, w) index array and an
    (n, 3) RGB palette (stored as BGR0 entries)."""
    import numpy as np

    h, w = idx.shape
    n_pal = len(palette_rgb)
    stride = ((8 * w + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = idx
    pal = np.zeros((n_pal, 4), dtype=np.uint8)
    pal[:, :3] = np.asarray(palette_rgb, dtype=np.uint8)[:, ::-1]  # RGB -> BGR
    data_off = 14 + 40 + 4 * n_pal
    size = data_off + stride * h
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (stride * h).to_bytes(4, "little")
        + b"\0" * 8 + n_pal.to_bytes(4, "little") + b"\0" * 4
    )
    return header + pal.tobytes() + rows[::-1].tobytes()


def test_pixel_decoder_bmp_exact_pixels():
    """BMP real-decode path (r06): 24-bit bottom-up BGR with row padding,
    top-down negative-height, and 8-bit palette all decode to the exact
    known grid; unsupported shapes reject to the fake fallback."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rgb = (np.arange(3 * 5 * 3, dtype=np.uint8).reshape(3, 5, 3) * 5).astype(np.uint8)
    want = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)

    got = decode(_bmp24(rgb))
    assert got.shape == (3, 5) and (got == want).all()
    got_td = decode(_bmp24(rgb, top_down=True))
    assert (got_td == want).all()

    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    palette = [(255, 0, 0), (0, 255, 0), (30, 60, 90)]
    want8 = np.array(
        [[(255) // 3, (255) // 3, (30 + 60 + 90) // 3]] * 2, dtype=np.uint8
    )
    want8[1] = want8[0][::-1]
    got8 = decode(_bmp8(idx, palette))
    assert got8.shape == (2, 3) and (got8 == want8).all()

    # rejects: truncated plane, palette index out of range, non-BI_RGB
    assert decode(_bmp24(rgb)[:-4]) is None
    bad_idx = np.array([[0, 3]], dtype=np.uint8)  # palette has 3 entries
    assert decode(_bmp8(bad_idx, palette)) is None
    assert decode(b"BMshort") is None


def test_decode_features_real_bmp_histogram(spark):
    """decode_features histograms BMP DECODED pixels end-to-end through
    the Arrow stage (same contract as the PPM test)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import decode_features

    img = np.full((2, 3, 3), 100, dtype=np.uint8)  # luma 100 -> bin 3
    row = decode_features(_media_df(spark, _bmp24(img), w=3, h=2)).collect()[0]
    want = [0] * 8
    want[100 >> 5] = 2 * 3
    assert row["features"] == want


def test_bmp_decoder_roundtrip_property():
    """Property: any (h, w, 3) uint8 array encoded as 24-bit BMP (either
    orientation, any width mod 4) decodes to its integer mean luma."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 17),
        h=st.integers(1, 9),
        top_down=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, top_down, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        want = (
            (img[:, :, 0].astype(np.uint16) + img[:, :, 1] + img[:, :, 2]) // 3
        ).astype(np.uint8)
        got = decode(_bmp24(img, top_down=top_down))
        assert got is not None and got.shape == (h, w) and (got == want).all()

    check()


def _wav(samples, rate=8000, bits=16, channels=1, extra_chunk=False) -> bytes:
    """Minimal RIFF/WAVE PCM encoder. `samples` is an (n,) or (n, channels)
    int array; 8-bit stores unsigned (value + 128). extra_chunk inserts an
    odd-sized LIST chunk before `data` to exercise word-aligned walking."""
    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    assert ch == channels
    if bits == 8:
        body = (arr + 128).astype(np.uint8).tobytes()
    else:
        body = arr.astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * bits // 8).to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if extra_chunk:
        chunks += b"LIST" + (3).to_bytes(4, "little") + b"odd" + b"\0"  # pad
    chunks += b"data" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_decoder_exact_samples():
    """PCM WAV real-decode (r06): 16-bit mono exact, stereo integer-mean
    mixdown, 8-bit unsigned recentering, chunk walking past an odd LIST
    chunk; non-WAV and non-PCM reject."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()

    mono = np.array([0, 1000, -32768, 32767, -1], dtype=np.int32)
    got, rate, bits = decode(_wav(mono, rate=44100))
    assert bits == 16
    assert rate == 44100 and (got == mono).all()

    stereo = np.array([[100, 200], [-5, -6], [32767, 32766]], dtype=np.int32)
    got2, _, _ = decode(_wav(stereo, channels=2))
    assert (got2 == np.array([150, -6, 32766])).all()  # floor mean: -5.5 -> -6

    eight = np.array([-128, 0, 127], dtype=np.int32)
    got3, _, bits8 = decode(_wav(eight, bits=8))
    assert bits8 == 8  # native grid, keys the silence floor
    assert (got3 == eight).all()

    got4, rate4, _ = decode(_wav(mono, extra_chunk=True))
    assert rate4 == 8000 and (got4 == mono).all()

    assert decode(b"not audio at all") is None
    assert decode(_wav(mono)[:30]) is None  # truncated data chunk


def test_audio_features_real_wav_and_fake_fallback(spark):
    """audio_features end-to-end through the Arrow stage: real WAV rows
    carry their sample_rate and exact integer peak/rms; non-audio payloads
    take the byte-sample fake path marked by sample_rate 0."""
    import math

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import audio_features

    samples = np.array([3, -4, 0, 5], dtype=np.int32)
    wav = _wav(samples, rate=16000)
    media = spark.createDataFrame(
        [(1, wav, "audio/wav"), (2, b"abc", "text")],
        "doc_id long, content binary, media_type string",
    )
    got = {r["doc_id"]: r.asDict() for r in audio_features(media).collect()}
    sq = int((samples.astype(np.int64) ** 2).sum())
    assert got[1] == {
        "doc_id": 1, "sample_rate": 16000, "n_samples": 4, "peak_abs": 5,
        "rms_x100": math.isqrt(10_000 * sq // 4),
        # [3,-4,0,5]: one strict flip of 3 pairs; all |x| <= 328 floor
        "zcr_ppm": 333_333, "silence_ppm": 1_000_000,
    }
    assert got[2]["sample_rate"] == 0  # fake path marker
    assert got[2]["n_samples"] == 3 and got[2]["peak_abs"] == ord("c")


def _y4m(frames_luma, fps=(25, 1), chroma: str = "420jpeg") -> bytes:
    """Minimal YUV4MPEG2 encoder from an (n, h, w) uint8 luma array;
    chroma planes are zero-filled at the subsampling implied by `chroma`."""
    import numpy as np

    arr = np.asarray(frames_luma, dtype=np.uint8)
    n, h, w = arr.shape
    luma = h * w
    cw, ch = (w + 1) // 2, (h + 1) // 2  # chroma planes are ceil-sized
    extra = {"420jpeg": 2 * cw * ch, "422": 2 * cw * h, "444": luma * 2, "mono": 0}[
        chroma
    ]
    head = b"YUV4MPEG2 W%d H%d F%d:%d C%s\n" % (w, h, fps[0], fps[1],
                                                chroma.encode())
    body = b"".join(
        b"FRAME\n" + arr[i].tobytes() + b"\0" * extra for i in range(n)
    )
    return head + body


def test_y4m_decoder_exact_frames():
    """Y4M real-decode (r06): luma planes parse exactly for 420/mono, fps
    lands as integer ppm, malformed streams reject."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _y4m_decoder

    decode = _y4m_decoder()
    frames = (np.arange(3 * 4 * 6, dtype=np.uint8).reshape(3, 4, 6) * 3).astype(
        np.uint8
    )
    got, fps_ppm = decode(_y4m(frames, fps=(30000, 1001)))
    assert got.shape == (3, 4, 6) and (got == frames).all()
    assert fps_ppm == 30000 * 1_000_000 // 1001

    got_m, _ = decode(_y4m(frames, chroma="mono"))
    assert (got_m == frames).all()

    assert decode(b"not video") is None
    assert decode(_y4m(frames)[:-5]) is None  # truncated final frame
    assert decode(b"YUV4MPEG2 W0 H4\nFRAME\n") is None


def test_keyframe_sample_strides_real_y4m(spark):
    """keyframe_sample end-to-end: every stride-th frame becomes one row
    with exact mean luma + plane digest; non-video payloads emit nothing."""
    import hashlib

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import keyframe_sample

    frames = np.stack(
        [np.full((2, 3), v, dtype=np.uint8) for v in (10, 20, 30, 40, 50)]
    )
    media = spark.createDataFrame(
        [(1, _y4m(frames), "video/y4m"), (2, b"plain text", "text")],
        "doc_id long, content binary, media_type string",
    )
    got = {r["frame_idx"]: r.asDict() for r in keyframe_sample(media, stride=2).collect()}
    assert set(got) == {0, 2, 4}
    assert all(r["doc_id"] == 1 for r in got.values())  # non-video emitted 0 rows
    assert got[2]["mean_luma"] == 30
    assert got[2]["luma_md5"] == hashlib.md5(frames[2].tobytes()).hexdigest()
    assert got[0]["fps_ppm"] == 25_000_000


def test_pixel_decoder_ascii_netpbm_exact_pixels():
    """ASCII netpbm (P2/P3) completes the family: decimal-token planes
    with comments parse to exact pixels; out-of-range values reject."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    gray = np.array([[0, 128, 255], [7, 200, 31]], dtype=np.uint8)
    p2 = b"P2\n# comment\n3 2\n255\n" + " ".join(
        str(v) for v in gray.ravel()
    ).encode() + b"\n"
    got = decode(p2)
    assert got.shape == (2, 3) and (got == gray).all()

    rgb = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3) * 20
    p3 = b"P3 2 2 255 " + " ".join(str(v) for v in rgb.ravel()).encode()
    want = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    got3 = decode(p3)
    assert got3.shape == (2, 2) and (got3 == want).all()

    assert decode(b"P2 3 2 255 0 1") is None         # short plane
    assert decode(b"P2 2 1 100 50 200") is None      # value > maxval
    assert decode(b"P2 2 1 70000 0 1") is None       # 16-bit maxval


def _png(img, row_filters=None, color_type=None, palette=None, depth=8,
         low_byte=0x7F, interlace=False) -> bytes:
    """Minimal PNG encoder for tests: real zlib stream and per-chunk CRCs.
    `img` is (h, w) gray/index or (h, w, c) with c in (2, 3, 4);
    `row_filters` picks the filter byte per scanline (default: cycle
    through all five) — the encoder applies the true filter transform so
    the decoder must run the matching unfilter. `palette` (list of RGB
    triples) switches to color type 3; depth=16 widens every sample to
    (value, low_byte) big-endian pairs — the decoder must truncate to the
    high byte. `interlace=True` serializes the seven Adam7 sub-images,
    each filtered independently."""
    import zlib

    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if palette is not None:
        color_type = 3
    elif color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    fbpp = c * depth // 8  # the filter unit: bytes per pixel

    def to_rows(sub):  # (hs, ws, c) uint8 -> (hs, ws*fbpp) int32 byte rows
        hs, ws, _ = sub.shape
        if depth == 16:
            wide = np.stack([sub, np.full_like(sub, low_byte)], axis=-1)
            return wide.reshape(hs, ws * c * 2).astype(np.int32)
        return sub.reshape(hs, ws * c).astype(np.int32)

    def filt(flat, filters):  # true PNG filter transform, row by row
        hs, rb = flat.shape
        out = bytearray()
        for y in range(hs):
            f = filters[y]
            cur = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(rb, dtype=np.int32)
            if rb > fbpp:
                left = np.concatenate([np.zeros(fbpp, dtype=np.int32), cur[:-fbpp]])
                upleft = np.concatenate([np.zeros(fbpp, dtype=np.int32), prev[:-fbpp]])
            else:
                left = np.zeros(rb, dtype=np.int32)
                upleft = np.zeros(rb, dtype=np.int32)
            if f == 0:
                enc = cur
            elif f == 1:
                enc = cur - left
            elif f == 2:
                enc = cur - prev
            elif f == 3:
                enc = cur - (left + prev) // 2
            else:
                p = left + prev - upleft
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, prev, upleft))
                enc = cur - pred
            out.append(f)
            out += (enc % 256).astype(np.uint8).tobytes()
        return out

    raw = bytearray()
    if not interlace:
        filters = row_filters or [(y % 5) for y in range(h)]
        raw += filt(to_rows(arr), filters)
    else:
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = arr[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            filters = row_filters or [(y % 5) for y in range(sub.shape[0])]
            raw += filt(to_rows(sub), filters)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + zlib.crc32(ctype + body).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, color_type, 0, 0, 1 if interlace else 0])
    )
    comp = zlib.compress(bytes(raw))
    # split the deflate stream across two IDAT chunks to pin concatenation
    mid = max(1, len(comp) // 2)
    plte = (
        chunk(b"PLTE", bytes(v for rgb in palette for v in rgb))
        if palette is not None
        else b""
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", comp[:mid])
        + chunk(b"IDAT", comp[mid:])
        + chunk(b"IEND", b"")
    )


def test_pixel_decoder_png_exact_pixels():
    """PNG real-decode (r07): stdlib zlib + numpy unfilter. Grayscale
    roundtrips exactly through ALL FIVE filter types; RGB collapses by the
    same integer mean-luma rule as P6/BMP; RGBA ignores alpha; palette /
    16-bit / interlaced / corrupt streams reject to the fake fallback."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    gray = (np.arange(6 * 7, dtype=np.uint8).reshape(6, 7) * 11).astype(np.uint8)
    for f in range(5):  # each filter type alone
        got = decode(_png(gray, row_filters=[f] * 6))
        assert got is not None and (got == gray).all(), f"filter {f}"
    got_mix = decode(_png(gray))  # cycling filters, split IDAT
    assert (got_mix == gray).all()

    rgb = (np.arange(3 * 4 * 3, dtype=np.uint8).reshape(3, 4, 3) * 7).astype(np.uint8)
    want = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    assert (decode(_png(rgb)) == want).all()

    rgba = np.dstack([rgb, np.full((3, 4), 77, dtype=np.uint8)])
    assert (decode(_png(rgba)) == want).all()  # alpha ignored

    ga = np.dstack([gray, np.full((6, 7), 5, dtype=np.uint8)])
    assert (decode(_png(ga)) == gray).all()  # gray+alpha -> gray plane

    # rejects
    ok = _png(gray)
    assert decode(ok[:40]) is None                        # truncated
    assert decode(ok[:-30] + b"\0" * 30) is None          # corrupt stream/no IEND
    pal = bytearray(_png(gray))
    pal[25] = 3  # color type flipped to palette but NO PLTE chunk
    assert decode(bytes(pal)) is None
    depth16 = bytearray(_png(gray))
    depth16[24] = 16  # bit depth byte lies: stream is 8-bit sized
    assert decode(bytes(depth16)) is None
    inter = bytearray(_png(gray))
    inter[28] = 1  # interlace byte lies: stream has sequential layout
    assert decode(bytes(inter)) is None


def test_png_decoder_roundtrip_property():
    """Property: any 8-bit gray/RGB array under ANY per-row filter choice
    decodes back exactly (gray) / to integer mean luma (RGB)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 10),
        rgb=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, rgb, seed):
        rng = np.random.default_rng(seed)
        filters = rng.integers(0, 5, h).tolist()
        if rgb:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            want = (
                (img[:, :, 0].astype(np.uint16) + img[:, :, 1] + img[:, :, 2]) // 3
            ).astype(np.uint8)
        else:
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            want = img
        got = decode(_png(img, row_filters=filters))
        assert got is not None and got.shape == (h, w) and (got == want).all()

    check()


def test_decode_features_real_png_histogram(spark):
    """decode_features histograms PNG DECODED pixels end-to-end through
    the Arrow stage (same contract as the PPM/BMP tests)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import decode_features

    img = np.full((3, 4, 3), 70, dtype=np.uint8)  # luma 70 -> bin 2
    row = decode_features(_media_df(spark, _png(img), w=4, h=3)).collect()[0]
    want = [0] * 8
    want[70 >> 5] = 3 * 4
    assert row["features"] == want


def test_patch_grid_and_resize_real_png(spark):
    """resize + patch_grid run on PNG decoded pixels with header dims
    authoritative — the full decode→resize→patch pipeline is real for PNG."""
    import hashlib

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import patch_grid, resize

    h, w = 17, 20
    gray = (np.arange(h * w, dtype=np.uint8).reshape(h, w) * 3).astype(np.uint8)
    media = _media_df(spark, _png(gray), w=999, h=1)  # meta lies; header wins
    got = {
        (r["py"], r["px"]): r["patch_digest"]
        for r in patch_grid(media, patch=16).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert got[(0, 0)] == hashlib.md5(gray[0:16, 0:16].tobytes()).hexdigest()

    out = resize(media, target_w=5, target_h=4).collect()[0]
    ys = (np.arange(4) * h) // 4
    xs = (np.arange(5) * w) // 5
    assert bytes(out["content"]) == gray[np.ix_(ys, xs)].tobytes()


def test_resize_and_patch_grid_sniff_opt_out(spark):
    """ADVICE r06: resize/patch_grid accept sniff_pixels=False, forcing
    byte semantics even for a payload that parses as an image — same
    opt-out decode_features already had."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import patch_grid, resize

    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = _pgm_p5(gray)
    media = _media_df(spark, payload, w=len(payload), h=1)

    sniffed = resize(media, target_w=4, target_h=2).collect()[0]
    forced = resize(media, target_w=4, target_h=2, sniff_pixels=False).collect()[0]
    assert bytes(sniffed["content"]) != bytes(forced["content"])
    # forced path: payload treated as a 1-row byte image of declared width
    grid = np.resize(np.frombuffer(payload, dtype=np.uint8), (1, len(payload)))
    ys = (np.arange(2) * 1) // 2
    xs = (np.arange(4) * len(payload)) // 4
    assert bytes(forced["content"]) == grid[np.ix_(ys, xs)].tobytes()

    n_sniffed = patch_grid(media, patch=4).count()
    n_forced = patch_grid(media, patch=4, sniff_pixels=False).count()
    assert n_sniffed == 2 * 2  # decoded 8x8 image -> 4 tiles
    assert n_forced == 1 * -(-len(payload) // 4)  # declared 1x69 byte grid


def test_ascii_netpbm_rejects_trailing_garbage():
    """ADVICE r06: prose like 'P2 1 1 9 4 more words' must NOT decode as a
    1x1 image — the ASCII plane must consume exactly the remaining tokens."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    assert decode(b"P2 1 1 9 4 more words here") is None
    assert decode(b"P3 1 1 255 1 2 3 0") is None  # one extra token
    # exact-length plane still decodes
    got = decode(b"P2 2 1 9 4 7")
    assert got is not None and (got == np.array([[4, 7]])).all()
    # trailing comment lines are fine (stripped before tokenizing)
    got2 = decode(b"P2 2 1 9 4 7\n# trailing comment\n")
    assert got2 is not None and (got2 == np.array([[4, 7]])).all()


def test_wav_rejects_int32_overflow_sample_rate():
    """ADVICE r06: the rate field parses unsigned, so a payload declaring
    rate >= 2^31 must reject (fake fallback) instead of overflowing the
    int32 sample_rate column and failing the whole Arrow batch."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    mono = np.array([1, 2, 3], dtype=np.int32)
    bad = bytearray(_wav(mono, rate=8000))
    # fmt chunk starts at offset 12+8; rate field is fmt[4:8]
    rate_off = 12 + 8 + 4
    bad[rate_off : rate_off + 4] = (2**31).to_bytes(4, "little")
    assert decode(bytes(bad)) is None
    ok = decode(_wav(mono, rate=2**31 - 1))  # boundary still accepted
    assert ok is not None and ok[1] == 2**31 - 1


def test_y4m_odd_dims_ceil_sized_chroma():
    """ADVICE r06: 420/422 chroma planes are ceil-sized for odd dims —
    a legitimate 5x3 C420 stream must parse (luma*3//2 would mis-stride)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _y4m_decoder

    decode = _y4m_decoder()
    h, w = 3, 5
    frames = (np.arange(2 * h * w, dtype=np.uint8).reshape(2, h, w) * 4).astype(
        np.uint8
    )
    cw, ch = (w + 1) // 2, (h + 1) // 2
    head = b"YUV4MPEG2 W%d H%d F25:1 C420jpeg\n" % (w, h)
    body = b"".join(
        b"FRAME\n" + frames[i].tobytes() + b"\0" * (2 * cw * ch) for i in range(2)
    )
    got, _ = decode(head + body)
    assert got.shape == (2, h, w) and (got == frames).all()

    # odd-width 422: planes are ceil(w/2)*h each
    body422 = b"".join(
        b"FRAME\n" + frames[i].tobytes() + b"\0" * (2 * cw * h) for i in range(2)
    )
    got422, _ = decode(b"YUV4MPEG2 W%d H%d F25:1 C422\n" % (w, h) + body422)
    assert (got422 == frames).all()


# --- GIF (r07: LZW is pure-Python implementable, no codec library needed) --


def _gif_lzw(indices: bytes, min_code: int, clear_every: int | None = None) -> bytes:
    """Test-side GIF LZW compressor. The bit widths are assigned by
    SIMULATING THE DECODER's table growth (append-then-bump), which
    sidesteps the classic early/late-change convention mismatch entirely —
    whatever convention the decoder uses, this packer agrees with it."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = {bytes([k]): k for k in range(clear)}
    next_code = eoi + 1
    codes: list[int] = [clear]
    s = b""
    since_clear = 0
    for byte in indices:
        if clear_every and since_clear >= clear_every:
            if s:
                codes.append(table[s])
                s = b""
            codes.append(clear)
            table = {bytes([k]): k for k in range(clear)}
            next_code = eoi + 1
            since_clear = 0
        t = s + bytes([byte])
        if t in table:
            s = t
        else:
            codes.append(table[s])
            since_clear += 1
            if next_code < 4096:
                table[t] = next_code
                next_code += 1
            s = bytes([byte])
    if s:
        codes.append(table[s])
    codes.append(eoi)

    # bit-pack by decoder simulation
    out = bytearray()
    acc = nbits_acc = 0
    dec_len, width, prev_seen = clear + 2, min_code + 1, False
    for code in codes:
        acc |= code << nbits_acc
        nbits_acc += width
        while nbits_acc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits_acc -= 8
        if code == clear:
            dec_len, width, prev_seen = clear + 2, min_code + 1, False
            continue
        if code == eoi:
            break
        if prev_seen and dec_len < 4096:
            dec_len += 1
        prev_seen = True
        if dec_len == (1 << width) and width < 12:
            width += 1
    if nbits_acc:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif(
    idx,
    palette,
    interlaced: bool = False,
    local_palette: bool = False,
    with_ext: bool = True,
    clear_every: int | None = None,
) -> bytes:
    """Minimal GIF89a writer: one frame, global or local palette, optional
    graphic-control extension, optional interlace, real LZW stream."""
    import numpy as np

    idx = np.asarray(idx, dtype=np.uint8)
    h, w = idx.shape
    pal_bits = max((len(palette) - 1).bit_length(), 1)
    size = 1 << pal_bits
    pal = list(palette) + [(0, 0, 0)] * (size - len(palette))
    pal_bytes = bytes(v for rgb in pal for v in rgb)
    min_code = max(2, pal_bits)

    buf = bytearray(b"GIF89a")
    buf += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local_palette:
        buf += bytes([0x00, 0, 0])  # no GCT
    else:
        buf += bytes([0x80 | (pal_bits - 1), 0, 0])
        buf += pal_bytes
    if with_ext:  # graphic control extension, should be skipped cleanly
        buf += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    rows = idx
    if interlaced:
        order = np.concatenate(
            [np.arange(s, h, st) for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
        rows = idx[order]
    buf += b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    iflags = (0x40 if interlaced else 0) | (0x80 | (pal_bits - 1) if local_palette else 0)
    buf += bytes([iflags])
    if local_palette:
        buf += pal_bytes
    buf += bytes([min_code])
    lzw = _gif_lzw(rows.tobytes(), min_code, clear_every=clear_every)
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        buf += bytes([len(chunk)]) + chunk
    buf += b"\x00\x3b"
    return bytes(buf)


def test_pixel_decoder_gif_exact_pixels():
    """GIF real-decode: grayscale-palette images roundtrip exactly (pal[k]
    = (k,k,k) makes gray == index); color palettes collapse by mean luma;
    interlaced frames deinterlace; local palettes override; mid-stream
    clear codes reset the table; structural damage rejects to the fake."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    gray_pal = [(k, k, k) for k in range(256)]

    img = (np.arange(9 * 13, dtype=np.uint8).reshape(9, 13) * 17).astype(np.uint8)
    assert (decode(_gif(img, gray_pal)) == img).all()
    assert (decode(_gif(img, gray_pal, interlaced=True)) == img).all()
    assert (decode(_gif(img, gray_pal, local_palette=True)) == img).all()
    assert (decode(_gif(img, gray_pal, with_ext=False)) == img).all()
    assert (decode(_gif(img, gray_pal, clear_every=20)) == img).all()

    # small color palette: indexes map through mean luma
    pal4 = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (250, 250, 253)]
    want = np.array([(sum(c) // 3) for c in pal4], dtype=np.uint8)
    idx4 = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    assert (decode(_gif(idx4, pal4)) == want[idx4]).all()

    ok = _gif(img, gray_pal)
    assert decode(ok[:20]) is None                     # truncated header walk
    assert decode(ok[:-10]) is None                    # truncated data stream
    no_pal = bytearray(_gif(idx4, pal4))
    no_pal[10] &= 0x7F  # GCT flag off but no local palette either
    assert decode(bytes(no_pal)) is None
    assert decode(b"GIF89a" + b"\x00" * 7) is None


def test_gif_decoder_roundtrip_property():
    """Property: any uint8 image under a grayscale palette roundtrips
    exactly, interlaced or not, across LZW table resets — incl. images
    large enough to push the code width past 9 bits."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    gray_pal = [(k, k, k) for k in range(256)]

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 24),
        interlaced=st.booleans(),
        clear_every=st.sampled_from([None, 7, 64]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, interlaced, clear_every, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        payload = _gif(img, gray_pal, interlaced=interlaced, clear_every=clear_every)
        got = decode(payload)
        assert got is not None and got.shape == (h, w)
        assert (got == img).all()

    check()


def test_gif_code_width_growth_past_9_bits():
    """A high-entropy 64x64 image forces >512 table entries (10-bit codes)
    and, at 4096 entries, the deferred-clear frozen-table path."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    gray_pal = [(k, k, k) for k in range(256)]
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    assert (decode(_gif(img, gray_pal)) == img).all()
    big = rng.integers(0, 256, (96, 96), dtype=np.uint8)  # >4096 entries
    assert (decode(_gif(big, gray_pal)) == big).all()


def test_decode_features_real_gif_histogram(spark):
    """End-to-end: a GIF payload through the Arrow decode stage yields the
    PIXEL histogram, not the byte histogram."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import decode_features

    gray_pal = [(k, k, k) for k in range(256)]
    img = (np.arange(8 * 8, dtype=np.uint8).reshape(8, 8) * 4).astype(np.uint8)
    payload = _gif(img, gray_pal)
    media = _media_df(spark, payload, w=8, h=8)
    feats = decode_features(media).collect()[0]
    want = np.bincount(img.ravel() >> 5, minlength=8).tolist()
    assert feats["features"] == want


# --- JPEG (r07: baseline DCT decode in pure Python+numpy) ------------------


def _jpeg_encode(img, quant=None, sampling=None, restart=0,
                 gray_sampling=None) -> bytes:
    """Minimal baseline JPEG encoder for tests: forward DCT + quantize +
    canonical Huffman with flat custom tables (12 DC categories at 4 bits,
    all 162 AC run/size symbols at 8 bits — legal DHT, trivially canonical).
    Grayscale when img.ndim == 2, YCbCr 3-channel when img.ndim == 3 (input
    IS the YCbCr planes, pre-subsampled per `sampling`, so tests control
    exact coefficients). `restart` emits DRI + RSTn markers every N MCUs.
    `gray_sampling=(h, v)` declares sampling factors > 1 on a grayscale
    frame; per T.81 A.2 the single-component scan is then encoded
    NON-interleAVED (one block per MCU over the component's own ceil grid
    — ADVICE r07 regression surface)."""
    import numpy as np

    zz = np.array(
        [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
         12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
         35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
         58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
    )
    xs = np.arange(8)
    cu = np.where(xs == 0, 1 / np.sqrt(2.0), 1.0)
    A = (cu / 2.0) * np.cos((2 * xs[:, None] + 1) * xs[None, :] * np.pi / 16)

    if isinstance(img, np.ndarray) and img.ndim == 2:
        gh, gv = gray_sampling or (1, 1)
        comps = [(1, gh, gv, np.asarray(img, dtype=np.float64))]
    else:  # sequence of (pre-subsampled) Y, Cb, Cr planes
        comps = [
            (cid + 1, hs, vs, np.asarray(img[cid], dtype=np.float64))
            for cid, (hs, vs) in enumerate(sampling or [(1, 1)] * 3)
        ]
    max_h = max(c[1] for c in comps)
    max_v = max(c[2] for c in comps)
    fh, fw = comps[0][3].shape  # luma plane carries the frame dims
    if quant is None:
        quant = np.ones(64, dtype=np.int32)
    quant = np.asarray(quant, dtype=np.int32).ravel()

    # --- per-component quantized coefficient blocks
    mcux = -(-fw // (8 * max_h))
    mcuy = -(-fh // (8 * max_v))
    coef = {}
    for cid, hs, vs, plane in comps:
        bh, bw = mcuy * vs, mcux * hs
        padded = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        ph, pw = plane.shape
        padded[:ph, :pw] = plane
        padded[ph:, :pw] = plane[ph - 1 : ph, :]  # edge-extend padding
        padded[:, pw:] = padded[:, pw - 1 : pw]
        blk = (
            padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        f = np.einsum("ux,nxy,vy->nuv", A.T, blk, A.T)
        q = np.round(f.reshape(-1, 64) / quant[None, :]).astype(np.int32)
        coef[cid] = q[:, zz].reshape(bh, bw, 64)  # natural -> zigzag order

    # --- Huffman tables: DC cats 0..11 at 4 bits; AC syms at 8 bits
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc_code = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac_code = {s: (i, 8) for i, s in enumerate(sorted(ac_syms))}
    dc_counts = [0] * 16
    dc_counts[3] = 12
    ac_counts = [0] * 16
    ac_counts[7] = 162

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(marker + (len(body) + 2).to_bytes(2, "big") + body)

    qbody = bytes([0]) + bytes(int(v) for v in quant)
    seg(b"\xff\xdb", qbody)
    sof = bytes([8]) + fh.to_bytes(2, "big") + fw.to_bytes(2, "big") + bytes([len(comps)])
    for cid, hs, vs, _ in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    seg(b"\xff\xc0", sof)
    seg(b"\xff\xc4", bytes([0x00] + dc_counts) + bytes(dc_syms))
    seg(b"\xff\xc4", bytes([0x10] + ac_counts) + bytes(sorted(ac_syms)))
    if restart:
        seg(b"\xff\xdd", restart.to_bytes(2, "big"))
    sos = bytes([len(comps)])
    for cid, *_ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    seg(b"\xff\xda", sos)

    # --- entropy coding
    bits: list[tuple[int, int]] = []

    def put(code, nb):
        bits.append((code, nb))

    def mag(v):
        a, t = abs(v), 0
        while a:
            t += 1
            a >>= 1
        return t

    def put_val(v, t):
        if t:
            put(v if v >= 0 else v + (1 << t) - 1, t)

    def flush_segment() -> bytes:
        acc = accn = 0
        raw = bytearray()
        for code, nb in bits:
            acc = (acc << nb) | code
            accn += nb
            while accn >= 8:
                byte = (acc >> (accn - 8)) & 0xFF
                raw.append(byte)
                if byte == 0xFF:
                    raw.append(0x00)
                accn -= 8
        if accn:
            byte = ((acc << (8 - accn)) | ((1 << (8 - accn)) - 1)) & 0xFF
            raw.append(byte)
            if byte == 0xFF:
                raw.append(0x00)
        bits.clear()
        return bytes(raw)

    dc_pred = dict.fromkeys(coef, 0)

    def emit_block(cid, blk):
        diff = int(blk[0]) - dc_pred[cid]
        dc_pred[cid] = int(blk[0])
        t = mag(diff)
        c, nb = dc_code[t]
        put(c, nb)
        put_val(diff, t)
        run = 0
        for k in range(1, 64):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, nb = ac_code[0xF0]
                put(c, nb)
                run -= 16
            s = mag(v)
            c, nb = ac_code[(run << 4) | s]
            put(c, nb)
            put_val(v, s)
            run = 0
        if run:
            c, nb = ac_code[0x00]
            put(c, nb)

    def maybe_restart(mcus):
        nonlocal dc_pred
        if restart and mcus and mcus % restart == 0:
            out.extend(flush_segment())
            out.extend(bytes([0xFF, 0xD0 + ((mcus // restart - 1) % 8)]))
            dc_pred = dict.fromkeys(coef, 0)

    if len(comps) == 1 and (comps[0][1] > 1 or comps[0][2] > 1):
        # one-component scan with factors > 1: NON-interleaved raster over
        # the component's own ceil(h/8) x ceil(w/8) grid, one block per MCU
        cid = comps[0][0]
        mcus = 0
        for by in range(-(-fh // 8)):
            for bx in range(-(-fw // 8)):
                maybe_restart(mcus)
                emit_block(cid, coef[cid][by, bx])
                mcus += 1
    else:
        mcus = 0
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(mcus)
                for cid, hs, vs, _ in comps:
                    for vy in range(vs):
                        for vx in range(hs):
                            emit_block(cid, coef[cid][my * vs + vy, mx * hs + vx])
                mcus += 1
    out += flush_segment()
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_dc_only_exact():
    """Constant 8x8 blocks with an all-ones quant table decode EXACTLY:
    the DCT of a constant block is a lone integral DC coefficient, so
    quantization is lossless end-to-end."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(3)
    tiles = rng.integers(0, 256, (3, 4), dtype=np.uint8)
    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)  # 24x32, constant blocks
    got = decode(_jpeg_encode(img))
    assert got is not None and got.shape == img.shape
    assert (got == img).all()


def test_jpeg_quant1_near_lossless_and_dims():
    """All-ones quant: the only loss is coefficient rounding (<=0.5 per
    coefficient), which bounds the spatial error to a few levels. Also
    covers non-multiple-of-8 dims (edge-extended pad, cropped back)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (21, 29), dtype=np.uint8)
    got = decode(_jpeg_encode(img))
    assert got is not None and got.shape == (21, 29)
    diff = np.abs(got.astype(np.int32) - img.astype(np.int32))
    assert diff.max() <= 4, diff.max()


def test_jpeg_restart_intervals():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (16, 64), dtype=np.uint8)  # 16 MCUs
    for ri in (1, 3, 5):
        got = decode(_jpeg_encode(img, restart=ri))
        base = decode(_jpeg_encode(img))
        assert got is not None and (got == base).all(), ri


def test_jpeg_color_and_subsampling():
    """4:4:4 and 4:2:0 color: constant chroma planes make the YCbCr->RGB->
    mean-luma collapse exactly predictable."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(9)
    h, w = 16, 24
    y_tiles = rng.integers(40, 216, (h // 8, w // 8), dtype=np.uint8)
    y = np.repeat(np.repeat(y_tiles, 8, 0), 8, 1)  # constant-block luma: exact

    def expect(yv, cbv, crv):
        cb, cr = cbv - 128.0, crv - 128.0
        s = 0
        for chan in (yv + 1.402 * cr, yv - 0.344136 * cb - 0.714136 * cr, yv + 1.772 * cb):
            s += int(np.clip(np.floor(chan + 0.5), 0, 255))
        return s // 3

    for cbv, crv, sampling in (
        (128, 128, [(1, 1), (1, 1), (1, 1)]),   # neutral chroma, 4:4:4
        (100, 160, [(1, 1), (1, 1), (1, 1)]),
        (100, 160, [(2, 2), (1, 1), (1, 1)]),   # 4:2:0
        (90, 140, [(2, 1), (1, 1), (1, 1)]),    # 4:2:2
    ):
        sh, sv = sampling[0]  # luma factors; chroma at (1,1) covers h/sv x w/sh
        ch, cw = -(-h // sv), -(-w // sh)
        planes = [
            y.astype(np.float64),
            np.full((ch, cw), float(cbv)),
            np.full((ch, cw), float(crv)),
        ]
        payload = _jpeg_encode(planes, sampling=sampling)
        got = decode(payload)
        assert got is not None and got.shape == (h, w)
        want = np.vectorize(lambda v: expect(float(v), cbv, crv))(y)
        assert (got == want).all(), (cbv, crv, sampling)


def test_jpeg_rejects():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    img = np.full((8, 8), 77, dtype=np.uint8)
    ok = _jpeg_encode(img)
    assert decode(ok[:30]) is None            # truncated mid-segment
    assert decode(ok[:-2]) is None            # no EOI
    prog = bytearray(ok)
    sof_at = prog.index(b"\xff\xc0")
    # SOF2 with a sequential full-band scan script is malformed
    # progressive (a progressive DC scan must be Ss=Se=0)
    prog[sof_at + 1] = 0xC2
    assert decode(bytes(prog)) is None
    assert decode(b"\xff\xd8\xff\xd9") is None  # no frame


def test_jpeg_gray_sampling_factors_noninterleaved():
    """ADVICE r07: a one-component sequential scan is ALWAYS
    non-interleaved (T.81 A.2) even when the component declares sampling
    factors > 1. 32x32 (block counts coincide with the interleaved walk:
    silently scrambled order before the fix) and 24x40 (counts differ:
    desynced to the fake path before the fix) both decode exactly, and
    match the (1,1)-factor encoding of the same pixels."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(19)
    for shape in [(4, 4), (3, 5)]:  # -> 32x32, 24x40 pixel dims
        tiles = rng.integers(0, 256, shape, dtype=np.uint8)
        img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)  # constant blocks
        got = decode(_jpeg_encode(img, gray_sampling=(2, 2)))
        assert got is not None and got.shape == img.shape, shape
        assert (got == img).all(), shape
        assert (got == decode(_jpeg_encode(img))).all(), shape
    # restart markers count MCUs = blocks in the non-interleaved walk
    img = np.repeat(np.repeat(rng.integers(0, 256, (2, 6), dtype=np.uint8), 8, 0), 8, 1)
    got = decode(_jpeg_encode(img, gray_sampling=(2, 2), restart=5))
    assert got is not None and (got == img).all()


def test_jpeg_total_coefficient_memory_capped():
    """ADVICE r07: the 64 Mpx cap bounds ONE plane; a 3-component 4:4:4
    header at that limit would still demand ~800 MB of coefficient arrays
    before any entropy byte. The SUM of padded per-component plane pixels
    now obeys the same bound — a crafted sub-KB header is rejected (fake
    fallback) instead of allocating."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    planes = [np.full((16, 16), v, dtype=np.uint8) for v in (64, 128, 192)]
    ok = _jpeg_encode(planes, sampling=[(1, 1)] * 3)
    assert decode(ok) is not None  # sanity: the small original decodes
    bomb = bytearray(ok)
    sof_at = bomb.index(b"\xff\xc0")
    bomb[sof_at + 5 : sof_at + 9] = (8000).to_bytes(2, "big") * 2  # 64 Mpx
    assert decode(bytes(bomb)) is None  # 3 x 64 Mpx planes > total cap


def test_jpeg_duplicate_scan_component_rejected():
    """Review r08: an SOS naming the same component several times passes
    the one-scan/all-components count check but would double-decode one
    block grid with a shared DC predictor (and collapse its AC tables) —
    a non-conforming file must reject (T.81 B.2.3: Csj distinct), not
    decode to confidently-wrong pixels."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    planes = [np.full((16, 16), v, dtype=np.uint8) for v in (64, 128, 192)]
    ok = _jpeg_encode(planes, sampling=[(1, 1)] * 3)
    assert decode(ok) is not None
    dup = bytearray(ok)
    sos_at = dup.index(b"\xff\xda")
    # SOS: marker(2) len(2) ns(1) then (cid, tables) pairs at +5, +7, +9
    assert dup[sos_at + 4] == 3
    dup[sos_at + 5] = dup[sos_at + 7] = dup[sos_at + 9] = 1
    assert decode(bytes(dup)) is None


def test_jpeg_through_arrow_stage(spark):
    """A JPEG payload through decode_features yields the PIXEL histogram."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import decode_features

    tiles = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
    payload = _jpeg_encode(img)
    media = _media_df(spark, payload, w=32, h=24)
    feats = decode_features(media).collect()[0]
    want = np.bincount(img.ravel() >> 5, minlength=8).tolist()
    assert feats["features"] == want


def test_jpeg_roundtrip_property():
    """Property: any grayscale image at any dims, with/without restart
    markers, decodes within the quant-1 rounding bound."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 30),
        restart=st.sampled_from([0, 2]),
        gray_sampling=st.sampled_from([None, (2, 2), (2, 1), (1, 2)]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, restart, gray_sampling, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        got = decode(
            _jpeg_encode(img, restart=restart, gray_sampling=gray_sampling)
        )
        assert got is not None and got.shape == (h, w)
        assert np.abs(got.astype(np.int32) - img.astype(np.int32)).max() <= 4

    check()


# --- r07: G.711 / float WAV variants and uncompressed TIFF -----------------


def _wav_raw(body: bytes, fmt: bytes) -> bytes:
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def _fmt(tag, channels=1, rate=8000, bits=16, ext_tag=None) -> bytes:
    fmt = (
        tag.to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * bits // 8).to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    if ext_tag is not None:  # WAVE_FORMAT_EXTENSIBLE trailer
        fmt += (22).to_bytes(2, "little") + bits.to_bytes(2, "little")
        fmt += (0).to_bytes(4, "little")
        fmt += ext_tag.to_bytes(2, "little") + bytes(14)  # SubFormat GUID
    return fmt


def _g711_ref(byte: int, ulaw: bool) -> int:
    """Independent per-byte G.711 expansion (classic branchy form), used
    as the oracle for the vectorized decoder."""
    if ulaw:
        u = (~byte) & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        return -mag if u & 0x80 else mag
    a = byte ^ 0x55
    exp, mant = (a >> 4) & 7, a & 0x0F
    mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return mag if a & 0x80 else -mag


def test_wav_g711_ulaw_alaw_exact():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    all_bytes = bytes(range(256))
    for tag, ulaw in ((7, True), (6, False)):
        got = decode(_wav_raw(all_bytes, _fmt(tag, bits=8)))
        assert got is not None
        mono, rate, _ = got
        want = np.array([_g711_ref(b, ulaw) for b in range(256)])
        assert rate == 8000 and (mono == want).all()
    # standard spot values: mu-law 0x00 -> -32124, 0x80 -> +32124;
    # A-law 0xD5 -> +8, 0x55 -> -8, 0x2A -> -32256? no: 0x2A^0x55=0x7F ->
    # exp 7, mant 15 -> ((15<<4)+0x108)<<6 = -... just pin the known four
    mono, _, _ = decode(_wav_raw(bytes([0x00, 0x80]), _fmt(7, bits=8)))
    assert mono.tolist() == [-32124, 32124]
    mono, _, _ = decode(_wav_raw(bytes([0xD5, 0x55]), _fmt(6, bits=8)))
    assert mono.tolist() == [8, -8]


def test_wav_float32_and_extensible():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    f = np.array([0.0, 1.0, -1.0, 0.5, -0.25, 2.0], dtype="<f4")
    got = decode(_wav_raw(f.tobytes(), _fmt(3, bits=32)))
    assert got is not None
    mono, rate, _ = got
    # round(x*32767) clamped: 2.0 saturates at 32767
    assert mono.tolist() == [0, 32767, -32767, 16384, -8192, 32767]
    # EXTENSIBLE wrapping PCM16
    pcm = np.array([100, -200, 300], dtype="<i2")
    got = decode(_wav_raw(pcm.tobytes(), _fmt(0xFFFE, bits=16, ext_tag=1)))
    assert got is not None and got[0].tolist() == [100, -200, 300]
    # EXTENSIBLE wrapping an unsupported subformat rejects
    assert decode(_wav_raw(pcm.tobytes(), _fmt(0xFFFE, bits=16, ext_tag=2))) is None
    # bad bit widths for the new tags reject
    assert decode(_wav_raw(f.tobytes(), _fmt(3, bits=16))) is None
    assert decode(_wav_raw(all_bytes := bytes(8), _fmt(7, bits=16))) is None and all_bytes


def _packbits_encode(data: bytes) -> bytes:
    """Reference PackBits compressor: repeat runs >= 2 as (257-run, byte),
    literal stretches chunked at 128."""
    out = bytearray()
    i, m = 0, len(data)
    while i < m:
        run = 1
        while i + run < m and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            j = i + 1
            while j < m and (j - i) < 128 and not (
                j + 1 < m and data[j] == data[j + 1]
            ):
                j += 1
            out.append(j - i - 1)
            out += data[i:j]
            i = j
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW compressor with SPEC width assignment: the decoder's table
    grows one entry per data code after the first, and the width widens
    EARLY — when the table reaches 2^width - 1 (511/1023/2047, libtiff
    convention). MSB-first bit packing."""
    CLEAR, EOI = 256, 257
    dic = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    dec_len = 258
    emitted = 0
    codes = [(CLEAR, 9)]

    def emit(code):
        nonlocal dec_len, width, emitted
        codes.append((code, width))
        emitted += 1
        if emitted >= 2:  # decoder appends from its second data code on
            dec_len += 1
            if dec_len == (1 << width) - 1 and width < 12:
                width += 1

    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in dic:
            cur = nxt
        else:
            emit(dic[cur])
            dic[nxt] = next_code
            next_code += 1
            cur = bytes([byte])
    if cur:
        emit(dic[cur])
    codes.append((EOI, width))
    buf = nb = 0
    out = bytearray()
    for code, wd in codes:
        buf = (buf << wd) | code
        nb += wd
        while nb >= 8:
            nb -= 8
            out.append((buf >> nb) & 0xFF)
    if nb:
        out.append((buf << (8 - nb)) & 0xFF)
    return bytes(out)


def _tiff(img, byte_order="<", photometric=None, rows_per_strip=None,
          compression=1, predictor=1) -> bytes:
    """Minimal TIFF writer: gray (h, w) or RGB (h, w, 3), strip layout,
    optional MinIsWhite, either byte order; compression 1/5/8/32773 with
    optional horizontal-differencing predictor."""
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    rgb = img.ndim == 3
    h, w = img.shape[:2]
    spp = 3 if rgb else 1
    photometric = photometric if photometric is not None else (2 if rgb else 1)
    rps = rows_per_strip or h
    bo = byte_order
    big = bo == ">"

    def u2(v):
        return int(v).to_bytes(2, "big" if big else "little")

    def u4(v):
        return int(v).to_bytes(4, "big" if big else "little")

    stored = img
    if predictor == 2:
        d = img.astype(np.int64)
        d[:, 1:] -= img.astype(np.int64)[:, :-1]
        stored = (d & 0xFF).astype(np.uint8)
    pack = {
        1: lambda b: b,
        5: _tiff_lzw_encode,
        8: zlib.compress,
        32773: _packbits_encode,
    }[compression]
    strips = [pack(stored[y : y + rps].tobytes()) for y in range(0, h, rps)]
    n_strips = len(strips)
    hdr = b"MM\x00*" if big else b"II*\x00"
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, spp, [8] * spp),
        (259, 3, 1, compression), (262, 3, 1, photometric), (277, 3, 1, spp),
        (278, 3, 1, rps),
    ]
    if predictor != 1:
        tags.append((317, 3, 1, predictor))
    # strip offsets/counts resolved after we know the data base
    ifd_off = 8
    n_tags = len(tags) + 2
    data_base = ifd_off + 2 + 12 * n_tags + 4
    extra = bytearray()

    def enc(typ, cnt, vals):
        nonlocal extra
        if isinstance(vals, int):
            vals = [vals]
        step = {3: 2, 4: 4}[typ]
        raw = b"".join((u2(v) if typ == 3 else u4(v)) for v in vals)
        if len(raw) <= 4:
            return raw + bytes(4 - len(raw))
        off = data_base + len(extra)
        extra += raw
        return u4(off)

    # two-pass because strip offsets depend on extra's final size — enc all
    # tags first with a placeholder strip-offset table, then fix it up
    ifd = bytearray(u2(n_tags))
    placed = []
    for tag, typ, cnt, vals in tags:
        placed.append((tag, typ, cnt, enc(typ, cnt, vals)))
    # strip tables (may exceed 4 bytes when n_strips > 1)
    off_entry = enc(4, n_strips, [0] * n_strips)  # placeholder values
    cnt_entry = enc(4, n_strips, [len(s) for s in strips])
    strip_base = data_base + len(extra)
    offsets = []
    pos = strip_base
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    if n_strips * 4 <= 4:
        off_entry = u4(offsets[0])
    else:
        # rewrite the placeholder table inside extra
        tbl_off = int.from_bytes(off_entry, "big" if big else "little")
        rel = tbl_off - data_base
        extra[rel : rel + 4 * n_strips] = b"".join(u4(o) for o in offsets)
    placed.append((273, 4, n_strips, off_entry))
    placed.append((279, 4, n_strips, cnt_entry))
    placed.sort(key=lambda t: t[0])
    for tag, typ, cnt, val4 in placed:
        ifd += u2(tag) + u2(typ) + u4(cnt) + val4
    ifd += u4(0)  # next-IFD pointer
    body = bytearray(hdr + u4(ifd_off) + ifd + extra)
    for s in strips:
        body += s
    return bytes(body)


def test_pixel_decoder_tiff_exact_pixels():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    img = (np.arange(11 * 14, dtype=np.uint8).reshape(11, 14) * 13).astype(np.uint8)
    for bo in ("<", ">"):
        assert (decode(_tiff(img, byte_order=bo)) == img).all(), bo
    # multi-strip
    assert (decode(_tiff(img, rows_per_strip=4)) == img).all()
    # MinIsWhite inverts
    assert (decode(_tiff(img, photometric=0)) == (255 - img)).all()
    # RGB collapses by mean luma
    rgb = np.dstack([img, np.roll(img, 3), np.roll(img, 7)])
    want = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    assert (decode(_tiff(rgb)) == want).all()
    # rejects: truncated, compressed flag
    ok = _tiff(img)
    assert decode(ok[: len(ok) // 2]) is None
    comp = bytearray(_tiff(img))
    # flip Compression (tag 259) value to 5 (LZW): find its IFD slot
    idf_count = int.from_bytes(comp[8:10], "little")
    for e in range(idf_count):
        off = 10 + 12 * e
        if int.from_bytes(comp[off : off + 2], "little") == 259:
            comp[off + 8] = 5
    assert decode(bytes(comp)) is None


def test_tiff_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 16),
        rgb=st.booleans(),
        big=st.booleans(),
        rps=st.integers(1, 6),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, rgb, big, rps, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if rgb else (h, w)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want = (
            (img[:, :, 0].astype(np.uint16) + img[:, :, 1] + img[:, :, 2]) // 3
            if rgb
            else img
        )
        got = decode(_tiff(img, byte_order=">" if big else "<", rows_per_strip=rps))
        assert got is not None and (got == want).all()

    check()


def test_audio_features_zcr_and_silence(spark):
    """r07 additions: strict-sign-flip ZCR and silence ratio in exact ppm."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import audio_features

    # alternating +/-1000: every pair flips -> zcr_ppm = 1e6; no silence
    alt = np.tile([1000, -1000], 8)
    # half silent (|x| <= 328), no flips (all non-negative)
    half = np.array([0, 0, 0, 0, 5000, 5000, 5000, 5000])
    media = spark.createDataFrame(
        [(1, _wav(alt)), (2, _wav(half))], "doc_id long, content binary"
    )
    got = {r["doc_id"]: r for r in audio_features(media).collect()}
    assert got[1]["zcr_ppm"] == 1_000_000
    assert got[1]["silence_ppm"] == 0
    assert got[2]["zcr_ppm"] == 0
    assert got[2]["silence_ppm"] == 500_000
    # zeros count as silent and as sign-flip breakers
    assert got[2]["n_samples"] == 8


def test_scene_changes_detects_cuts(spark):
    """Two static shots with one hard cut: frame 0 + the cut frame are the
    only emissions; a fixed-stride sampler would miss or over-sample."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import scene_changes

    h, w = 16, 16
    shot_a = np.full((h, w), 40, dtype=np.uint8)
    shot_b = np.full((h, w), 200, dtype=np.uint8)
    frames = [shot_a, shot_a, shot_a, shot_b, shot_b, shot_a]
    payload = _y4m(frames)
    media = spark.createDataFrame([(7, payload)], "doc_id long, content binary")
    rows = sorted(
        (r["frame_idx"], r["mad"], r["mean_luma"])
        for r in scene_changes(media, threshold=24).collect()
    )
    assert rows == [(0, 0, 40), (3, 160, 200), (5, 160, 40)]
    # non-video payloads emit zero rows
    text = spark.createDataFrame([(8, b"not a video")], "doc_id long, content binary")
    assert scene_changes(text).count() == 0
    # threshold above the cut magnitude keeps only frame 0
    only0 = scene_changes(media, threshold=200).collect()
    assert [(r["frame_idx"]) for r in only0] == [0]


def test_png_palette_16bit_and_bmp32(spark=None):
    """r07 hardening: 8-bit palette PNG (PLTE mean-luma mapped), 16-bit
    gray/RGB PNG (high-byte truncation per spec, under all filter types —
    the filter unit doubles to 2/6 bytes), and 32-bit BGRx BMP."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    # palette: indexes map through PLTE mean luma
    pal = [(255, 0, 0), (0, 255, 0), (10, 20, 33), (200, 200, 203)]
    want = np.array([sum(c) // 3 for c in pal], dtype=np.uint8)
    idx = (np.arange(5 * 9, dtype=np.uint8).reshape(5, 9) % 4).astype(np.uint8)
    assert (decode(_png(idx, palette=pal)) == want[idx]).all()
    # out-of-range index rejects
    bad = idx.copy()
    bad[0, 0] = 7
    assert decode(_png(bad, palette=pal)) is None

    # 16-bit gray: high byte survives, low byte discarded, every filter
    gray = (np.arange(6 * 7, dtype=np.uint8).reshape(6, 7) * 11).astype(np.uint8)
    for f in range(5):
        got = decode(_png(gray, depth=16, row_filters=[f] * 6, low_byte=0xA5))
        assert got is not None and (got == gray).all(), f
    # 16-bit RGB
    rgb = (np.arange(3 * 4 * 3, dtype=np.uint8).reshape(3, 4, 3) * 7).astype(np.uint8)
    want_rgb = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    assert (decode(_png(rgb, depth=16)) == want_rgb).all()
    # 16-bit palette is spec-invalid -> reject
    assert decode(_png(idx, palette=pal, depth=16)) is None

    # BMP 32bpp: append an alpha/padding byte per pixel to the 24-bit form
    img_rgb = (np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3) * 5).astype(
        np.uint8
    )
    bmp24 = _bmp24(img_rgb)
    # rebuild as 32bpp: header tweaks + BGRA pixel array
    h, w, _ = img_rgb.shape
    bgra = np.dstack(
        [img_rgb[:, :, 2], img_rgb[:, :, 1], img_rgb[:, :, 0],
         np.full((h, w), 9, dtype=np.uint8)]
    )[::-1]  # bottom-up
    px = bgra.reshape(h, w * 4).tobytes()
    hdr = bytearray(bmp24[:54])
    hdr[28] = 32  # bpp
    hdr[2:6] = (54 + len(px)).to_bytes(4, "little")
    hdr[34:38] = len(px).to_bytes(4, "little")
    want24 = (
        (img_rgb[:, :, 0].astype(np.uint16) + img_rgb[:, :, 1] + img_rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    assert (decode(bytes(hdr) + px) == want24).all()


def test_png_adam7_interlace():
    """r07: Adam7 streams decode exactly — gray, RGB, palette, 16-bit, and
    dims small enough that some passes are empty."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(21)

    for h, w in ((1, 1), (2, 3), (7, 5), (16, 16), (13, 22)):
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        got = decode(_png(gray, interlace=True))
        assert got is not None and (got == gray).all(), (h, w)

    rgb = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    want = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    assert (decode(_png(rgb, interlace=True)) == want).all()

    pal = [(k, 255 - k, k) for k in range(16)]
    lum = np.array([sum(c) // 3 for c in pal], dtype=np.uint8)
    idx = (rng.integers(0, 16, (10, 12))).astype(np.uint8)
    assert (decode(_png(idx, palette=pal, interlace=True)) == lum[idx]).all()

    gray16 = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    assert (decode(_png(gray16, depth=16, interlace=True)) == gray16).all()

    # truncated interlaced stream rejects
    ok = _png(rng.integers(0, 256, (16, 16), dtype=np.uint8), interlace=True)
    assert decode(ok[:-20] + b"\x00" * 10) is None


# --- progressive JPEG (r07: spectral selection + successive approximation) -


def _jpeg_encode_progressive(img, quant=None, sampling=None, dc_al=1, ac_al=1,
                             bands=((1, 5), (6, 63))) -> bytes:
    """Progressive (SOF2) encoder for tests: DC-first scan (point transform
    dc_al) + DC refinement bit scans, then per-component AC band scans at
    ac_al with EOBn runs + AC refinement scans emitting correction bits
    (the libjpeg encode_mcu_AC_refine structure). Same flat Huffman tables
    and coefficient pipeline as _jpeg_encode, so progressive and baseline
    streams carry IDENTICAL quantized coefficients — the decoders must
    produce identical pixels."""
    import numpy as np

    zz = np.array(
        [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
         12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
         35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
         58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
    )
    xs = np.arange(8)
    cu = np.where(xs == 0, 1 / np.sqrt(2.0), 1.0)
    A = (cu / 2.0) * np.cos((2 * xs[:, None] + 1) * xs[None, :] * np.pi / 16)

    if isinstance(img, np.ndarray) and img.ndim == 2:
        comps = [(1, 1, 1, np.asarray(img, dtype=np.float64))]
    else:
        comps = [
            (cid + 1, hs, vs, np.asarray(img[cid], dtype=np.float64))
            for cid, (hs, vs) in enumerate(sampling or [(1, 1)] * 3)
        ]
    max_h = max(c[1] for c in comps)
    max_v = max(c[2] for c in comps)
    fh, fw = comps[0][3].shape
    if quant is None:
        quant = np.ones(64, dtype=np.int32)
    quant = np.asarray(quant, dtype=np.int32).ravel()
    mcux = -(-fw // (8 * max_h))
    mcuy = -(-fh // (8 * max_v))
    coef = {}
    ni = {}
    for cid, hs, vs, plane in comps:
        bh, bw = mcuy * vs, mcux * hs
        padded = np.zeros((bh * 8, bw * 8), dtype=np.float64)
        ph, pw = plane.shape
        padded[:ph, :pw] = plane
        padded[ph:, :pw] = plane[ph - 1 : ph, :]
        padded[:, pw:] = padded[:, pw - 1 : pw]
        blk = (
            padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        f = np.einsum("ux,nxy,vy->nuv", A.T, blk, A.T)
        q = np.round(f.reshape(-1, 64) / quant[None, :]).astype(np.int32)
        coef[cid] = q[:, zz].reshape(bh, bw, 64)
        cw = -(-fw * hs // max_h)
        ch = -(-fh * vs // max_v)
        ni[cid] = (-(-ch // 8), -(-cw // 8))

    dc_syms = list(range(12))
    # progressive needs the EOBn symbols (n<<4, n=1..14) on top of the
    # sequential set — 176 symbols, still fine at a flat 8 bits
    ac_syms = sorted(
        [0x00, 0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
        + [n << 4 for n in range(1, 15)]
    )
    dc_code = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac_code = {s: (i, 8) for i, s in enumerate(ac_syms)}
    dc_counts = [0] * 16
    dc_counts[3] = 12
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)

    out = bytearray(b"\xff\xd8")

    def seg(marker, body):
        out.extend(marker + (len(body) + 2).to_bytes(2, "big") + body)

    seg(b"\xff\xdb", bytes([0]) + bytes(int(v) for v in quant))
    sof = bytes([8]) + fh.to_bytes(2, "big") + fw.to_bytes(2, "big") + bytes([len(comps)])
    for cid, hs, vs, _ in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    seg(b"\xff\xc2", sof)  # SOF2: progressive
    seg(b"\xff\xc4", bytes([0x00] + dc_counts) + bytes(dc_syms))
    seg(b"\xff\xc4", bytes([0x10] + ac_counts) + bytes(ac_syms))

    def mag(v):
        a, t = abs(v), 0
        while a:
            t += 1
            a >>= 1
        return t

    class BW:
        def __init__(self):
            self.items: list[tuple[int, int]] = []

        def put(self, code, nb):
            if nb:
                self.items.append((code, nb))

        def put_val(self, v, t):
            if t:
                self.put(v if v >= 0 else v + (1 << t) - 1, t)

        def payload(self) -> bytes:
            acc = accn = 0
            raw = bytearray()
            for code, nb in self.items:
                acc = (acc << nb) | code
                accn += nb
                while accn >= 8:
                    byte = (acc >> (accn - 8)) & 0xFF
                    raw.append(byte)
                    if byte == 0xFF:
                        raw.append(0x00)
                    accn -= 8
            if accn:
                byte = ((acc << (8 - accn)) | ((1 << (8 - accn)) - 1)) & 0xFF
                raw.append(byte)
                if byte == 0xFF:
                    raw.append(0x00)
            return bytes(raw)

    def emit_scan(comp_ids, ss, se, ah, al, bw):
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(b"\xff\xda", sos)
        out.extend(bw.payload())

    def dc_blocks():
        # mirror of the decoder's dc_block_iter ordering
        if len(comps) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    for cid, hs, vs, _ in comps:
                        for vy in range(vs):
                            for vx in range(hs):
                                yield cid, coef[cid][my * vs + vy, mx * hs + vx]
        else:
            cid = comps[0][0]
            bh, bw_ = ni[cid]
            for by in range(bh):
                for bx in range(bw_):
                    yield cid, coef[cid][by, bx]

    # --- scan 1: DC first (interleaved), point transform dc_al
    bw = BW()
    pred = {c[0]: 0 for c in comps}
    for cid, blk in dc_blocks():
        v = int(blk[0]) >> dc_al  # arithmetic shift, like the spec's IRIGHT
        diff = v - pred[cid]
        pred[cid] = v
        t = mag(diff)
        bw.put(*dc_code[t])
        bw.put_val(diff, t)
    emit_scan([c[0] for c in comps], 0, 0, 0, dc_al, bw)

    # --- DC refinement scans: one raw bit per block per level
    for al in range(dc_al - 1, -1, -1):
        bw = BW()
        for _cid, blk in dc_blocks():
            bw.put((int(blk[0]) >> al) & 1, 1)
        emit_scan([c[0] for c in comps], 0, 0, al + 1, al, bw)

    # --- per component, per band: AC first then refinements
    for cid, hs, vs, _ in comps:
        bh, bw_n = ni[cid]

        for ss, se in bands:
            bw = BW()
            eobrun = 0

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    r = eobrun.bit_length() - 1
                    bw.put(*ac_code[r << 4])
                    bw.put(eobrun - (1 << r), r)
                    eobrun = 0

            for by in range(bh):
                for bx in range(bw_n):
                    blk = coef[cid][by, bx]
                    vals = [
                        (1 if blk[k] > 0 else -1) * (abs(int(blk[k])) >> ac_al)
                        for k in range(ss, se + 1)
                    ]
                    nz = [k for k, v in enumerate(vals) if v]
                    if not nz:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            flush_eob()
                        continue
                    flush_eob()
                    r = 0
                    for k in range(nz[-1] + 1):
                        v = vals[k]
                        if v == 0:
                            r += 1
                            continue
                        while r > 15:
                            bw.put(*ac_code[0xF0])
                            r -= 16
                        s = mag(v)
                        bw.put(*ac_code[(r << 4) | s])
                        bw.put_val(v, s)
                        r = 0
                    if nz[-1] < se - ss:
                        eobrun += 1
            flush_eob()
            emit_scan([cid], ss, se, 0, ac_al, bw)

        for al in range(ac_al - 1, -1, -1):
            for ss, se in bands:
                bw = BW()
                eobrun = 0
                bebits: list[int] = []

                def flush_eob_refine():
                    nonlocal eobrun, bebits
                    if eobrun:
                        r = eobrun.bit_length() - 1
                        bw.put(*ac_code[r << 4])
                        bw.put(eobrun - (1 << r), r)
                    for b in bebits:
                        bw.put(b, 1)
                    eobrun = 0
                    bebits = []

                for by in range(bh):
                    for bx in range(bw_n):
                        blk = coef[cid][by, bx]
                        absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                        has_new = any(t == 1 for t in absv)
                        if not has_new:
                            # correction-only block: joins the EOB run
                            bebits.extend(t & 1 for t in absv if t > 1)
                            eobrun += 1
                            if eobrun == 0x7FFF:
                                flush_eob_refine()
                            continue
                        flush_eob_refine()
                        r = 0
                        br: list[int] = []
                        last_new = max(k for k, t in enumerate(absv) if t == 1)
                        for k, t in enumerate(absv):
                            if k > last_new:
                                break
                            if t == 0:
                                r += 1
                                continue
                            # ZRL check at EVERY nonzero (libjpeg): a
                            # buffered correction bit always sits within
                            # the first pending ZRL's 16-zero stretch
                            while r > 15:
                                bw.put(*ac_code[0xF0])
                                for b in br:
                                    bw.put(b, 1)
                                br = []
                                r -= 16
                            if t > 1:
                                br.append(t & 1)
                                continue
                            bw.put(*ac_code[(r << 4) | 1])
                            bw.put(1 if blk[ss + k] > 0 else 0, 1)
                            for b in br:
                                bw.put(b, 1)
                            br = []
                            r = 0
                        # tail after the last newly-nonzero coefficient
                        tail_br = [t & 1 for t in absv[last_new + 1 :] if t > 1]
                        tail_zeros = any(t == 0 for t in absv[last_new + 1 :])
                        if tail_br or tail_zeros:
                            eobrun += 1
                            bebits.extend(tail_br)
                flush_eob_refine()
                emit_scan([cid], ss, se, al + 1, al, bw)

    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_equals_baseline():
    """Progressive and baseline streams built from the SAME quantized
    coefficients must decode to IDENTICAL pixels — entropy layout is the
    only difference. Covers DC point transform + refinement, AC spectral
    bands with EOBn runs, and AC refinement correction bits."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(17)
    for h, w in ((8, 8), (21, 29), (16, 24)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        base = decode(_jpeg_encode(img))
        prog = decode(_jpeg_encode_progressive(img))
        assert prog is not None and prog.shape == (h, w)
        assert (prog == base).all(), (h, w)


def test_jpeg_progressive_smooth_image_eob_runs():
    """A mostly-flat image makes most AC bands empty -> long EOBn runs
    spanning many blocks, in both first and refinement passes."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    img = np.full((40, 48), 90, dtype=np.uint8)
    img[3, 5] = 200  # one detail so SOME band content exists
    img[25, 30] = 10
    base = decode(_jpeg_encode(img))
    prog = decode(_jpeg_encode_progressive(img))
    assert (prog == base).all()


def test_jpeg_progressive_spectral_only_and_deep_sa():
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, (17, 19), dtype=np.uint8)
    base = decode(_jpeg_encode(img))
    # pure spectral selection (no successive approximation)
    prog0 = decode(_jpeg_encode_progressive(img, dc_al=0, ac_al=0))
    assert (prog0 == base).all()
    # two SA levels and finer bands
    prog2 = decode(
        _jpeg_encode_progressive(
            img, dc_al=2, ac_al=2, bands=((1, 2), (3, 9), (10, 35), (36, 63))
        )
    )
    assert (prog2 == base).all()


def test_jpeg_progressive_color_subsampled():
    """4:2:0 color progressive: non-interleaved AC scans use the
    component's OWN block grid (not the MCU-padded grid)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(31)
    h, w = 20, 28  # not MCU-aligned at 2x2 sampling: luma ni-grid < MCU grid
    sampling = [(2, 2), (1, 1), (1, 1)]
    planes = [
        rng.integers(0, 256, (h, w)).astype(np.float64),
        rng.integers(96, 160, (-(-h // 2), -(-w // 2))).astype(np.float64),
        rng.integers(96, 160, (-(-h // 2), -(-w // 2))).astype(np.float64),
    ]
    base = decode(_jpeg_encode(planes, sampling=sampling))
    prog = decode(_jpeg_encode_progressive(planes, sampling=sampling))
    assert prog is not None and prog.shape == (h, w)
    assert (prog == base).all()


def test_jpeg_progressive_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()

    @settings(max_examples=10, deadline=None)
    @given(
        w=st.integers(1, 32),
        h=st.integers(1, 24),
        dc_al=st.integers(0, 2),
        ac_al=st.integers(0, 2),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, dc_al, ac_al, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        base = decode(_jpeg_encode(img))
        prog = decode(_jpeg_encode_progressive(img, dc_al=dc_al, ac_al=ac_al))
        assert prog is not None and (prog == base).all()

    check()


def test_jpeg_progressive_rejects_unknown_component_refine():
    """A DC-refine scan naming a component absent from the frame must
    degrade to the fake path, not crash the Arrow batch (KeyError guard)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    img = np.full((8, 8), 55, dtype=np.uint8)
    payload = bytearray(_jpeg_encode_progressive(img, dc_al=1, ac_al=0))
    # second SOS is the DC refinement (single component, id 1) — corrupt
    # its component selector to an id the frame doesn't declare
    first = payload.index(b"\xff\xda")
    second = payload.index(b"\xff\xda", first + 2)
    assert payload[second + 5] == 1  # the component id byte in SOS
    payload[second + 5] = 9
    assert decode(bytes(payload)) is None


def _avi_mjpeg(jpeg_frames, fps=(25, 1), strh=True, avih_usec=0,
               rec_group=False, drop_idx=None) -> bytes:
    """Minimal RIFF/AVI MJPEG container from a list of encoded JPEG
    payloads: hdrl (avih + strl/strh for the 'vids' stream) then movi with
    one '00dc' chunk per frame (word-aligned). `strh=False` omits the
    stream header so the decoder must fall back to avih's
    dwMicroSecPerFrame; `rec_group` nests the frames in a 'rec ' LIST;
    `drop_idx` replaces that frame with the VfW zero-length dropped-frame
    chunk."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\0" if len(body) & 1 else b""
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    num, den = fps
    avih = chunk(b"avih", avih_usec.to_bytes(4, "little") + b"\0" * 52)
    hdrl_body = avih
    if strh:
        sh = (b"vids" + b"MJPG" + b"\0" * 12
              + den.to_bytes(4, "little")      # dwScale at +20
              + num.to_bytes(4, "little")      # dwRate at +24
              + b"\0" * 28)
        hdrl_body += lst(b"strl", chunk(b"strh", sh))
    movi_frames = b"".join(
        chunk(b"00dc", b"" if i == drop_idx else f)
        for i, f in enumerate(jpeg_frames)
    )
    if rec_group:
        movi_frames = lst(b"rec ", movi_frames)
    riff_body = b"AVI " + lst(b"hdrl", hdrl_body) + lst(b"movi", movi_frames)
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body


def test_video_decoder_avi_mjpeg_exact_frames():
    """MJPEG-in-AVI real decode (r07): constant-luma JPEG frames with unit
    quant decode EXACTLY through the container walk; fps comes from the
    vids strh rate/scale; 'rec ' groups recurse; Y4M still dispatches."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    frames = np.stack(
        [np.full((16, 24), v, dtype=np.uint8) for v in (10, 80, 80, 200)]
    )
    jpegs = [_jpeg_encode(f) for f in frames]
    got, fps_ppm = decode(_avi_mjpeg(jpegs, fps=(30000, 1001)))
    assert got.shape == (4, 16, 24) and (got == frames).all()
    assert fps_ppm == 30000 * 1_000_000 // 1001

    got_rec, _ = decode(_avi_mjpeg(jpegs, rec_group=True))
    assert (got_rec == frames).all()

    # the Y4M branch of the dispatch is untouched
    got_y4m, y4m_fps = decode(_y4m(frames, fps=(25, 1)))
    assert (got_y4m == frames).all() and y4m_fps == 25_000_000


def test_video_decoder_avi_fps_fallback_and_dropped_frames():
    """Without a vids strh the fps falls back to avih's microseconds-per-
    frame; a zero-length '00dc' chunk (VfW dropped frame) repeats the
    previous plane so the timeline stays dense."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    frames = np.stack(
        [np.full((8, 8), v, dtype=np.uint8) for v in (0, 100, 250)]
    )
    jpegs = [_jpeg_encode(f) for f in frames]
    got, fps_ppm = decode(_avi_mjpeg(jpegs, strh=False, avih_usec=40_000))
    assert (got == frames).all()
    assert fps_ppm == 10**12 // 40_000  # 25 fps from the main header

    got_drop, _ = decode(_avi_mjpeg(jpegs, drop_idx=1))
    want = np.stack([frames[0], frames[0], frames[2]])
    assert (got_drop == want).all()

    # a leading dropped frame has nothing to hold -> malformed
    assert decode(_avi_mjpeg(jpegs, drop_idx=0)) is None


def test_video_decoder_avi_rejects_malformed():
    """Truncated chunks, dim-mismatched frames, non-JPEG frame bodies and
    non-AVI RIFF files all reject (None -> fake path downstream)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    a = _jpeg_encode(np.full((8, 8), 10, dtype=np.uint8))
    b = _jpeg_encode(np.full((16, 8), 10, dtype=np.uint8))
    assert decode(_avi_mjpeg([a, b])) is None          # dim mismatch
    assert decode(_avi_mjpeg([a])[:-4]) is None        # truncated chunk
    assert decode(_avi_mjpeg([b"not a jpeg"])) is None  # undecodable frame
    assert decode(b"RIFF\x04\x00\x00\x00WAVE") is None  # RIFF, not AVI
    assert decode(_avi_mjpeg([])) is None               # zero frames


def test_scene_changes_and_keyframes_on_avi(spark):
    """End-to-end Spark check: keyframe_sample and scene_changes over an
    MJPEG/AVI payload agree with the same luma planes shipped as Y4M —
    the compressed and uncompressed video paths are one surface."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        keyframe_sample,
        scene_changes,
    )

    frames = np.stack(
        [np.full((8, 12), v, dtype=np.uint8) for v in (10, 10, 10, 200, 200)]
    )
    avi = _avi_mjpeg([_jpeg_encode(f) for f in frames])
    media = spark.createDataFrame(
        [(1, avi, "video/avi"), (2, _y4m(frames), "video/y4m")],
        "doc_id long, content binary, media_type string",
    )
    keys = [
        (r["doc_id"], r["frame_idx"], r["mean_luma"], r["luma_md5"])
        for r in keyframe_sample(media, stride=2).collect()
    ]
    by_doc = {
        d: sorted((i, m, h) for dd, i, m, h in keys if dd == d) for d in (1, 2)
    }
    assert by_doc[1] == by_doc[2] and len(by_doc[1]) == 3

    cuts = {
        r["doc_id"]: sorted(
            (rr["frame_idx"], rr["mad"])
            for rr in scene_changes(media, threshold=24).collect()
            if rr["doc_id"] == r["doc_id"]
        )
        for r in media.select("doc_id").collect()
    }
    assert cuts[1] == cuts[2] == [(0, 0), (3, 190)]


# --- ADPCM (r07): independent scalar reference decoders as oracles ---

_IMA_STEP_REF = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_IDX_REF = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]
_MS_COEF_REF = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
                (460, -208), (392, -232)]
_MS_ADAPT_REF = [230, 230, 230, 230, 307, 409, 512, 614,
                 768, 614, 512, 409, 307, 230, 230, 230]


def _ima_ref_block(block: bytes, ch: int) -> list[list[int]]:
    """One IMA ADPCM block -> per-channel sample lists (classic branchy
    per-nibble walk, independent of the vectorized implementation)."""
    import struct

    pred, idx, out = [], [], []
    for c in range(ch):
        p, i = struct.unpack_from("<hB", block, 4 * c)
        pred.append(p)
        idx.append(i)
        out.append([p])
    n_groups = (len(block) - 4 * ch) // (4 * ch)
    for g in range(n_groups):
        for c in range(ch):
            off = 4 * ch + (g * ch + c) * 4
            for byte in block[off : off + 4]:
                for n in (byte & 0x0F, byte >> 4):  # LOW nibble first
                    step = _IMA_STEP_REF[idx[c]]
                    diff = step >> 3
                    if n & 1:
                        diff += step >> 2
                    if n & 2:
                        diff += step >> 1
                    if n & 4:
                        diff += step
                    p = pred[c] - diff if n & 8 else pred[c] + diff
                    pred[c] = max(-32768, min(32767, p))
                    idx[c] = max(0, min(88, idx[c] + _IMA_IDX_REF[n]))
                    out[c].append(pred[c])
    return out


def _ms_ref_block(block: bytes, ch: int, coefs) -> list[list[int]]:
    """One MS ADPCM block -> per-channel sample lists (nibbles HIGH-first,
    channel-interleaved per sample)."""
    import struct

    pidx = list(block[:ch])
    delta = [struct.unpack_from("<h", block, ch + 2 * c)[0] for c in range(ch)]
    s1 = [struct.unpack_from("<h", block, 3 * ch + 2 * c)[0] for c in range(ch)]
    s2 = [struct.unpack_from("<h", block, 5 * ch + 2 * c)[0] for c in range(ch)]
    out = [[s2[c], s1[c]] for c in range(ch)]
    nibbles = []
    for byte in block[7 * ch :]:
        nibbles += [byte >> 4, byte & 0x0F]
    for k, n in enumerate(nibbles):
        c = k % ch
        c1, c2 = coefs[pidx[c]]
        signed = n - 16 if n >= 8 else n
        num = s1[c] * c1 + s2[c] * c2
        base = num >> 8 if num >= 0 else -((-num) >> 8)  # C /256: trunc
        p = base + signed * delta[c]
        p = max(-32768, min(32767, p))
        s2[c], s1[c] = s1[c], p
        delta[c] = max(16, (_MS_ADAPT_REF[n] * delta[c]) >> 8)
        out[c].append(p)
    return out


def _mono_ref(per_block_channels: list[list[list[int]]], ch: int) -> list[int]:
    """Floor-mean mixdown across channels, blocks concatenated — the
    decode_wav output contract."""
    mono = []
    for chans in per_block_channels:
        for t in range(len(chans[0])):
            mono.append(sum(c[t] for c in chans) // ch)
    return mono


def _fmt_adpcm(tag, channels, rate, block_align, spb, coefs=None) -> bytes:
    import struct

    fmt = (
        tag.to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
    )
    if tag == 0x11:
        fmt += (2).to_bytes(2, "little") + spb.to_bytes(2, "little")
    elif coefs is not None:
        ext = spb.to_bytes(2, "little") + len(coefs).to_bytes(2, "little")
        ext += b"".join(struct.pack("<hh", a, b) for a, b in coefs)
        fmt += len(ext).to_bytes(2, "little") + ext
    return fmt


def _ima_block(rng, ch: int, n_groups: int) -> bytes:
    body = b""
    for _ in range(ch):
        body += int(rng.integers(-32768, 32768)).to_bytes(2, "little", signed=True)
        body += bytes([int(rng.integers(0, 89)), 0])
    return body + rng.integers(0, 256, n_groups * ch * 4, dtype="u1").tobytes()


def _ms_block(rng, ch: int, n_data: int, ncoef: int) -> bytes:
    import struct

    body = bytes(int(rng.integers(0, ncoef)) for _ in range(ch))
    for _ in range(3 * ch):  # iDelta, iSamp1, iSamp2 per channel
        body += struct.pack("<h", int(rng.integers(-32768, 32768)))
    return body + rng.integers(0, 256, n_data, dtype="u1").tobytes()


def test_wav_ima_adpcm_exact():
    """IMA ADPCM (tag 0x11): the vectorized across-blocks decode matches a
    branchy per-nibble reference exactly — mono and stereo, multi-block;
    an all-zero nibble stream at step index 0 holds the predictor."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    rng = np.random.default_rng(7)
    for ch, n_groups, nb in ((1, 2, 3), (2, 1, 2), (1, 1, 1)):
        ba = 4 * ch + n_groups * ch * 4
        blocks = [_ima_block(rng, ch, n_groups) for _ in range(nb)]
        spb = 1 + n_groups * 8
        payload = _wav_raw(b"".join(blocks),
                           _fmt_adpcm(0x11, ch, 22050, ba, spb))
        got = decode(payload)
        assert got is not None, (ch, n_groups, nb)
        mono, rate, _ = got
        want = _mono_ref([_ima_ref_block(b, ch) for b in blocks], ch)
        assert rate == 22050 and mono.tolist() == want

    # deterministic pin: zero nibbles at index 0 (step 7 >> 3 = 0) hold
    # the predictor; index walks down and stays clamped at 0
    blk = (100).to_bytes(2, "little") + bytes([0, 0]) + bytes(4)
    mono, _, _ = decode(_wav_raw(blk, _fmt_adpcm(0x11, 1, 8000, 8, 9)))
    assert mono.tolist() == [100] * 9


def test_wav_ms_adpcm_exact():
    """MS ADPCM (tag 2): vectorized decode matches the reference with the
    7 built-in coefficient pairs (no fmt extension) AND with custom pairs
    declared in the extension; stereo interleave HIGH-nibble-first."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    rng = np.random.default_rng(11)
    for ch, n_data, nb, coefs in (
        (1, 4, 3, None),                      # built-ins
        (2, 6, 2, None),
        (1, 2, 2, [(300, -100), (256, 0)]),   # custom pairs via extension
    ):
        table = coefs or _MS_COEF_REF
        ba = 7 * ch + n_data
        blocks = [_ms_block(rng, ch, n_data, len(table)) for _ in range(nb)]
        spb = 2 + n_data * 2 // ch
        payload = _wav_raw(
            b"".join(blocks), _fmt_adpcm(2, ch, 11025, ba, spb, coefs=coefs)
        )
        got = decode(payload)
        assert got is not None, (ch, n_data, nb)
        mono, rate, _ = got
        want = _mono_ref([_ms_ref_block(b, ch, table) for b in blocks], ch)
        assert rate == 11025 and mono.tolist() == want


def test_wav_adpcm_fact_trim_and_malformed():
    """A fact chunk trims the zero-padded final-block tail; out-of-range
    step indexes / predictor indexes and impossible block geometry reject
    (None -> deterministic fake path, never a wrong decode)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    rng = np.random.default_rng(3)
    blk = _ima_block(rng, 1, 1)
    fmt = _fmt_adpcm(0x11, 1, 8000, 8, 9)

    def with_fact(body, fmt, n):
        chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        chunks += b"fact" + (4).to_bytes(4, "little") + n.to_bytes(4, "little")
        chunks += b"data" + len(body).to_bytes(4, "little") + body
        return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks

    full = decode(_wav_raw(blk, fmt))[0]
    assert len(full) == 9
    trimmed = decode(with_fact(blk, fmt, 5))[0]
    assert trimmed.tolist() == full.tolist()[:5]
    assert decode(with_fact(blk, fmt, 10)) is None  # fact > decoded length

    bad_idx = blk[:2] + bytes([89, 0]) + blk[4:]  # step index out of range
    assert decode(_wav_raw(bad_idx, fmt)) is None
    # IMA block geometry must be whole 4-byte-per-channel groups
    assert decode(_wav_raw(blk + b"\0\0", _fmt_adpcm(0x11, 1, 8000, 10, 9))) is None
    # MS predictor index beyond the coefficient table
    ms = bytes([7]) + _ms_block(rng, 1, 2, 7)[1:]
    assert decode(_wav_raw(ms, _fmt_adpcm(2, 1, 8000, 9, 6))) is None
    # data shorter than one block
    assert decode(_wav_raw(blk[:4], fmt)) is None


def test_audio_features_adpcm_end_to_end(spark):
    """audio_features over an IMA ADPCM payload rides the real decode path
    (sample_rate lands non-zero, n_samples matches the block geometry)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import audio_features

    rng = np.random.default_rng(5)
    blocks = [_ima_block(rng, 1, 2) for _ in range(2)]
    wav = _wav_raw(b"".join(blocks), _fmt_adpcm(0x11, 1, 16000, 12, 17))
    media = spark.createDataFrame(
        [(1, wav, "audio/adpcm")], "doc_id long, content binary, media_type string"
    )
    row = audio_features(media).collect()[0]
    assert row["sample_rate"] == 16000 and row["n_samples"] == 34


def test_tiff_compressed_exact_pixels():
    """TIFF compression (r07): PackBits, Deflate and TIFF-LZW strips — with
    and without the horizontal predictor, gray and RGB, multi-strip — all
    decode to exact pixels. The LZW image is big enough to cross the 511
    and 1023 table sizes, pinning the EARLY width change."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, (40, 60), dtype=np.uint8)  # ~2400 LZW codes
    rgb = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    want_rgb = (
        (rgb[:, :, 0].astype(np.uint16) + rgb[:, :, 1] + rgb[:, :, 2]) // 3
    ).astype(np.uint8)
    flat = np.tile(np.arange(8, dtype=np.uint8) * 31, (5, 3))  # RLE-friendly
    for comp in (5, 8, 32773):
        for pred in (1, 2):
            got = decode(_tiff(gray, compression=comp, predictor=pred))
            assert got is not None and (got == gray).all(), (comp, pred)
            got = decode(_tiff(rgb, compression=comp, predictor=pred))
            assert (got == want_rgb).all(), (comp, pred)
        # multi-strip: each strip compresses independently
        got = decode(_tiff(gray, compression=comp, rows_per_strip=7))
        assert (got == gray).all(), comp
        got = decode(_tiff(flat, compression=comp, predictor=2))
        assert (got == flat).all(), comp


def test_tiff_compressed_rejects_malformed():
    """Corrupt deflate strips, short LZW streams and bad predictors reject
    rather than mis-decode."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = _tiff(img, compression=8)
    bad = bytearray(good)
    bad[-10:] = bytes(10)  # stomp the deflate stream tail
    assert decode(bytes(bad)) is None
    short = _tiff(img, compression=5)
    assert decode(short[:-6]) is None  # truncated LZW -> short strip
    # unknown compression scheme
    weird = bytearray(_tiff(img))
    ix = weird.find((259).to_bytes(2, "little"))
    weird[ix + 8] = 99  # compression tag value -> 99
    assert decode(bytes(weird)) is None


def test_adpcm_roundtrip_property():
    """Property check: for ANY block geometry and byte content, the
    vectorized IMA/MS decoders agree with the branchy scalar references
    exactly (multi-block, 1-3 channels, random headers within legal
    ranges)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()

    @settings(max_examples=40, deadline=None)
    @given(
        ch=st.integers(1, 3),
        n_groups=st.integers(0, 3),
        nb=st.integers(1, 3),
        ms_data_words=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(ch, n_groups, nb, ms_data_words, seed):
        rng = np.random.default_rng(seed)
        # IMA
        ba = 4 * ch + n_groups * ch * 4
        blocks = [_ima_block(rng, ch, n_groups) for _ in range(nb)]
        spb = 1 + n_groups * 8
        got = decode(_wav_raw(b"".join(blocks), _fmt_adpcm(0x11, ch, 8000, ba, spb)))
        assert got is not None
        want = _mono_ref([_ima_ref_block(b, ch) for b in blocks], ch)
        assert got[0].tolist() == want
        # MS (data region must hold whole per-sample channel rounds)
        n_data = ms_data_words * ch  # bytes; 2 nibbles/byte keeps ch-divisible
        ba2 = 7 * ch + n_data
        blocks2 = [_ms_block(rng, ch, n_data, 7) for _ in range(nb)]
        spb2 = 2 + n_data * 2 // ch
        got2 = decode(
            _wav_raw(b"".join(blocks2), _fmt_adpcm(2, ch, 8000, ba2, spb2))
        )
        assert got2 is not None
        want2 = _mono_ref([_ms_ref_block(b, ch, _MS_COEF_REF) for b in blocks2], ch)
        assert got2[0].tolist() == want2

    check()


def test_avi_mjpeg_roundtrip_property():
    """Property check: random constant-tile frame stacks survive the AVI
    container walk exactly (unit-quant JPEG per frame decodes losslessly
    for 8x8-constant content), any frame count / dims multiple of 8."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()

    @settings(max_examples=20, deadline=None)
    @given(
        bw=st.integers(1, 3),
        bh=st.integers(1, 3),
        n=st.integers(1, 5),
        num=st.integers(1, 60),
        rec=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(bw, bh, n, num, rec, seed):
        rng = np.random.default_rng(seed)
        tiles = rng.integers(0, 256, (n, bh, bw), dtype=np.uint8)
        frames = np.repeat(np.repeat(tiles, 8, axis=1), 8, axis=2)
        payload = _avi_mjpeg(
            [_jpeg_encode(f) for f in frames], fps=(num, 1), rec_group=rec
        )
        got = decode(payload)
        assert got is not None
        luma, fps_ppm = got
        assert fps_ppm == num * 1_000_000
        assert luma.shape == frames.shape and (luma == frames).all()

    check()


def test_decompression_bombs_reject_bounded():
    """Hardening (r07): a stream that inflates far past the declared plane
    must stop at the size cap instead of allocating the expansion. PNG
    rejects (IDAT must match the plane layout); TIFF strips are
    slack-tolerant by spec, so the bomb decodes to the declared pixels
    with only `need` bytes ever materialized."""
    import zlib

    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    blob = bytes(20_000_000)  # 20 MB of zeros -> ~20 kB deflated

    # PNG declaring 1x1 but shipping the bomb as IDAT
    def png_chunk(typ, body):
        return (
            len(body).to_bytes(4, "big") + typ + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = (1).to_bytes(4, "big") + (1).to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])
    bomb_png = (
        b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(blob))
        + png_chunk(b"IEND", b"")
    )
    assert decode(bomb_png) is None

    img = np.zeros((1, 1), dtype=np.uint8)
    base = _tiff(img, compression=8)
    deflate_strip = zlib.compress(b"\0") + b""  # locate and swap the strip

    def swap_strip(tif: bytes, old: bytes, new: bytes) -> bytes:
        ix = tif.rindex(old)
        out = bytearray(tif[:ix] + new + tif[ix + len(old) :])
        # fix StripByteCounts (tag 279, LONG, count 1 -> inline value)
        tix = out.find((279).to_bytes(2, "little"))
        out[tix + 8 : tix + 12] = len(new).to_bytes(4, "little")
        return bytes(out)

    got = decode(swap_strip(base, zlib.compress(b"\0"), zlib.compress(blob)))
    assert got is not None and (got == img).all()
    base_pb = _tiff(img, compression=32773)
    got = decode(swap_strip(base_pb, _packbits_encode(b"\0"),
                            _packbits_encode(blob)))
    assert got is not None and (got == img).all()
    base_lzw = _tiff(img, compression=5)
    got = decode(swap_strip(base_lzw, _tiff_lzw_encode(b"\0"),
                            _tiff_lzw_encode(blob)))
    assert got is not None and (got == img).all()


def test_avi_walk_depth_capped_and_hex_streams():
    """A crafted tower of nested LIST chunks must reject at the depth cap
    (not RecursionError the Arrow batch); hex stream numbers ('0adc')
    count as video chunks."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    inner = b""
    for _ in range(2000):  # LIST tower, ~24 kB
        inner = b"LIST" + (len(inner) + 4).to_bytes(4, "little") + b"hdrl" + inner
    tower = b"RIFF" + (len(inner) + 4).to_bytes(4, "little") + b"AVI " + inner
    assert decode(tower) is None  # no RecursionError

    frame = _jpeg_encode(np.full((8, 8), 42, dtype=np.uint8))

    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\0" if len(body) & 1 else b""
        )

    movi = chunk(b"LIST", b"movi" + chunk(b"0adc", frame))
    payload = b"RIFF" + (len(movi) + 4).to_bytes(4, "little") + b"AVI " + movi
    got = decode(payload)
    assert got is not None and got[0].shape == (1, 8, 8) and (got[0] == 42).all()


def _bmp_rle8(idx, palette_rgb, use_absolute=False, delta=None) -> bytes:
    """8-bit RLE BMP from an (h, w) index array: simple per-row run
    encoding (bottom-up storage), optional absolute-mode stretches and an
    optional (dx, dy) delta escape injected at the stream start (skipped
    cells hold index 0)."""
    import numpy as np

    idx = np.asarray(idx, dtype=np.uint8)
    h, w = idx.shape
    n_pal = len(palette_rgb)
    pal = np.zeros((n_pal, 4), dtype=np.uint8)
    pal[:, :3] = np.asarray(palette_rgb, dtype=np.uint8)[:, ::-1]
    stream = bytearray()
    if delta is not None:
        stream += bytes([0, 2, delta[0], delta[1]])
    for sy, row in enumerate(idx[::-1]):  # bottom-up line order
        if delta is not None and sy < delta[1]:
            continue  # rows the delta jumped over are never encoded
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if use_absolute and run < 3 and w - x >= 3:
                seg = min(255, w - x)
                stream += bytes([0, seg]) + row[x : x + seg].tobytes()
                if seg & 1:
                    stream += b"\0"  # absolute mode pads to a word
                x += seg
            else:
                stream += bytes([run, row[x]])
                x += run
        stream += bytes([0, 0])  # end of line
    stream += bytes([0, 1])  # end of bitmap
    data_off = 14 + 40 + 4 * n_pal
    size = data_off + len(stream)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\0\0\0\0"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + len(stream).to_bytes(4, "little")
        + b"\0" * 8 + n_pal.to_bytes(4, "little") + b"\0" * 4
    )
    return header + pal.tobytes() + bytes(stream)


def test_bmp_rle8_exact_pixels():
    """BI_RLE8 (r07): run, absolute and delta escapes all reproduce the
    exact palette-gray grid; truncated streams reject."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _pixel_decoder

    decode = _pixel_decoder()
    pal = [(0, 0, 0), (30, 60, 90), (255, 255, 255), (10, 20, 40)]
    gray = np.array([(r + g + b) // 3 for r, g, b in pal], dtype=np.uint8)
    rng = np.random.default_rng(17)
    idx = rng.integers(0, 4, (6, 11), dtype=np.uint8)
    idx[2, :] = 3  # a full-row run
    got = decode(_bmp_rle8(idx, pal))
    assert got is not None and (got == gray[idx]).all()
    got_abs = decode(_bmp_rle8(idx, pal, use_absolute=True))
    assert (got_abs == gray[idx]).all()

    # delta escape: jump (3, 2) from the stream start — the skipped rows
    # and the left margin of the landing row stay palette index 0
    small = np.ones((4, 5), dtype=np.uint8) * 2
    want = np.zeros((4, 5), dtype=np.uint8)
    want[: 4 - 2] = 2  # storage rows >= dy, i.e. image rows < h-dy
    want[4 - 2 - 1, :3] = 0  # landing row: x jumped to 3
    payload = _bmp_rle8(small, pal, delta=(3, 2))
    got_d = decode(payload)
    assert got_d is not None and (got_d == gray[want]).all()

    assert decode(_bmp_rle8(idx, pal)[:-2]) is None  # EOB stripped


def _gif_anim(screen_wh, palette, frames, bg_idx=0) -> bytes:
    """Animated GIF89a writer: global palette, one (idx, left, top,
    disposal, transparent_idx, delay_cs) tuple per frame, real LZW
    streams."""
    import numpy as np

    W, H = screen_wh
    pal_bits = max((len(palette) - 1).bit_length(), 1)
    size = 1 << pal_bits
    pal = list(palette) + [(0, 0, 0)] * (size - len(palette))
    min_code = max(2, pal_bits)
    buf = bytearray(b"GIF89a")
    buf += W.to_bytes(2, "little") + H.to_bytes(2, "little")
    buf += bytes([0x80 | (pal_bits - 1), bg_idx, 0])
    buf += bytes(v for rgb in pal for v in rgb)
    for idx, left, top, disposal, tidx, delay in frames:
        idx = np.asarray(idx, dtype=np.uint8)
        fh, fw = idx.shape
        packed = (disposal << 2) | (1 if tidx is not None else 0)
        buf += bytes([0x21, 0xF9, 4, packed])
        buf += delay.to_bytes(2, "little")
        buf += bytes([tidx if tidx is not None else 0, 0])
        buf += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
        buf += fw.to_bytes(2, "little") + fh.to_bytes(2, "little") + b"\x00"
        buf += bytes([min_code])
        lzw = _gif_lzw(idx.tobytes(), min_code)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            buf += bytes([len(chunk)]) + chunk
        buf += b"\x00"
    buf += b"\x3b"
    return bytes(buf)


def test_gif_animation_composes_frames():
    """Animated GIF as video (r07): full-frame sequences, sub-rectangle
    updates, transparency holes, restore-to-background and
    restore-previous disposal all compose exactly; fps comes from the
    first nonzero frame delay."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    pal = [(0, 0, 0), (90, 90, 90), (240, 240, 240), (30, 60, 90)]
    g = [0, 90, 240, 60]  # integer mean luma per entry

    # two full frames, then a 2x2 patch update at (1, 1)
    f0 = np.zeros((4, 4), dtype=np.uint8)
    f1 = np.ones((4, 4), dtype=np.uint8)
    patch = np.full((2, 2), 2, dtype=np.uint8)
    payload = _gif_anim(
        (4, 4), pal,
        [(f0, 0, 0, 1, None, 5), (f1, 0, 0, 1, None, 5),
         (patch, 1, 1, 1, None, 5)],
    )
    got, fps_ppm = decode(payload)
    assert fps_ppm == 100_000_000 // 5
    assert got.shape == (3, 4, 4)
    assert (got[0] == g[0]).all() and (got[1] == g[1]).all()
    want2 = np.full((4, 4), g[1], dtype=np.uint8)
    want2[1:3, 1:3] = g[2]
    assert (got[2] == want2).all()

    # transparency: index 3 pixels keep the prior canvas
    holes = np.full((4, 4), 3, dtype=np.uint8)
    holes[0, :] = 2
    payload_t = _gif_anim(
        (4, 4), pal, [(f1, 0, 0, 1, None, 0), (holes, 0, 0, 1, 3, 0)]
    )
    got_t, fps_t = decode(payload_t)
    assert fps_t == 0  # no nonzero delay anywhere
    want_t = np.full((4, 4), g[1], dtype=np.uint8)
    want_t[0, :] = g[2]
    assert (got_t[1] == want_t).all()

    # disposal 2 (restore to background index 0) then a tiny frame 3
    dot = np.full((1, 1), 2, dtype=np.uint8)
    payload_d2 = _gif_anim(
        (4, 4), pal, [(f1, 0, 0, 2, None, 0), (dot, 0, 0, 1, None, 0)]
    )
    got_d2, _ = decode(payload_d2)
    want_d2 = np.full((4, 4), g[0], dtype=np.uint8)  # f1 wiped to bg
    want_d2[0, 0] = g[2]
    assert (got_d2[1] == want_d2).all()

    # disposal 3 (restore previous): the patch vanishes for frame 3
    payload_d3 = _gif_anim(
        (4, 4), pal,
        [(f1, 0, 0, 1, None, 0), (patch, 1, 1, 3, None, 0),
         (dot, 0, 0, 1, None, 0)],
    )
    got_d3, _ = decode(payload_d3)
    want_d3 = np.full((4, 4), g[1], dtype=np.uint8)
    want_d3[0, 0] = g[2]
    assert (got_d3[2] == want_d3).all()

    # a single-frame still GIF is a 1-frame sequence here
    got_s, _ = decode(_gif(f0, pal))
    assert got_s.shape == (1, 4, 4) and (got_s[0] == g[0]).all()

    # out-of-screen sub-rectangle rejects
    assert decode(_gif_anim((4, 4), pal, [(patch, 3, 3, 1, None, 0)])) is None


def test_video_features_summary_rows(spark):
    """video_features: one exact-integer summary row per video payload —
    same numbers for identical content shipped as Y4M, MJPEG/AVI and
    animated GIF; non-video emits nothing."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import video_features

    frames = np.stack(
        [np.full((8, 12), v, dtype=np.uint8) for v in (10, 10, 200, 200)]
    )
    gif_pal = [(v, v, v) for v in (10, 200)]
    gif_frames = [
        ((frames[i] == 200).astype(np.uint8), 0, 0, 1, None, 4)
        for i in range(4)
    ]
    media = spark.createDataFrame(
        [
            (1, _y4m(frames, fps=(25, 1)), "video/y4m"),
            (2, _avi_mjpeg([_jpeg_encode(f) for f in frames], fps=(25, 1)),
             "video/avi"),
            (3, _gif_anim((12, 8), gif_pal, gif_frames), "image/gif"),
            (4, b"not a video", "text"),
        ],
        "doc_id long, content binary, media_type string",
    )
    got = {r["doc_id"]: r.asDict() for r in video_features(media).collect()}
    assert set(got) == {1, 2, 3}
    for d in (1, 2, 3):
        row = got[d]
        assert (row["n_frames"], row["width"], row["height"]) == (4, 12, 8)
        assert row["mean_luma"] == 105 and row["scene_count"] == 2
        assert row["max_mad"] == 190
    assert got[1]["fps_ppm"] == 25_000_000
    assert got[3]["fps_ppm"] == 100_000_000 // 4


def test_gif_animation_roundtrip_property():
    """Property check: random full-frame index stacks with a grayscale
    palette compose to exactly their palette grays, any screen size and
    frame count, disposal keep."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _video_decoder

    decode = _video_decoder()
    pal = [(v, v, v) for v in range(0, 256, 16)]  # 16 gray entries
    grays = np.array([v for v in range(0, 256, 16)], dtype=np.uint8)

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        nf=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, nf, seed):
        rng = np.random.default_rng(seed)
        idxs = rng.integers(0, 16, (nf, h, w), dtype=np.uint8)
        payload = _gif_anim(
            (w, h), pal, [(idxs[i], 0, 0, 1, None, 3) for i in range(nf)]
        )
        got, fps_ppm = decode(payload)
        assert fps_ppm == 100_000_000 // 3
        assert got.shape == (nf, h, w) and (got == grays[idxs]).all()

    check()


def test_declared_dims_allocation_bombs_reject():
    """Hardening (r07): few-byte payloads whose HEADERS declare huge
    geometry must reject before any dims-driven allocation — still
    formats at the 64 Mpx cap, video paths also at the total-luma cap
    (GIF patch frames and AVI dropped-frame chunks are bytes each but
    materialize full canvas copies)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        _pixel_decoder,
        _video_decoder,
    )

    decode = _pixel_decoder()
    video = _video_decoder()
    big = 20_000  # 400 Mpx > the 64 Mpx cap

    # JPEG: patch a valid 8x8 stream's SOF dims to 20000x20000
    good = bytearray(_jpeg_encode(np.full((8, 8), 9, dtype=np.uint8)))
    sof = good.index(b"\xff\xc0")
    good[sof + 5 : sof + 9] = big.to_bytes(2, "big") * 2
    assert decode(bytes(good)) is None

    # PNG: IHDR declaring 20000x20000 over a 1-px IDAT
    import zlib

    def png_chunk(typ, body):
        return (
            len(body).to_bytes(4, "big") + typ + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = big.to_bytes(4, "big") * 2 + bytes([8, 0, 0, 0, 0])
    assert decode(
        b"\x89PNG\r\n\x1a\n" + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(b"\0\0")) + png_chunk(b"IEND", b"")
    ) is None

    # BMP / TIFF / GIF still: patch dims in tiny valid files
    bmp = bytearray(_bmp24(np.zeros((1, 1, 3), dtype=np.uint8)))
    bmp[18:22] = big.to_bytes(4, "little")
    bmp[22:26] = big.to_bytes(4, "little")
    assert decode(bytes(bmp)) is None
    tif = bytearray(_tiff(np.zeros((1, 1), dtype=np.uint8)))
    for tag in (256, 257):
        ix = tif.find(tag.to_bytes(2, "little"))
        tif[ix + 8 : ix + 12] = big.to_bytes(4, "little")
    assert decode(bytes(tif)) is None
    gif = bytearray(_gif(np.zeros((1, 1), dtype=np.uint8), [(0, 0, 0)]))
    # frame-descriptor dims (the still path's authority), bytes 5-8 of 0x2C
    dix = gif.index(b"\x2c")
    gif[dix + 5 : dix + 9] = big.to_bytes(2, "little") * 2
    assert decode(bytes(gif)) is None

    # GIF animation: huge logical screen rejects outright
    head = bytearray(_gif_anim((4, 4), [(0, 0, 0)] * 2,
                               [(np.zeros((1, 1), dtype=np.uint8),
                                 0, 0, 1, None, 0)]))
    head[6:10] = big.to_bytes(2, "little") * 2
    assert video(bytes(head)) is None

    # GIF animation: thousands of 1x1 patch frames on a 4096x4096 canvas
    # would materialize > the 256 MB luma cap from a ~0.5 MB payload
    dot = np.zeros((1, 1), dtype=np.uint8)
    bomb = _gif_anim((4096, 4096), [(0, 0, 0)] * 2,
                     [(dot, 0, 0, 1, None, 0)] * 20)
    assert video(bomb) is None  # 20 * 16 Mpx = 320 Mpx > cap
    ok = _gif_anim((64, 64), [(0, 0, 0)] * 2, [(dot, 0, 0, 1, None, 0)] * 20)
    assert video(ok) is not None  # same structure, sane canvas

    # AVI: one real 4 Mpx frame + 80 zero-length dropped-frame chunks
    # (8 bytes each) would stack past the 256 MB luma cap
    frame = _jpeg_encode(np.zeros((4096, 1024), dtype=np.uint8))

    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\0" if len(body) & 1 else b""
        )

    movi = chunk(b"LIST", b"movi" + chunk(b"00dc", frame)
                 + chunk(b"00dc", b"") * 80)
    bomb_avi = b"RIFF" + (len(movi) + 4).to_bytes(4, "little") + b"AVI " + movi
    assert video(bomb_avi) is None


# --- FLAC (r07): test-side encoder + decode oracles ---


class _BitWriter:
    def __init__(self):
        self.acc, self.nbits, self.out = 0, 0, bytearray()

    def w(self, val, k):
        self.acc = (self.acc << k) | (val & ((1 << k) - 1))
        self.nbits += k
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)

    def align(self):
        if self.nbits:
            self.w(0, 8 - self.nbits)

    def unary(self, q):
        while q >= 32:
            self.w(0, 32)
            q -= 32
        self.w(1, q + 1)


def _flac_rice(bw, residuals, param, porder, pred_order, blocksize):
    bw.w(0, 2)  # method 0: 4-bit rice params
    bw.w(porder, 4)
    parts = 1 << porder
    it = iter(residuals)
    for part in range(parts):
        cnt = (blocksize >> porder) - (pred_order if part == 0 else 0)
        bw.w(param, 4)
        for _ in range(cnt):
            v = next(it)
            u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
            bw.unary(u >> param)
            bw.w(u & ((1 << param) - 1), param)


_FLAC_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_subframe(bw, samples, bps, kind, wasted=0, order=2, rice_param=3,
                   porder=0, lpc=None):
    import numpy as np

    blocksize = len(samples)
    s = [int(x) >> wasted for x in samples]
    bw.w(0, 1)
    if kind == "constant":
        bw.w(0, 6)
    elif kind == "verbatim":
        bw.w(1, 6)
    elif kind == "fixed":
        bw.w(8 + order, 6)
    else:  # lpc
        bw.w(32 + order - 1, 6)
    if wasted:
        bw.w(1, 1)
        bw.unary(wasted - 1)
    else:
        bw.w(0, 1)
    eff = bps - wasted
    if kind == "constant":
        bw.w(s[0], eff)
        return
    if kind == "verbatim":
        for v in s:
            bw.w(v, eff)
        return
    for v in s[:order]:  # warmup
        bw.w(v, eff)
    if kind == "lpc":
        prec, shift, coefs = lpc
        bw.w(prec - 1, 4)
        bw.w(shift, 5)
        for c in coefs:
            bw.w(c, prec)
        res = [
            s[t] - (sum(coefs[j] * s[t - 1 - j] for j in range(order)) >> shift)
            for t in range(order, blocksize)
        ]
    else:
        coef = _FLAC_FIXED[order]
        res = [
            s[t] - sum(c * s[t - 1 - j] for j, c in enumerate(coef))
            for t in range(order, blocksize)
        ]
    _flac_rice(bw, res, rice_param, porder, order, blocksize)


def _flac(samples, rate=44100, bps=16, block=None, kind="verbatim",
          mode="independent", total_override=None, **sub_kw) -> bytes:
    """Minimal FLAC encoder: STREAMINFO + frames with 16-bit blocksize
    code, UTF-8 frame numbers, chosen subframe kind and channel
    decorrelation mode; CRC bytes written as zeros (the decoder's
    contract is structural)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    block = block or n
    total = n if total_override is None else total_override
    packed = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
    si = (
        block.to_bytes(2, "big") * 2 + b"\0\0\0" * 2
        + packed.to_bytes(8, "big") + b"\0" * 16
    )
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si
    ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps]
    for fidx, start in enumerate(range(0, n, block)):
        blk = arr[start : start + block]
        bw = _BitWriter()
        bw.w(0b11111111111110, 14)
        bw.w(0, 2)  # reserved + fixed-blocksize strategy
        bw.w(7, 4)  # 16-bit blocksize follows
        bw.w(0, 4)  # rate from STREAMINFO
        if mode == "independent":
            bw.w(ch - 1, 4)
        else:
            bw.w({"left_side": 8, "right_side": 9, "mid_side": 10}[mode], 4)
        bw.w(ss_code, 3)
        bw.w(0, 1)
        assert fidx < 128  # single-byte UTF-8 frame number
        bw.w(fidx, 8)
        bw.w(len(blk) - 1, 16)
        bw.w(0, 8)  # header CRC-8 placeholder
        if mode == "independent":
            for c in range(ch):
                _flac_subframe(bw, blk[:, c], bps, kind, **sub_kw)
        else:
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            if mode == "left_side":
                _flac_subframe(bw, left, bps, kind, **sub_kw)
                _flac_subframe(bw, side, bps + 1, kind, **sub_kw)
            elif mode == "right_side":
                _flac_subframe(bw, side, bps + 1, kind, **sub_kw)
                _flac_subframe(bw, right, bps, kind, **sub_kw)
            else:
                mid = (left + right) >> 1
                _flac_subframe(bw, mid, bps, kind, **sub_kw)
                _flac_subframe(bw, side, bps + 1, kind, **sub_kw)
        bw.align()
        bw.w(0, 16)  # frame CRC-16 placeholder
        out += bw.out
    return bytes(out)


def test_flac_verbatim_constant_exact():
    """FLAC real decode (r07): verbatim and constant subframes roundtrip
    mono samples exactly; rate comes from STREAMINFO; multi-frame streams
    concatenate; a STREAMINFO total trims nothing when exact."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()
    rng = np.random.default_rng(19)
    s = rng.integers(-32768, 32768, 300, dtype=np.int64)
    got = decode(_flac(s, rate=22050))
    assert got is not None
    mono, rate, bits = got
    assert rate == 22050 and bits == 16 and mono.tolist() == s.tolist()

    multi = decode(_flac(s, block=128))  # 3 frames: 128+128+44
    assert multi is not None and multi[0].tolist() == s.tolist()

    const = decode(_flac(np.full(64, -1234, dtype=np.int64), kind="constant"))
    assert const is not None and const[0].tolist() == [-1234] * 64

    w = decode(_flac(np.arange(-8, 8, dtype=np.int64) << 3, kind="verbatim",
                     wasted=3))
    assert w is not None and w[0].tolist() == (np.arange(-8, 8) << 3).tolist()


def test_flac_fixed_lpc_rice_exact():
    """FIXED orders 0-4 and LPC subframes with rice residuals (partition
    orders 0-2) reconstruct exactly — smooth signals so residuals stay
    small; 8/24-bit sample sizes included."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()
    t = np.arange(256)
    s = (1000 * np.sin(t / 9)).astype(np.int64)
    for order in (0, 1, 2, 3, 4):
        for porder in (0, 2):
            got = decode(_flac(s, kind="fixed", order=order,
                               rice_param=6, porder=porder))
            assert got is not None, (order, porder)
            assert got[0].tolist() == s.tolist(), (order, porder)

    lpc = decode(_flac(s, kind="lpc", order=2, rice_param=6,
                       lpc=(6, 4, [31, -15])))
    assert lpc is not None and lpc[0].tolist() == s.tolist()

    small = (s >> 9).astype(np.int64)  # fits 8-bit
    got8 = decode(_flac(small, bps=8, kind="fixed", order=1, rice_param=3))
    assert got8 is not None and got8[0].tolist() == small.tolist()
    wide = (s << 8).astype(np.int64)  # 24-bit
    got24 = decode(_flac(wide, bps=24, kind="fixed", order=2, rice_param=14))
    assert got24 is not None and got24[0].tolist() == wide.tolist()


def test_flac_stereo_decorrelation_exact():
    """Independent, left/side, right/side and mid/side stereo all decode
    to the same floor-mean mono mixdown as the raw channels."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()
    rng = np.random.default_rng(23)
    st = rng.integers(-30000, 30000, (200, 2), dtype=np.int64)
    want = (st.sum(axis=1) // 2).tolist()
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        got = decode(_flac(st, mode=mode))
        assert got is not None, mode
        assert got[0].tolist() == want, mode


def test_flac_malformed_rejects_and_audio_features(spark):
    """Truncation, bad sync and over-promising STREAMINFO reject;
    audio_features rides the FLAC path end-to-end."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        _flac_decoder,
        audio_features,
    )

    decode = _flac_decoder()
    s = np.arange(-50, 50, dtype=np.int64) * 100
    payload = _flac(s, rate=16000)
    assert decode(payload[:-3]) is None                 # truncated frame
    assert decode(b"fLaC" + payload[4:20]) is None      # truncated metadata
    bad_sync = bytearray(payload)
    si_end = 4 + 4 + 34
    bad_sync[si_end] = 0x00  # stomp the first frame's sync byte
    assert decode(bytes(bad_sync)) is None
    assert decode(_flac(s, total_override=500)) is None  # promises too much
    trimmed = decode(_flac(s, total_override=40))
    assert trimmed is not None and trimmed[0].tolist() == s[:40].tolist()

    media = spark.createDataFrame(
        [(1, payload, "audio/flac")],
        "doc_id long, content binary, media_type string",
    )
    row = audio_features(media).collect()[0]
    assert row["sample_rate"] == 16000 and row["n_samples"] == 100
    assert row["peak_abs"] == 5000


def test_flac_roundtrip_property():
    """Property check: any int16 signal, any subframe kind / block split /
    stereo mode, decodes back exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(8, 120),
        block=st.integers(8, 64),
        kind=st.sampled_from(["verbatim", "fixed"]),
        order=st.integers(0, 4),
        stereo=st.booleans(),
        mode=st.sampled_from(["independent", "left_side", "right_side",
                              "mid_side"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(n, block, kind, order, stereo, mode, seed):
        rng = np.random.default_rng(seed)
        if stereo:
            s = rng.integers(-32768, 32768, (n, 2), dtype=np.int64)
            want = (s.sum(axis=1) // 2).tolist()
        else:
            s = rng.integers(-32768, 32768, n, dtype=np.int64)
            want = s.tolist()
            mode = "independent"
        block = min(block, n)
        if kind == "fixed":
            # every frame (incl. the tail) must hold more samples than the
            # predictor order, or the stream is structurally invalid
            tail = n % block or block
            order = min(order, tail - 1, block - 1)
            if order < 0:
                order = 0
        kw = {"order": order, "rice_param": 14} if kind == "fixed" else {}
        got = decode(_flac(s, block=block, kind=kind, mode=mode, **kw))
        assert got is not None
        assert got[0].tolist() == want

    check()


def test_flac_predictor_feedback_bomb_rejects():
    """A crafted LPC subframe whose predictor multiplies each sample by
    2^14 must reject at the magnitude bound (None), not grow bignums and
    crash np.array with OverflowError (review r07)."""
    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()
    blocksize = 64
    packed = (44100 << 44) | (0 << 41) | (23 << 36) | blocksize
    si = (blocksize.to_bytes(2, "big") * 2 + b"\0\0\0" * 2
          + packed.to_bytes(8, "big") + b"\0" * 16)
    bw = _BitWriter()
    bw.w(0b11111111111110, 14)
    bw.w(0, 2)
    bw.w(7, 4)   # 16-bit blocksize follows
    bw.w(0, 4)   # rate from STREAMINFO
    bw.w(0, 4)   # mono
    bw.w(6, 3)   # 24-bit samples
    bw.w(0, 1)
    bw.w(0, 8)   # frame number 0
    bw.w(blocksize - 1, 16)
    bw.w(0, 8)   # header CRC
    # subframe: LPC order 1, warmup 2^23-1, coef 16383, shift 0,
    # all-zero rice residuals -> s[t] = 16383 * s[t-1]
    bw.w(0, 1)
    bw.w(32 + 0, 6)
    bw.w(0, 1)
    bw.w((1 << 23) - 1, 24)
    bw.w(14, 4)   # precision 15
    bw.w(0, 5)    # shift 0
    bw.w(16383, 15)
    bw.w(0, 2)    # rice method 0
    bw.w(0, 4)    # partition order 0
    bw.w(0, 4)    # rice param 0
    for _ in range(blocksize - 1):
        bw.w(1, 1)  # zigzag 0: quotient unary '1', zero remainder bits
    bw.align()
    bw.w(0, 16)
    payload = (b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si
               + bw.out)
    assert decode(payload) is None  # and returns fast, no bignum walk


def test_wav_extensible_adpcm_uses_builtin_coefs():
    """EXTENSIBLE-wrapped MS ADPCM must NOT read coefficient pairs out of
    the channel mask / GUID bytes — the trailer is stripped and the 7
    built-in pairs apply (review r07)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    rng = np.random.default_rng(29)
    blk = _ms_block(rng, 1, 4, 7)
    plain = decode(_wav_raw(blk, _fmt_adpcm(2, 1, 8000, 11, 10)))
    assert plain is not None

    ext = (
        (0xFFFE).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (11).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (22).to_bytes(2, "little")        # cbSize
        + (4).to_bytes(2, "little")         # valid bits
        + (0x3).to_bytes(4, "little")       # channel mask (NOT wNumCoef!)
        + (2).to_bytes(2, "little") + bytes(14)  # SubFormat GUID -> tag 2
    )
    wrapped = decode(_wav_raw(blk, ext))
    assert wrapped is not None
    assert wrapped[0].tolist() == plain[0].tolist()


def test_ms_adpcm_negative_predictor_truncates_toward_zero():
    """Directed pin of the C `/256` convention: s1=-5 with coef (240, 0)
    gives -1200/256 = -4 (trunc), not -5 (floor) — review r07."""
    import struct

    from apache_jira_scraper_spark.operators.multimodal import _wav_decoder

    decode = _wav_decoder()
    blk = bytes([4])                       # predictor 4 -> coefs (240, 0)
    blk += struct.pack("<h", 16)           # iDelta
    blk += struct.pack("<h", -5)           # iSamp1
    blk += struct.pack("<h", 0)            # iSamp2
    blk += bytes([0x00])                   # two zero nibbles
    got = decode(_wav_raw(blk, _fmt_adpcm(2, 1, 8000, 8, 4)))
    assert got is not None
    # samples: s2=0, s1=-5, then -1200/256 trunc -> -4, then
    # (-4*240 + -5*0)/256 = -960/256 trunc -> -3
    assert got[0].tolist() == [0, -5, -4, -3]


def test_audio_features_bit_depth_scaled_silence_and_wide_zcr(spark):
    """Review r07 regressions: a loud 8-bit PCM WAV is NOT all-silent
    (floor scales with the source grid), and same-sign loud 24-bit FLAC
    samples do NOT count as zero crossings (int64-widened product)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import audio_features

    loud8 = _wav(np.array([-128, 127, 100, -100], dtype=np.int32), bits=8)
    flac24 = _flac(np.array([2_000_000, 3_000_000, 2_500_000],
                            dtype=np.int64), bps=24)
    media = spark.createDataFrame(
        [(1, loud8, "audio/wav"), (2, flac24, "audio/flac")],
        "doc_id long, content binary, media_type string",
    )
    got = {r["doc_id"]: r.asDict() for r in audio_features(media).collect()}
    assert got[1]["silence_ppm"] == 0          # was 1_000_000 pre-fix
    assert got[1]["peak_abs"] == 128
    assert got[2]["zcr_ppm"] == 0              # was wrapped-int32 garbage
    assert got[2]["peak_abs"] == 3_000_000


def _dhash_ref(frame) -> int:
    """Independent scalar dHash reference: 9x8 area-mean grid, row-major
    left-to-right gradient bits, MSB first, two's-complement long."""
    h, w = frame.shape
    cells = [
        [
            sum(
                int(frame[r, c])
                for r in range(ri * h // 8, (ri + 1) * h // 8)
                for c in range(ci * w // 9, (ci + 1) * w // 9)
            )
            // (((ri + 1) * h // 8 - ri * h // 8) * ((ci + 1) * w // 9 - ci * w // 9))
            for ci in range(9)
        ]
        for ri in range(8)
    ]
    v = 0
    for ri in range(8):
        for ci in range(8):
            v = (v << 1) | (1 if cells[ri][ci + 1] > cells[ri][ci] else 0)
    return v - (1 << 64) if v >= 1 << 63 else v


def test_frame_phash_exact_and_container_invariant(spark):
    """frame_phash matches the scalar dHash reference exactly and is
    container-invariant (Y4M == MJPEG/AVI for constant-tile content);
    sub-9x8 frames emit nothing."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import frame_phash

    rng = np.random.default_rng(31)
    tiles = rng.integers(0, 256, (3, 2, 3), dtype=np.uint8)
    frames = np.repeat(np.repeat(tiles, 8, axis=1), 8, axis=2)  # 3x16x24
    media = spark.createDataFrame(
        [
            (1, _y4m(frames), "video/y4m"),
            (2, _avi_mjpeg([_jpeg_encode(f) for f in frames]), "video/avi"),
            (3, _y4m(np.zeros((2, 4, 4), dtype=np.uint8)), "video/tiny"),
        ],
        "doc_id long, content binary, media_type string",
    )
    got = {
        (r["doc_id"], r["frame_idx"]): r["phash"]
        for r in frame_phash(media).collect()
    }
    assert set(d for d, _ in got) == {1, 2}  # tiny frames emit nothing
    for i in range(3):
        want = _dhash_ref(frames[i])
        assert got[(1, i)] == want, i
        assert got[(2, i)] == want, i  # container-invariant


def test_video_near_dup_pairs_banded_join(spark, sf_dir):
    """Near-identical videos (few-pixel luma noise) pair up under the
    pigeonhole-banded join with small hamming; unrelated content does
    not; the candidate plan has no cartesian/BNLJ."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        video_near_dup_pairs,
    )
    from apache_jira_scraper_spark.plans.inspect import operator_counts

    rng = np.random.default_rng(37)
    base = rng.integers(0, 256, (4, 16, 18), dtype=np.uint8)
    noisy = base.copy()
    noisy[:, 0, 0] ^= 1  # one-pixel wiggle per frame
    other = rng.integers(0, 256, (4, 16, 18), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, _y4m(base), "v"),
            (2, _y4m(noisy), "v"),
            (3, _y4m(other), "v"),
        ],
        "doc_id long, content binary, media_type string",
    )
    out = video_near_dup_pairs(media, max_hamming=3)
    ops = operator_counts(out)
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoopJoin" not in ops, ops
    rows = {(r["doc_a"], r["doc_b"]): r.asDict() for r in out.collect()}
    assert (1, 2) in rows
    assert rows[(1, 2)]["matching_frames"] >= 4  # every frame pairs up
    assert rows[(1, 2)]["min_hamming"] == 0  # the wiggle rarely moves a cell
    assert (1, 3) not in rows and (2, 3) not in rows


def test_image_phash_format_invariant_near_dups(spark, sf_dir):
    """image_phash: the same pixels shipped as BMP, PNG and PGM hash
    identically (format-invariant dHash); a lightly-edited copy pairs
    within the hamming bound; unrelated images don't pair; the banded
    plan has no cartesian."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        image_near_dup_pairs,
        image_phash,
    )
    from apache_jira_scraper_spark.plans.inspect import operator_counts

    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    edited = img.copy()
    edited[0, 0] ^= 1
    other = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    rgb = np.repeat(img[:, :, None], 3, axis=2)  # gray shipped as RGB
    media = spark.createDataFrame(
        [
            (1, _bmp24(rgb), "image/bmp"),
            (2, _png(img), "image/png"),
            (3, _pgm_p5(edited), "image/pgm"),
            (4, _pgm_p5(other), "image/pgm"),
            (5, b"not an image", "text"),
        ],
        "doc_id long, content binary, media_type string",
    )
    hashes = {r["doc_id"]: r["phash"] for r in image_phash(media).collect()}
    assert set(hashes) == {1, 2, 3, 4}
    assert hashes[1] == hashes[2] == _dhash_ref(img)  # format-invariant

    out = image_near_dup_pairs(media, max_hamming=3)
    ops = operator_counts(out)
    assert "CartesianProduct" not in ops and "BroadcastNestedLoopJoin" not in ops
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_audio_phash_container_invariant_near_dups(spark, sf_dir):
    """audio_phash: the same samples as PCM WAV and FLAC hash identically;
    a lightly amplitude-edited copy pairs within the bound; different
    audio doesn't; sub-65-sample streams emit nothing. Pinned against an
    independent scalar envelope-hash reference."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        audio_near_dup_pairs,
        audio_phash,
    )

    rng = np.random.default_rng(43)
    t = np.arange(400)
    s = (8000 * np.sin(t / 7) + rng.integers(-500, 500, 400)).astype(np.int64)
    edited = s.copy()
    edited[5:10] += 30  # tiny local amplitude edit
    other = rng.integers(-20000, 20000, 400, dtype=np.int64)
    media = spark.createDataFrame(
        [
            (1, _wav(s.astype(np.int32)), "audio/wav"),
            (2, _flac(s), "audio/flac"),
            (3, _wav(edited.astype(np.int32)), "audio/wav"),
            (4, _wav(other.astype(np.int32)), "audio/wav"),
            (5, _wav(np.arange(10, dtype=np.int32)), "audio/short"),
        ],
        "doc_id long, content binary, media_type string",
    )
    hashes = {r["doc_id"]: r["phash"] for r in audio_phash(media).collect()}
    assert set(hashes) == {1, 2, 3, 4}  # short stream emitted nothing
    assert hashes[1] == hashes[2]  # container-invariant

    # independent scalar reference
    mag = [abs(int(x)) for x in s]
    env = [
        sum(mag[k * 400 // 65 : (k + 1) * 400 // 65])
        // (((k + 1) * 400 // 65) - (k * 400 // 65))
        for k in range(65)
    ]
    want = 0
    for k in range(64):
        want = (want << 1) | (1 if env[k + 1] > env[k] else 0)
    if want >= 1 << 63:
        want -= 1 << 64
    assert hashes[1] == want

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in audio_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_audio_features_rms_exact_past_int64_wrap(spark):
    """~140k near-full-scale 24-bit samples push the vectorized square-sum
    past 2^63 — audio_features must route through exact bignums, not wrap
    and crash isqrt (review r07)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import audio_features

    peak = (1 << 23) - 1
    n = 140_100
    flac = _flac(np.full(n, peak, dtype=np.int64), bps=24,
                 kind="constant", block=50_000)
    media = spark.createDataFrame(
        [(1, flac, "audio/flac")], "doc_id long, content binary, media_type string"
    )
    row = audio_features(media).collect()[0]
    assert row["n_samples"] == n and row["peak_abs"] == peak
    assert row["rms_x100"] == 100 * peak  # exact: constant signal


def test_flac_wasted_bits_shift_respects_bound():
    """A crafted eff=1/wasted=23 FIXED subframe whose escape residuals
    pass the pre-shift bound must still reject after the wasted shift
    (review r07: 2^48 magnitudes would wrap the int32 cast)."""
    from apache_jira_scraper_spark.operators.multimodal import _flac_decoder

    decode = _flac_decoder()
    blocksize = 8
    packed = (8000 << 44) | (0 << 41) | (23 << 36) | blocksize
    si = (blocksize.to_bytes(2, "big") * 2 + b"\0\0\0" * 2
          + packed.to_bytes(8, "big") + b"\0" * 16)
    bw = _BitWriter()
    bw.w(0b11111111111110, 14)
    bw.w(0, 2)
    bw.w(7, 4)
    bw.w(0, 4)
    bw.w(0, 4)   # mono
    bw.w(6, 3)   # 24-bit
    bw.w(0, 1)
    bw.w(0, 8)
    bw.w(blocksize - 1, 16)
    bw.w(0, 8)
    # subframe: FIXED order 0, wasted=23 (eff=1)
    bw.w(0, 1)
    bw.w(8, 6)          # FIXED order 0
    bw.w(1, 1)          # wasted flag
    bw.unary(22)        # 23 wasted bits
    bw.w(0, 2)          # rice method 0
    bw.w(0, 4)          # partition order 0
    bw.w(15, 4)         # escape
    bw.w(27, 5)         # raw residual width
    for _ in range(blocksize):
        bw.w(1 << 25, 27)  # passes the pre-shift bound, 2^48 after shift
    bw.align()
    bw.w(0, 16)
    payload = (b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si
               + bw.out)
    assert decode(payload) is None


def test_audio_phash_onset_anchor_matches_time_shifted_copy(spark):
    """VERDICT r07 item 4: anchor="onset" trims both ends to the onset
    span (|s|*16 >= peak) before bucketing, so a copy of the same track
    with silence prepended AND appended hashes IDENTICALLY — across
    containers (WAV original vs FLAC shifted copy) — while the default
    fixed grid misses it and a distinct track never pairs either way."""
    import numpy as np

    import pytest as _pytest

    from apache_jira_scraper_spark.operators.multimodal import (
        audio_near_dup_pairs,
        audio_phash,
    )

    rng = np.random.default_rng(53)
    t = np.arange(4000)
    s = (12000 * np.sin(t / 11) + rng.integers(-700, 700, 4000)).astype(
        np.int64
    )
    shifted = np.concatenate(
        [np.zeros(1200, dtype=np.int64), s, np.zeros(800, dtype=np.int64)]
    )
    other = (9000 * np.cos(t / 5) + rng.integers(-700, 700, 4000)).astype(
        np.int64
    )
    media = spark.createDataFrame(
        [
            (1, _wav(s.astype(np.int32)), "audio/wav"),
            (2, _flac(shifted), "audio/flac"),
            (3, _wav(other.astype(np.int32)), "audio/wav"),
            (4, _wav(np.zeros(200, dtype=np.int32)), "audio/silence"),
        ],
        "doc_id long, content binary, media_type string",
    )
    fixed = {r["doc_id"]: r["phash"] for r in audio_phash(media).collect()}
    onset = {
        r["doc_id"]: r["phash"]
        for r in audio_phash(media, anchor="onset").collect()
    }
    assert fixed[1] != fixed[2]  # the shift breaks the fixed grid
    assert onset[1] == onset[2]  # onset trim cancels the padding exactly
    assert 4 not in onset  # pure silence: no onset to anchor on
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in audio_near_dup_pairs(media, anchor="onset").collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    with _pytest.raises(ValueError, match="anchor"):
        audio_phash(media, anchor="argmax")
    # review r08: hashing params must not be silently ignored alongside a
    # precomputed phash table (the phash branch would win and the caller
    # would believe onset/stride matching was active)
    from apache_jira_scraper_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    ph = audio_phash(media)
    with _pytest.raises(ValueError, match="anchor"):
        audio_near_dup_pairs(media, anchor="onset", phash=ph)
    with _pytest.raises(ValueError, match="stride"):
        video_near_dup_pairs(media, stride=2, phash=ph)


def test_suggested_block_freq_cap_formula_and_small_corpus_noop(spark):
    """VERDICT r07 item 5 (documented decision): max_block_freq stays
    opt-in — the certified contract is the exact hamming<=k pair set —
    and suggested_block_freq_cap gives the principled production value:
    max(64, ceil(multiple * n / 2^16)). On a small corpus the floor makes
    the suggested cap a no-op (capped == uncapped pair set)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        image_near_dup_pairs,
        suggested_block_freq_cap,
    )

    assert suggested_block_freq_cap(100) == 64          # floor
    assert suggested_block_freq_cap(1_000_000) == 153   # ceil(1e7/65536)
    assert suggested_block_freq_cap(10_000_000) == 1526
    assert suggested_block_freq_cap(1 << 16, multiple=640) == 640

    rng = np.random.default_rng(59)
    base = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    near = base.copy()
    near[0, 0] ^= 1
    rows = [(1, _pgm_p5(base), "img"), (2, _pgm_p5(near), "img")]
    rows += [
        (10 + i, _pgm_p5(rng.integers(0, 256, (16, 18), dtype=np.uint8)), "img")
        for i in range(6)
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, content binary, media_type string"
    )
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in image_near_dup_pairs(media).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in image_near_dup_pairs(
            media, max_block_freq=suggested_block_freq_cap(len(rows))
        ).collect()
    }
    assert (1, 2) in uncapped and capped == uncapped


def test_phash_fixture_payloads_match_reference(spark, sf_dir):
    """r08 gate-leg fixtures: the column-algebra PGM/PPM/Y4M payloads are
    byte-identical to an independent Python construction of the same
    member rules (regression for the F.transform two-parameter-lambda
    trap, where the array INDEX silently replaced the frame number)."""
    import duckdb

    from apache_jira_scraper_spark.operators.multimodal import (
        PHASH_AUD_SAMPLES,
        PHASH_AUD_SHIFT,
        PHASH_GROUP,
        PHASH_IMG_H,
        PHASH_IMG_W,
        PHASH_SAMPLE_MOD,
        PHASH_VID_FRAMES,
        PHASH_VID_H,
        PHASH_VID_W,
        phash_audio_fixture,
        phash_image_fixture,
        phash_video_fixture,
    )

    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )

    def ref_img(doc_id):
        t = docs[doc_id - doc_id % PHASH_GROUP]
        m = (doc_id % PHASH_GROUP) // PHASH_SAMPLE_MOD
        w, h, n = PHASH_IMG_W, PHASH_IMG_H, len(t)
        npx = w * h
        rev = t[::-1]
        px = bytearray()
        for i in range(npx):
            if m == 3:
                px.append(ord(rev[i % n]))
            elif m == 2 and i >= npx - 16:
                px.append(ord("M"))
            else:
                px.append(ord(t[i % n]))
        if m == 1:
            return (
                f"P6\n{w} {h}\n255\n".encode()
                + bytes(b for v in px for b in (v, v, v))
            )
        head = (
            f"P5\n# near-dup fixture\n{w} {h}\n255\n"
            if m == 2
            else f"P5\n{w} {h}\n255\n"
        )
        return head.encode() + bytes(px)

    def ref_vid(doc_id):
        t = docs[doc_id - doc_id % PHASH_GROUP]
        m = (doc_id % PHASH_GROUP) // PHASH_SAMPLE_MOD
        w, h, n = PHASH_VID_W, PHASH_VID_H, len(t)
        fpx = w * h
        fps = "F30:1" if m == 1 else "F25:1"
        out = bytearray(f"YUV4MPEG2 W{w} H{h} {fps} Cmono\n".encode())
        rev = t[::-1]
        for f in range(PHASH_VID_FRAMES):
            out += b"FRAME\n"
            for i in range(fpx):
                if m == 3:
                    out.append(ord(rev[(i + 17 * f) % n]))
                elif m == 2 and i >= fpx - 16:
                    out.append(ord("X"))
                else:
                    out.append(ord(t[(i + 17 * f) % n]))
        return bytes(out)

    def ref_aud(doc_id):
        t = docs[doc_id - doc_id % PHASH_GROUP]
        m = (doc_id % PHASH_GROUP) // PHASH_SAMPLE_MOD
        ns, pre, n = PHASH_AUD_SAMPLES, PHASH_AUD_SHIFT, len(t)
        rev = t[::-1]
        data = bytearray(b"\x7f" * pre if m == 1 else b"")
        for i in range(ns):
            if m == 3:
                data.append(ord(rev[i % n]))
            elif m == 2 and i >= ns - 16:
                data.append(ord("M"))
            else:
                data.append(ord(t[i % n]))
        ds = len(data)
        head = b"RIFF" + (36 + ds).to_bytes(4, "little") + b"WAVE"
        head += b"fmt " + (16).to_bytes(4, "little")
        head += (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        head += (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        head += (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        head += b"data" + ds.to_bytes(4, "little")
        return head + bytes(data)

    img = {
        r["doc_id"]: bytes(r["content"])
        for r in phash_image_fixture(spark, sf_dir).collect()
    }
    vid = {
        r["doc_id"]: bytes(r["content"])
        for r in phash_video_fixture(spark, sf_dir).collect()
    }
    aud = {
        r["doc_id"]: bytes(r["content"])
        for r in phash_audio_fixture(spark, sf_dir).collect()
    }
    assert img, "fixture sampled no docs"
    assert set(img) == set(vid) == set(aud)
    for doc_id in sorted(img)[:8]:  # all four members of the first groups
        assert img[doc_id] == ref_img(doc_id), f"img payload drift doc {doc_id}"
        assert vid[doc_id] == ref_vid(doc_id), f"vid payload drift doc {doc_id}"
        assert aud[doc_id] == ref_aud(doc_id), f"aud payload drift doc {doc_id}"


def test_video_aligned_frames_temporal_consistency(spark):
    """r08 aligned_frames: a consistently time-shifted copy matches at
    ONE frame offset (aligned == matching) while a scrambled cut matches
    the same frames scattered across offsets (aligned < matching) — the
    temporal-consistency rerank signal frame-set counting cannot see."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    rng = np.random.default_rng(67)
    f0, f1, f2, tail = (
        rng.integers(0, 256, (16, 18), dtype=np.uint8) for _ in range(4)
    )
    original = np.stack([f0, f1, f2])
    shifted = np.stack([f1, f2, tail])  # original minus head, plus new tail
    scrambled = np.stack([f0, f2, f1])  # same frames, reordered
    media = spark.createDataFrame(
        [
            (1, _y4m(original), "v"),
            (2, _y4m(shifted), "v"),
            (3, _y4m(scrambled), "v"),
        ],
        "doc_id long, content binary, media_type string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): (
            r["matching_frames"],
            r["min_hamming"],
            r["aligned_frames"],
        )
        for r in video_near_dup_pairs(media).collect()
    }
    # shifted copy: f1/f2 both match at offset -1 -> fully aligned
    assert rows[(1, 2)] == (2, 0, 2)
    # scrambled cut: all three frames match but at offsets 0, +1, -1
    assert rows[(1, 3)] == (3, 0, 1)


def test_media_near_dup_against_index(spark):
    """r08 incremental media near-dup: a new batch's phash table joins a
    stored index WITHOUT re-hashing it — banded equi-join (plan-pinned no
    cartesian / no aggregate on the default path), emit-once multi-block
    dedup, exact hamming verify, degenerate drop; the union-side
    frequency cap still finds a pair whose first agreeing block is
    saturated."""
    from apache_jira_scraper_spark.operators.multimodal import (
        media_near_dup_against_index,
    )

    import pytest as _pytest

    h = 0x1234_5678_9ABC_DEF0
    index = spark.createDataFrame(
        [(1, h), (2, h ^ 0b11), (3, 0x7EAD_BEEF_0BAD_F00D), (4, 0)],
        "doc_id long, phash long",
    )
    new = spark.createDataFrame(
        [(100, h), (101, 0x0123_4567_89AB_CDEF), (102, 0)],
        "doc_id long, phash long",
    )
    out = media_near_dup_against_index(new, index)
    got = sorted(
        (r["new_doc"], r["index_doc"], r["hamming"]) for r in out.collect()
    )
    # 100 matches index 1 exactly (all four blocks agree -> ONE row) and
    # index 2 at hamming 2; degenerate hashes (4, 102) never pair
    assert got == [(100, 1, 0), (100, 2, 2)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" not in plan and "Deduplicate" not in plan
    with _pytest.raises(ValueError, match="hamming"):
        media_near_dup_against_index(new, index, max_hamming=5)

    def s64(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    # capped path: the planted pair agrees in block 0 (saturated by a
    # 10-doc index flood) AND block 2 (unique) — found via block 2
    sat = 0xBEEF
    flood = [
        (i, s64((hi << 48) | ((hi ^ 0xFFFF) << 32) | ((i * 0x0101) << 16) | sat))
        for i, hi in enumerate(
            [0x1111, 0x2222, 0x3333, 0x4444, 0x5555,
             0x6666, 0x7777, 0x8888, 0x9999, 0xAAAA], start=1)
    ]
    pa = (0x0F0F << 48) | (0x00AA << 32) | (0x3C3C << 16) | sat
    index2 = spark.createDataFrame(
        flood + [(50, pa)], "doc_id long, phash long"
    )
    new2 = spark.createDataFrame(
        [(200, pa ^ (1 << 16) ^ (1 << 48))], "doc_id long, phash long"
    )
    capped = media_near_dup_against_index(new2, index2, max_block_freq=8)
    got2 = {(r["new_doc"], r["index_doc"]) for r in capped.collect()}
    assert got2 == {(200, 50)}


def test_media_near_dup_clusters_end_to_end(spark):
    """r08: media dedup end-to-end tail — near-dup pairs (real decode +
    banded join) connect into components via the certified hash-to-min
    machinery; min-doc_id keeper marked per cluster; isolated docs carry
    no edges and are absent (their own trivial keepers)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        image_near_dup_pairs,
        media_near_dup_clusters,
    )

    rng = np.random.default_rng(61)
    a = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    b = a.copy()  # identical -> hamming 0 with a
    c = a.copy()
    c[0, 0] ^= 1  # near a (and transitively clustered with b)
    d = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    e = d.copy()
    f = rng.integers(0, 256, (16, 18), dtype=np.uint8)  # isolated
    media = spark.createDataFrame(
        [
            (10, _pgm_p5(a), "i"),
            (11, _pgm_p5(b), "i"),
            (12, _pgm_p5(c), "i"),
            (20, _pgm_p5(d), "i"),
            (21, _pgm_p5(e), "i"),
            (30, _pgm_p5(f), "i"),
        ],
        "doc_id long, content binary, media_type string",
    )
    rows = media_near_dup_clusters(image_near_dup_pairs(media)).collect()
    got = {(r["doc_id"], r["cluster_id"], r["is_keeper"]) for r in rows}
    assert got == {
        (10, 10, True),
        (11, 10, False),
        (12, 10, False),
        (20, 20, True),
        (21, 20, False),
    }


def test_phash_gate_fixture_premises(spark, sf_dir):
    """Review r08: the driver gate certifies Spark/DuckDB AGREEMENT — it
    would stay green if both sides agreed on an empty pair set. This pins
    the fixture's data-dependent premises against the actual testdata:
    in every group the m=0 and m=1 payloads collide at hamming 0 in all
    three modalities (P5 vs P6 tripled luma; Y4M fps-header variant; the
    audio onset trim cancelling the quiet prefix — which relies on each
    group-base text containing a character <= 'o'), so every leg's pair
    set is structurally non-empty."""
    from apache_jira_scraper_spark.operators.multimodal import (
        PHASH_GROUP,
        PHASH_SAMPLE_MOD,
        audio_phash,
        frame_phash,
        image_phash,
        phash_audio_fixture,
        phash_image_fixture,
        phash_video_fixture,
    )

    img = {
        r["doc_id"]: r["phash"]
        for r in image_phash(phash_image_fixture(spark, sf_dir)).collect()
    }
    aud = {
        r["doc_id"]: r["phash"]
        for r in audio_phash(
            phash_audio_fixture(spark, sf_dir), anchor="onset"
        ).collect()
    }
    vid = {}
    for r in frame_phash(phash_video_fixture(spark, sf_dir)).collect():
        vid.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["phash"]

    bases = sorted(d for d in img if d % PHASH_GROUP == 0)
    assert bases, "no fixture groups sampled"
    complete = []  # groups whose m=1 member exists (trailing group may not)
    for g in bases:
        m1 = g + PHASH_SAMPLE_MOD
        if m1 not in img:
            continue  # last partial group
        assert img[g] == img[m1], f"P5/P6 luma collision broken, group {g}"
        assert vid[g] == vid[m1], f"Y4M fps-variant collision broken, group {g}"
        assert aud[g] == aud[m1], (
            f"onset-anchored shifted-copy collision broken, group {g} — "
            "did the quiet byte or trim threshold change, or does the "
            "base text lack any character <= 'o'?"
        )
        complete.append(g)
    assert complete
    # degenerate (phash 0) rows are dropped before the banded join, so a
    # structurally non-empty PAIR set also needs at least one COMPLETE
    # group whose colliding hash is non-zero — in every modality
    assert any(img[g] != 0 for g in complete)
    assert any(aud[g] != 0 for g in complete)
    assert any(ph != 0 for g in complete for ph in vid[g].values())


def test_media_tail_gate_fixture_premises(spark, sf_dir):
    """r09 pipeline-tail legs premise pin (same defense as
    test_phash_gate_fixture_premises): the clusters leg and the
    against-index leg of the multimodal_decode gate must be structurally
    NON-EMPTY on the actual testdata, or both gate sides could drift to
    an all-sentinel agreement. In every complete group: (a) m=0 and m=1
    share a cluster whose keeper is the min doc_id (m=0), via the REAL
    operators over the cross-modal edge union; (b) the odd/even member
    split puts m=1 in the new batch and m=0 in the index, so
    media_near_dup_against_index surfaces the planted hamming-0 match."""
    from apache_jira_scraper_spark.operators.multimodal import (
        PHASH_GROUP,
        PHASH_SAMPLE_MOD,
        image_near_dup_pairs,
        image_phash,
        media_near_dup_against_index,
        media_near_dup_clusters,
        phash_image_fixture,
    )

    img_media = phash_image_fixture(spark, sf_dir)
    ph = image_phash(img_media).localCheckpoint(eager=False)
    pairs = image_near_dup_pairs(img_media, phash=ph)
    clus = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in media_near_dup_clusters(pairs).collect()
    }
    assert clus, "cluster leg empty: pair set lost its planted collisions"
    from pyspark.sql import functions as F

    parity = F.expr(f"(doc_id % {PHASH_GROUP}) DIV {PHASH_SAMPLE_MOD} % 2")
    hits = media_near_dup_against_index(
        ph.filter(parity == 1), ph.filter(parity == 0)
    ).collect()
    assert hits, "against-index leg empty: odd/even split lost its match"
    hashes = {r["doc_id"]: r["phash"] for r in ph.collect()}
    checked = 0
    for g in sorted(d for d in hashes if d % PHASH_GROUP == 0):
        m1 = g + PHASH_SAMPLE_MOD
        if m1 not in hashes or hashes[g] == 0:
            continue
        # (a) planted pair => same cluster, min-id keeper
        assert clus[g] == (g, True), f"group {g}: base not its own keeper"
        assert clus[m1][0] == g and not clus[m1][1], f"group {g}: m1 keeper wrong"
        # (b) m1 (new) matches g (index) at hamming 0
        assert any(
            r["new_doc"] == m1 and r["index_doc"] == g and r["hamming"] == 0
            for r in hits
        ), f"group {g}: planted new-vs-index match missing"
        checked += 1
    assert checked


def test_multimodal_phash_tables_build_once_per_session(spark, sf_dir):
    """The three fixture hash tables (the gate's Arrow decode) are the
    multimodal session cache: two gate calls reuse the same cached tuple.
    The fixture core, pair tables and clusters are per-call work owned by
    the gate wrapper, so a second call frees the first call's and, after
    release(), only the cached tables' storage is left."""
    from apache_jira_scraper_spark import registry
    from apache_jira_scraper_spark.io import free_local_checkpoint
    from apache_jira_scraper_spark.operators import multimodal as M
    from tests.oracle_utils import persistent_rdd_ids

    gate = registry.queries()["multimodal_decode"]

    def _drain():
        # dropping the only reference without freeing would strand the
        # eager checkpoint blocks until GC — the leak io.py documents
        for tables in M._PHASH_TABLES.values():
            for df in tables:
                free_local_checkpoint(df)
        M._PHASH_TABLES.clear()

    _drain()
    before = persistent_rdd_ids(spark)
    try:
        n_rows = gate(spark, sf_dir).count()
        assert len(M._PHASH_TABLES) == 1
        (key, tables) = next(iter(M._PHASH_TABLES.items()))
        assert key[0] == spark.sparkContext.applicationId and sf_dir in key
        assert len(tables) == 3
        table_ids = {t._jdf.queryExecution().analyzed().rdd().id() for t in tables}
        first_call = persistent_rdd_ids(spark) - before - table_ids
        assert first_call, "the per-call pair tables are checkpointed"
        assert gate(spark, sf_dir).count() == n_rows
        assert next(iter(M._PHASH_TABLES.values())) is tables, "phash rebuilt"
        assert not first_call & persistent_rdd_ids(spark), (
            "the second call must free the first call's checkpoints"
        )
        gate.release()
        assert persistent_rdd_ids(spark) - before == table_ids
        assert all(t.count() > 0 for t in tables)
    finally:
        gate.release()
        _drain()


def test_cross_modal_image_matches_video_frame(spark):
    """VERDICT r08 item 6: image stills, video frames, and audio all hash
    into the same 64-bit dHash space, so media_near_dup_against_index
    accepts ANY pair of phash tables — the logo/watermark-in-video case a
    real pipeline hits. A still whose pixels equal frame 1 of an indexed
    video surfaces at hamming 0 against exactly that frame; a decorrelated
    still stays silent."""
    import numpy as np

    from pyspark.sql import functions as F  # noqa: F401

    from apache_jira_scraper_spark.operators.multimodal import (
        frame_phash,
        image_phash,
        media_near_dup_against_index,
    )

    w, h = 24, 16
    rng = np.random.default_rng(83)
    frames = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(3)]
    y4m = f"YUV4MPEG2 W{w} H{h} F25:1 Cmono\n".encode()
    for f in frames:
        y4m += b"FRAME\n" + f.tobytes()

    def pgm(img):
        return f"P5\n{w} {h}\n255\n".encode() + img.tobytes()

    stills = spark.createDataFrame(
        [
            (100, bytearray(pgm(frames[1]))),  # the watermark/logo still
            (101, bytearray(pgm(rng.integers(0, 256, (h, w), dtype=np.uint8)))),
        ],
        "doc_id long, content binary",
    )
    video = spark.createDataFrame(
        [(7, bytearray(y4m))], "doc_id long, content binary"
    )
    hits = media_near_dup_against_index(
        image_phash(stills), frame_phash(video)
    ).collect()
    assert {
        (r["new_doc"], r["index_doc"], r["index_idx"], r["hamming"])
        for r in hits
    } == {(100, 7, 1, 0)}


def _fold64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _phash_stress_table(spark, mult: int):
    """Controlled synthetic hash corpus for the banded-join volume pin
    (VERDICT r08 item 2): doc i's four 16-bit bands all carry the value i
    (band-distinct across docs by construction, so content-diverse docs
    contribute ZERO accidental band collisions and the measured candidate
    volume isolates the JOIN's scaling), and every 10th doc gets a
    planted near-dup with 3 bits flipped in band 0 (hamming 3 — the
    certified bound's edge). The planted rate is scale-invariant so the
    per-hash candidate rate c is directly comparable across mults.
    Content-independent birthday collisions are pinned separately
    (test_phash_birthday_envelope_matches_prediction)."""
    rows, planted = [], []
    dup_off = 10**9
    n = 3000 * mult
    for i in range(1, n + 1):
        h = _fold64(i | (i << 16) | (i << 32) | (i << 48))
        rows.append((i, 0, h))
        if i % 10 == 0:
            hd = _fold64((i ^ 7) | (i << 16) | (i << 32) | (i << 48))
            rows.append((dup_off + i, 0, hd))
            planted.append((i, dup_off + i))
    return (
        spark.createDataFrame(rows, "doc_id long, frame_idx int, phash long"),
        planted,
    )


def test_phash_candidate_volume_linear_at_10x(spark):
    """VERDICT r08 item 2 — the phash analog of the text family's
    test_candidate_volume_linear_at_10x: per-hash banded-candidate rate
    is pinned scale-invariant (c_10x <= 1.5 * c_1x) on a controlled
    corpus, the candidate join is plan-pinned equi-only (no
    cartesian/BNLJ, no broadcast under threshold -1), and end-to-end
    recall of planted hamming-3 near-dups is EXACTLY 1.0 at the 10x
    scale — banding is deterministic for hamming <= 3 by pigeonhole,
    so unlike the probabilistic MinHash pin (>= 0.9) any missed pair
    is a bug."""
    from apache_jira_scraper_spark.operators.multimodal import (
        _phash_block_rows,
        _phash_verified_pairs,
    )
    from apache_jira_scraper_spark.plans.inspect import (
        operator_counts,
        physical_plan,
    )
    from pyspark.sql import functions as F

    stats = {}
    for mult in (1, 10):
        ph, planted = _phash_stress_table(spark, mult)
        n_hashes = ph.count()
        blocks = _phash_block_rows(ph)
        a, b = blocks.alias("a"), blocks.alias("b")
        cand = a.join(
            b,
            on=[
                F.col("a.block_idx") == F.col("b.block_idx"),
                F.col("a.block") == F.col("b.block"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))

        ops = operator_counts(cand)
        assert "CartesianProduct" not in ops, ops
        assert "BroadcastNestedLoopJoin" not in ops, ops
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = physical_plan(cand, "simple")
            assert "BroadcastExchange" not in plan, plan[:1500]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        n_cand = cand.count()  # RAW join output — the actual cost driver
        stats[mult] = {"hashes": n_hashes, "cand": n_cand, "c": n_cand / n_hashes}

        if mult == 10:
            got = {
                (r["doc_a"], r["doc_b"])
                for r in _phash_verified_pairs(ph, 3).collect()
            }
            missed = [p for p in planted if p not in got]
            assert not missed, f"pigeonhole recall broken: {missed[:5]}"
            stats[mult]["recall"] = 1.0

    c1, c10 = stats[1]["c"], stats[10]["c"]
    assert c10 <= 1.5 * c1, stats
    print(f"PHASH_STRESS_STATS {stats}")


def test_phash_birthday_envelope_matches_prediction(spark):
    """The OTHER term of the phash join's cost model: uniform random
    hashes collide per 16-bit band at the birthday rate, so accidental
    candidates grow ~ 4 * C(n,2) / 2^16 (~n^2/2^15) REGARDLESS of
    content — the envelope EXPLAIN.md states and
    suggested_block_freq_cap exists to bound. Measured volume must track
    the prediction within 2x at 1x and 10x scale, pinning the documented
    constant against the implementation (a silent banding change — say
    8-bit blocks — would blow the envelope by 256x and fail loudly)."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        _phash_block_rows,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    for n in (2000, 20000):
        hashes = rng.integers(-(2**63), 2**63, n, dtype=np.int64)
        ph = spark.createDataFrame(
            [(i, 0, int(h)) for i, h in enumerate(hashes) if h != 0],
            "doc_id long, frame_idx int, phash long",
        )
        blocks = _phash_block_rows(ph)
        n_cand = (
            blocks.alias("a")
            .join(
                blocks.alias("b"),
                on=[
                    F.col("a.block_idx") == F.col("b.block_idx"),
                    F.col("a.block") == F.col("b.block"),
                    F.col("a.doc_id") < F.col("b.doc_id"),
                ],
            )
            .count()
        )
        predicted = 4 * n * (n - 1) / 2 / 65536
        assert 0.5 * predicted <= n_cand <= 2.0 * predicted, (
            n,
            n_cand,
            predicted,
        )
        print(f"BIRTHDAY n={n} cand={n_cand} predicted={predicted:.0f}")


def test_phash_pairs_hamming_cap_and_degenerate_filter(spark):
    """max_hamming > 3 raises (pigeonhole banding would silently miss
    pairs); constant black frames (phash 0) are dropped before the join,
    so two black videos do NOT pair (review r07 hot-key contract)."""
    import numpy as np

    import pytest as _pytest

    from apache_jira_scraper_spark.operators.multimodal import (
        image_near_dup_pairs,
        video_near_dup_pairs,
    )

    black = np.zeros((3, 16, 18), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, _y4m(black), "v"), (2, _y4m(black.copy()), "v")],
        "doc_id long, content binary, media_type string",
    )
    with _pytest.raises(ValueError, match="hamming"):
        video_near_dup_pairs(media, max_hamming=4)
    with _pytest.raises(ValueError, match="hamming"):
        image_near_dup_pairs(media, max_hamming=7)
    assert video_near_dup_pairs(media, max_hamming=3).collect() == []


def test_phash_pairs_emit_once_no_distinct_exchange(spark):
    """VERDICT r07 item 2: a pair agreeing in several blocks joins once
    per agreeing block; the default path dedupes with the per-row
    first-agreeing-block filter instead of a `.distinct()` — identical
    hashes (all four blocks agree) emit EXACTLY one row, and the plan
    carries no aggregate on the candidate subtree."""
    from apache_jira_scraper_spark.operators.multimodal import (
        _phash_verified_pairs,
    )

    h = 0x1234_5678_9ABC_DEF0
    ph = spark.createDataFrame(
        [(1, 0, h), (2, 0, h), (3, 0, h ^ 1)],
        "doc_id long, frame_idx int, phash long",
    )
    rows = _phash_verified_pairs(ph, 3).collect()
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in rows)
    # one row per pair: (1,2) agrees in all 4 blocks, (1,3)/(2,3) in 3
    assert got == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]
    plan = _phash_verified_pairs(ph, 3)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "Deduplicate" not in plan


def test_phash_saturation_cap_keeps_distinct_for_correctness(spark):
    """Why the max_block_freq path keeps `.distinct()`: a pair whose
    FIRST agreeing block is corpus-saturated (dropped by the cap) must
    still surface via a later surviving block — the first-agreeing-block
    filter would discard that row (it cannot know the earlier block was
    capped), losing the pair."""
    from apache_jira_scraper_spark.operators.multimodal import (
        _phash_verified_pairs,
    )

    def s64(v):  # two's-complement into a Spark long
        return v - (1 << 64) if v >= 1 << 63 else v

    sat = 0xBEEF  # block 0 value shared by the flood AND the planted pair
    rng_hi = [0x1111, 0x2222, 0x3333, 0x4444, 0x5555, 0x6666, 0x7777,
              0x8888, 0x9999, 0xAAAA]
    rows = [
        # flood: 10 docs share block 0, differ wildly in blocks 1..3
        (i, 0, s64((hi << 48) | ((hi ^ 0xFFFF) << 32) | ((i * 0x0101) << 16) | sat))
        for i, hi in enumerate(rng_hi, start=1)
    ]
    # planted pair: agree in block 0 (saturated) and block 2 (unique);
    # blocks 1 and 3 differ by one bit each -> hamming 2
    a = (0x0F0F << 48) | (0x00AA << 32) | (0x3C3C << 16) | sat
    rows += [(100, 0, a), (101, 0, a ^ (1 << 16) ^ (1 << 48))]
    ph = spark.createDataFrame(rows, "doc_id long, frame_idx int, phash long")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in _phash_verified_pairs(ph, 3, max_block_freq=8).collect()
    }
    assert (100, 101) in capped  # found via block 2 despite capped block 0
    assert not any(d_a <= 10 and d_b <= 10 for d_a, d_b in capped)


def test_phash_block_saturation_cap(spark):
    """max_block_freq drops corpus-saturated block keys before the join:
    a 12-way identical image floods all four of its blocks past the cap
    and stops pairing, while a distinct near-dup pair (unique content,
    under the cap) still pairs."""
    import numpy as np

    from apache_jira_scraper_spark.operators.multimodal import (
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(47)
    boiler = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    uniq = rng.integers(0, 256, (16, 18), dtype=np.uint8)
    uniq2 = uniq.copy()
    uniq2[0, 0] ^= 1
    rows = [(i, _pgm_p5(boiler), "img") for i in range(1, 13)]
    rows += [(100, _pgm_p5(uniq), "img"), (101, _pgm_p5(uniq2), "img")]
    media = spark.createDataFrame(
        rows, "doc_id long, content binary, media_type string"
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in image_near_dup_pairs(media, max_block_freq=8).collect()
    }
    assert capped == {(100, 101)}  # boilerplate flood dropped, pair kept
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in image_near_dup_pairs(media).collect()
    }
    assert (1, 2) in uncapped and (100, 101) in uncapped


def test_feature_trio_gate_fixture_premises(spark, sf_dir):
    """r10 decode-feature summary legs premise pin (same defense as
    test_phash_gate_fixture_premises): the af_*/vf_*/sc_* gate columns
    certify Spark/DuckDB AGREEMENT only — both sides could drift to
    degenerate constants (zcr 0 everywhere, no scene cuts) and stay
    green. Pins on the actual testdata: the nibble-paired WAV fixture
    decodes through the REAL wav path (rate 8000, n=AFEAT_SAMPLES) with
    nonzero, VARIED zcr on every doc and nonzero silence somewhere; the
    video summaries detect at least one sub-maximal scene count (the
    default threshold 24 genuinely splits) with varied MADs."""
    from apache_jira_scraper_spark.operators.multimodal import (
        AFEAT_SAMPLES,
        afeat_audio_fixture,
        audio_features,
        phash_video_fixture,
        scene_changes,
        video_features,
    )

    af = audio_features(afeat_audio_fixture(spark, sf_dir)).collect()
    assert af, "audio fixture empty"
    assert all(r["sample_rate"] == 8000 for r in af), (
        "a fixture payload missed the REAL wav decode path (rate 0 marks "
        "the deterministic fallback)"
    )
    assert all(r["n_samples"] == AFEAT_SAMPLES for r in af)
    assert all(r["zcr_ppm"] > 0 for r in af), (
        "zcr degenerated to 0 — did the fixture lose its nibble pairing "
        "(raw ASCII PCM bytes are all-negative samples)?"
    )
    assert len({r["zcr_ppm"] for r in af}) > 1, "zcr constant across docs"
    assert any(r["silence_ppm"] > 0 for r in af)
    assert all(r["peak_abs"] > 0 and r["rms_x100"] > 0 for r in af)

    vfx = phash_video_fixture(spark, sf_dir)
    vf = video_features(vfx).collect()
    assert vf, "video fixture empty"
    assert all(r["n_frames"] == 3 and r["width"] == 24 for r in vf)
    assert all(1 <= r["scene_count"] <= 3 for r in vf)
    assert any(r["scene_count"] < 3 for r in vf), (
        "threshold 24 stopped splitting: every frame is a cut, the "
        "scene-count column certifies nothing"
    )
    assert len({r["max_mad"] for r in vf}) > 1, "max_mad constant"

    sc = scene_changes(vfx).collect()
    by_doc = {}
    for r in sc:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {r["doc_id"] for r in vf}
    for did, rows in by_doc.items():
        assert any(r["frame_idx"] == 0 and r["mad"] == 0 for r in rows)
    # scene_changes row counts must agree with video_features' scene_count
    counts = {r["doc_id"]: r["scene_count"] for r in vf}
    assert all(len(rows) == counts[d] for d, rows in by_doc.items())
