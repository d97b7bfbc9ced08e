"""Multimodal binary-column plumbing: schema, batching, determinism."""

import numpy as np
import pytest

from tse_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    df = mm.media_df(spark, 120).repartition(5)
    df.cache().count()
    return df


def test_media_schema(media):
    assert media.schema == mm.MEDIA_SCHEMA
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_features_deterministic(spark, media):
    a = {r["media_id"]: r for r in mm.decode_image_features(media).collect()}
    b = {
        r["media_id"]: r
        for r in mm.decode_image_features(media.repartition(11)).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        assert a[k]["mean_px"] == b[k]["mean_px"]
    # oracle check on one row
    pdf = mm.gen_media(120)
    row = pdf[pdf.kind != "audio"].iloc[0]
    px = mm._fake_pixels(
        bytes(row.payload), row.meta["width"], row.meta["height"]
    )
    got = a[row.media_id]
    assert got["mean_px"] == pytest.approx(float(px.mean()))
    assert got["std_px"] == pytest.approx(float(px.std()))


def test_resize_shape(media):
    out = mm.resize_images(media, 8, 6).collect()
    assert len(out) > 0
    for r in out:
        assert r["width"] == 8 and r["height"] == 6
        assert len(bytes(r["payload"])) == 8 * 6


def test_frame_sampling(media):
    rows = mm.sample_video_frames(media, every_n=4).collect()
    assert rows
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_no"])
    pdf = mm.gen_media(120)
    for mid, frames in by_id.items():
        n = int(pdf.loc[pdf.media_id == mid, "meta"].iloc[0]["n_frames"])
        assert sorted(frames) == list(range(0, n, 4))


def test_audio_features(media):
    rows = mm.audio_features(media, n_bands=8).collect()
    assert rows
    for r in rows:
        assert len(r["bands"]) == 8
        assert r["duration_s"] > 0
    # oracle one row
    pdf = mm.gen_media(120)
    row = pdf[pdf.kind == "audio"].iloc[0]
    a = np.frombuffer(bytes(row.payload), dtype=np.uint8).astype(float) - 128.0
    pad = (-a.size) % 8
    if pad:
        a = np.pad(a, (0, pad))
    want = np.abs(a.reshape(8, -1)).mean(axis=1)
    got = {r["media_id"]: r for r in rows}[row.media_id]
    assert got["bands"] == pytest.approx(list(want))


def test_unknown_backend_is_explicit(media):
    with pytest.raises(NotImplementedError):
        mm.decode_image_features(media, decode_backend="ffmpeg")
    with pytest.raises(NotImplementedError):
        mm.audio_features(media, decode_backend="pillow")
    with pytest.raises(NotImplementedError):
        mm.sample_video_frames(media, decode_backend="ffmpeg")


def test_pillow_backend_gates_eagerly(media):
    """Without pillow installed the gate must raise at operator-build
    time (not inside Spark tasks); with pillow it must build."""
    try:
        import PIL  # noqa: F401

        mm.decode_image_features(media, decode_backend="pillow")
    except ImportError:
        with pytest.raises(NotImplementedError, match="pillow"):
            mm.decode_image_features(media, decode_backend="pillow")


# ---------------------------------------------------------------------------
# real stdlib codecs: PNG + WAV byte decode (VERDICT r02 'Next round' #4)
# ---------------------------------------------------------------------------


def _png_filter_encode(px: np.ndarray, filters: list[int]) -> bytes:
    """Reference PNG scanline encoder for arbitrary per-row filter
    types (the spec definitions, straight-line python) — exercises the
    decoder's Sub/Up/Average/Paeth paths, which encode_png (filter 0
    only) cannot."""
    import struct
    import zlib

    h, w = px.shape[0], px.shape[1]
    ch = 1 if px.ndim == 2 else px.shape[2]
    rows = px.reshape(h, w * ch).astype(int)
    raw = bytearray()
    prev = [0] * (w * ch)
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        cur = list(rows[y])
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                pred = mm._paeth(a, b, c)
            raw.append((rows[y][x] - pred) % 256)
        prev = cur

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ctype = 0 if ch == 1 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_gray_and_rgb():
    rng = np.random.RandomState(7)
    for shape in [(5, 9), (8, 3, 3), (1, 1), (2, 2, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        got = mm.decode_png(mm.encode_png(px))
        assert got.shape == px.shape
        assert np.array_equal(got, px)


def test_png_decoder_handles_all_filters():
    rng = np.random.RandomState(11)
    for shape in [(6, 7), (6, 5, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        data = _png_filter_encode(px, filters=[1, 2, 3, 4, 0])
        got = mm.decode_png(data)
        assert np.array_equal(got, px)


def test_png_decoder_rejects_junk():
    with pytest.raises(ValueError, match="signature"):
        mm.decode_png(b"not a png at all")


def test_wav_roundtrip():
    rng = np.random.RandomState(3)
    samples = (rng.randn(1000) * 3000).astype(np.int64)
    sr, got = mm.decode_wav(mm.encode_wav(samples, 8000))
    assert sr == 8000
    assert np.array_equal(got, np.clip(samples, -32768, 32767))


def test_stdlib_image_features_on_real_png(spark):
    """End-to-end: a media table whose payloads are REAL PNG bytes,
    decoded by the stdlib backend inside mapInPandas — features match
    numpy on the original pixels, dims come from the DECODED image."""
    import pandas as pd

    rng = np.random.RandomState(5)
    rows, want = [], {}
    for i in range(12):
        h, w = 4 + i % 5, 3 + (i * 2) % 7
        px = rng.randint(0, 256, size=(h, w) if i % 2 else (h, w, 3))
        px = px.astype(np.uint8)
        rows.append(
            {
                "media_id": i,
                "kind": "image",
                "mime": "image/png",
                "payload": mm.encode_png(px),
                "meta": {"width": None, "height": None,
                         "sample_rate": None, "n_frames": None},
            }
        )
        a = px.astype(np.float64)
        want[i] = (w, h, a.mean(), a.std())
    media = spark.createDataFrame(pd.DataFrame(rows), schema=mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in mm.decode_image_features(
            media, decode_backend="stdlib"
        ).collect()
    }
    assert set(got) == set(want)
    for i, (w, h, mean, std) in want.items():
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_px"] == pytest.approx(mean)
        assert r["std_px"] == pytest.approx(std)


def test_stdlib_audio_features_on_real_wav(spark):
    import pandas as pd

    rng = np.random.RandomState(9)
    rows, want = [], {}
    for i in range(6):
        n = 800 + 160 * i
        sr = 8000 + 400 * i
        samples = (rng.randn(n) * 2000).astype(np.int64)
        rows.append(
            {
                "media_id": i,
                "kind": "audio",
                "mime": "audio/wav",
                "payload": mm.encode_wav(samples, sr),
                "meta": {"width": None, "height": None,
                         "sample_rate": None, "n_frames": None},
            }
        )
        a = np.clip(samples, -32768, 32767).astype(np.float64)
        pad = (-a.size) % 8
        if pad:
            a = np.pad(a, (0, pad))
        want[i] = (sr, n / sr, np.abs(a.reshape(8, -1)).mean(axis=1))
    media = spark.createDataFrame(pd.DataFrame(rows), schema=mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in mm.audio_features(
            media, n_bands=8, decode_backend="stdlib"
        ).collect()
    }
    for i, (sr, dur, bands) in want.items():
        r = got[i]
        assert r["sample_rate"] == sr
        assert r["duration_s"] == pytest.approx(dur)
        assert r["bands"] == pytest.approx(list(bands))


def test_stdlib_resize_emits_real_png(spark):
    import pandas as pd

    px = np.arange(14 * 10, dtype=np.uint8).reshape(14, 10)
    media = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "media_id": 0,
                    "kind": "image",
                    "mime": "image/png",
                    "payload": mm.encode_png(px),
                    "meta": {"width": None, "height": None,
                             "sample_rate": None, "n_frames": None},
                }
            ]
        ),
        schema=mm.MEDIA_SCHEMA,
    )
    out = mm.resize_images(media, 5, 7, decode_backend="stdlib").collect()
    assert len(out) == 1
    small = mm.decode_png(bytes(out[0]["payload"]))
    assert small.shape == (7, 5)
    yi = (np.arange(7) * 14 // 7).astype(int)
    xi = (np.arange(5) * 10 // 5).astype(int)
    assert np.array_equal(small, px[np.ix_(yi, xi)])


# real stdlib GIF codec (LZW both directions; SURVEY round-4 item 1)

def test_gif_roundtrip_gray_and_rgb():
    rng = np.random.RandomState(7)
    for shape in [(5, 9), (1, 1), (16, 11)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        got = mm.decode_gif(mm.encode_gif(px))
        assert got.shape == px.shape and np.array_equal(got, px)
    # RGB with a small palette (and a KwKwK-heavy repeating pattern)
    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 8, 7]], np.uint8
    )
    idx = np.tile(np.array([[0, 0, 1, 1, 2], [3, 0, 0, 1, 2]]), (4, 3))
    px = pal[idx]
    got = mm.decode_gif(mm.encode_gif(px))
    assert got.shape == px.shape and np.array_equal(got, px)


def test_gif_roundtrip_fills_12bit_table():
    # 90k random gray pixels generate > 4096 LZW patterns, forcing the
    # width ladder to 12 bits, a table-full CLEAR reset, and re-growth
    # (compress=True: the dict-walk encoder is the one that grows the
    # table; the literal path never leaves 9-bit codes)
    rng = np.random.RandomState(13)
    px = rng.randint(0, 256, size=(300, 300)).astype(np.uint8)
    data = mm.encode_gif(px, compress=True)
    assert np.array_equal(mm.decode_gif(data), px)


def test_gif_kwkwk_case():
    # 'aaaa...' is the classic code-not-yet-in-table sequence
    px = np.zeros((1, 40), dtype=np.uint8)
    assert np.array_equal(
        mm.decode_gif(mm.encode_gif(px, compress=True)), px
    )


def test_gif_literal_encoder_matches_compressing_encoder():
    """The vectorized literal-LZW path and the dict-walk compressing
    default must decode to identical pixels — and the literal stream must
    hold the decoder at 9-bit codes across CLEAR boundaries (253-pixel
    period), which the >253-pixel shapes exercise."""
    rng = np.random.RandomState(23)
    for shape in [(1, 1), (9, 253), (9, 254), (40, 40), (3, 1000)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        lit = mm.encode_gif(px, compress=False)
        cmp_ = mm.encode_gif(px, compress=True)
        assert np.array_equal(mm.decode_gif(lit), px), shape
        assert np.array_equal(mm.decode_gif(cmp_), px), shape
    # RGB through the padded-to-256 palette header
    pal = np.array([[255, 0, 0], [0, 255, 0], [7, 8, 9]], np.uint8)
    px = pal[np.tile(np.array([[0, 1, 2, 1]]), (20, 17))]
    assert np.array_equal(
        mm.decode_gif(mm.encode_gif(px, compress=False)), px
    )


def test_gif_rejects_junk_and_overflow():
    with pytest.raises(ValueError, match="signature"):
        mm.decode_gif(b"not a gif")
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(20, 20, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="palette overflow"):
        mm.encode_gif(px)  # ~400 distinct colors


def test_stdlib_backend_sniffs_png_and_gif(spark):
    """decode_image_features with one backend over a MIXED media table
    (PNG rows and GIF rows): the stdlib decoder dispatches on the byte
    signature, dims come from the decoded image either way."""
    import pandas as pd

    rng = np.random.RandomState(21)
    rows = []
    for mid in range(6):
        h, w = int(rng.randint(2, 9)), int(rng.randint(2, 9))
        px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        blob = mm.encode_png(px) if mid % 2 else mm.encode_gif(px)
        rows.append(
            {
                "media_id": mid,
                "kind": "image",
                "payload": blob,
                "meta": {"width": None, "height": None},
                "_px": px,
            }
        )
    media = spark.createDataFrame(
        pd.DataFrame([{k: v for k, v in r.items() if k != "_px"} for r in rows]),
        "media_id long, kind string, payload binary, "
        "meta struct<width: int, height: int>",
    )
    got = {
        r["media_id"]: r
        for r in mm.decode_image_features(
            media, decode_backend="stdlib"
        ).collect()
    }
    for r in rows:
        px = r["_px"]
        g = got[r["media_id"]]
        assert (g["height"], g["width"]) == px.shape
        assert abs(g["mean_px"] - px.mean()) < 1e-9
        assert abs(g["std_px"] - px.std()) < 1e-9
