"""Multimodal-column plumbing tests: schema, Arrow batch flow, deterministic
fake features, the stubbed real-decoder gate, and frame sampling."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hbsir_old_spark.functions.multimodal import (  # noqa: E402
    FEATURE_DIM,
    extract_features,
    frame_sample,
    synthetic_assets,
)


@pytest.fixture(scope="module")
def assets(spark):
    return synthetic_assets(spark, n=48)


def test_extract_features_schema_and_determinism(spark, assets):
    feats = extract_features(assets, use_fake_decoder=True)
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert len(rows) == 48
    for r in rows.values():
        assert len(r["features"]) == FEATURE_DIM
        assert len(r["content_sha"]) == 64
        assert r["n_bytes"] > 0
    # deterministic: run twice, same shas and features
    again = {r["asset_id"]: r for r in extract_features(assets, True).collect()}
    assert all(rows[k]["content_sha"] == again[k]["content_sha"] for k in rows)
    assert all(rows[k]["features"] == again[k]["features"] for k in rows)


def test_features_unit_norm(assets):
    feats = extract_features(assets, use_fake_decoder=True)
    norms = feats.select(
        F.sqrt(F.aggregate("features", F.lit(0.0), lambda a, v: a + v * v)).alias("n")
    )
    for r in norms.collect():
        assert abs(r["n"] - 1.0) < 1e-5


def test_real_decoder_is_stubbed(assets):
    feats = extract_features(assets, use_fake_decoder=False)
    with pytest.raises(Exception) as err:
        feats.collect()
    assert "NotImplementedError" in str(err.value) or "codecs" in str(err.value)


def test_frame_sampling_schedule(assets):
    frames = frame_sample(assets, every_n=10)
    pdf = frames.toPandas()
    assert (pdf.groupby("asset_id").frame_no.min() == 0).all()
    assert set(pdf.frame_no % 10) == {0}


# -- real decode path (optional-Pillow guard + built-in minimal PNG) ---------


def _png_encode(pixels, row_filters=None):
    """Pure-stdlib PNG writer for the tests: 8-bit non-interlaced, applies
    the requested per-row filter type (0..4) so every unfilter branch of
    the minimal decoder is exercised."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, c = arr.shape
    colortype = {1: 0, 3: 2, 4: 6}[c]

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    filters = row_filters if row_filters is not None else [0] * h
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y, f in enumerate(filters):
        line = flat[y]
        out = line.copy()
        if f == 1:  # Sub
            out[c:] = (line[c:] - line[:-c]) % 256
        elif f == 2:  # Up
            out = (line - prev) % 256
        elif f == 3:  # Average
            for i in range(stride):
                a = int(line[i - c]) if i >= c else 0
                out[i] = (int(line[i]) - ((a + int(prev[i])) >> 1)) % 256
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - c]) if i >= c else 0
                b = int(prev[i])
                cc = int(prev[i - c]) if i >= c else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out[i] = (int(line[i]) - pr) % 256
        raw.append(f)
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _gradient(h, w, c):
    import numpy as np

    return (
        np.arange(h * w * c, dtype=np.int64).reshape(h, w, c) * 37 % 256
    ).astype(np.uint8)


def test_minimal_png_decoder_roundtrips_every_filter():
    import numpy as np

    from hbsir_old_spark.functions.multimodal import _decode_png_minimal

    pixels = _gradient(5, 4, 3)
    png = _png_encode(pixels, row_filters=[0, 1, 2, 3, 4])
    assert np.array_equal(_decode_png_minimal(png), pixels)
    # greyscale and RGBA shapes too
    grey = _gradient(3, 6, 1)
    assert np.array_equal(_decode_png_minimal(_png_encode(grey, [0, 1, 4])), grey)
    rgba = _gradient(2, 2, 4)
    assert np.array_equal(_decode_png_minimal(_png_encode(rgba)), rgba)


def test_real_decode_png_through_extract_features(spark):
    # the REAL decode path end-to-end through mapInPandas: PNG bytes in,
    # true (width, height, channels) out in the `decoded` struct — no
    # Pillow in this container, so this proves the built-in fallback
    import numpy as np

    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA

    png = _png_encode(_gradient(5, 4, 3))
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png), None)], schema=ASSET_SCHEMA
    )
    row = extract_features(assets, use_fake_decoder=False).collect()[0]
    assert row["decoded"]["width"] == 4
    assert row["decoded"]["height"] == 5
    assert row["decoded"]["channels"] == 3
    assert row["n_bytes"] == len(png)
    # the fake path leaves decoded NULL (no codec touched)
    fake = extract_features(assets, use_fake_decoder=True).collect()[0]
    assert fake["decoded"] is None


def test_non_png_image_bytes_still_hit_the_guard(spark):
    # without Pillow, non-PNG image bytes must fail loudly through the
    # documented NotImplementedError seam (never silently fake-decode)
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA

    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"GIF89a not a png"), None)], schema=ASSET_SCHEMA
    )
    with pytest.raises(Exception) as err:
        extract_features(assets, use_fake_decoder=False).collect()
    assert "codec" in str(err.value) or "NotImplementedError" in str(err.value)


def test_non_wav_audio_bytes_still_hit_the_guard(spark):
    # without soundfile, non-WAV audio bytes must fail loudly through the
    # documented NotImplementedError seam (never silently fake-decode);
    # b"RIFFfake" has the RIFF magic but no WAVE tag, so it exercises the
    # full two-part container check
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA

    assets = spark.createDataFrame(
        [(1, "audio", bytearray(b"RIFFfake"), None)], schema=ASSET_SCHEMA
    )
    with pytest.raises(Exception) as err:
        extract_features(assets, use_fake_decoder=False).collect()
    assert "codec" in str(err.value) or "NotImplementedError" in str(err.value)


# -- real audio decode path (optional-soundfile guard + stdlib WAV) ----------


def _wav_all_widths(width, frames, channels, rate=8000):
    """Raw PCM WAV at an arbitrary sample width via the stdlib writer."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def test_stdlib_wav_decoder_all_sample_widths():
    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        _decode_wav_stdlib,
        build_wav,
    )

    # 16-bit via the package's own builder (stereo): integer-exact roundtrip
    samples = np.array([[-32768, 32767], [100, -100], [0, 7]], dtype=np.int16)
    wav = build_wav(samples, sample_rate=16000, channels=2)
    out, sr = _decode_wav_stdlib(wav)
    assert sr == 16000 and out.shape == (3, 2)
    assert np.array_equal(out, samples.astype(np.int32))

    # 8-bit: stored unsigned, decoded recentred to signed
    out8, _ = _decode_wav_stdlib(
        _wav_all_widths(1, bytes([0, 128, 255, 1]), channels=1)
    )
    assert out8.ravel().tolist() == [-128, 0, 127, -127]

    # 24-bit: little-endian two's complement, sign-extended
    frames24 = (
        (0x000001).to_bytes(3, "little")
        + (0xFFFFFF).to_bytes(3, "little")  # -1
        + (0x800000).to_bytes(3, "little")  # -2^23
        + (0x7FFFFF).to_bytes(3, "little")  # 2^23-1
    )
    out24, _ = _decode_wav_stdlib(_wav_all_widths(3, frames24, channels=2))
    assert out24.ravel().tolist() == [1, -1, -(1 << 23), (1 << 23) - 1]

    # 32-bit
    import struct

    frames32 = struct.pack("<4i", 2**31 - 1, -(2**31), 42, -42)
    out32, _ = _decode_wav_stdlib(_wav_all_widths(4, frames32, channels=1))
    assert out32.ravel().tolist() == [2**31 - 1, -(2**31), 42, -42]


def test_real_decode_wav_through_extract_features(spark):
    # the REAL audio path end-to-end through mapInPandas: WAV bytes in,
    # true (channels, sample_rate, n_frames) out — no soundfile in this
    # container, so this proves the stdlib fallback (the PNG twin above)
    import numpy as np

    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_wav

    wav = build_wav(
        np.arange(-10, 14, dtype=np.int16).reshape(12, 2),
        sample_rate=22050,
        channels=2,
    )
    assets = spark.createDataFrame(
        [(1, "audio", bytearray(wav), None)], schema=ASSET_SCHEMA
    )
    row = extract_features(assets, use_fake_decoder=False).collect()[0]
    assert row["decoded"]["channels"] == 2
    assert row["decoded"]["sample_rate"] == 22050
    assert row["decoded"]["n_frames"] == 12
    assert row["decoded"]["width"] is None and row["decoded"]["height"] is None


def test_audio_stats_integer_exact(spark):
    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        ASSET_SCHEMA,
        audio_stats,
        build_wav,
    )

    rows = []
    expected = {}
    for aid in (1, 2, 3):
        n = 5 + aid
        ch = 1 + aid % 2
        vals = (
            (np.arange(n * ch, dtype=np.int64) * 7919 + aid * 104729) % 65536
        ) - 32768
        rows.append(
            (
                aid,
                "audio",
                bytearray(build_wav(vals.astype(np.int16), 8000, channels=ch)),
                None,
            )
        )
        expected[aid] = (int(vals.sum()), int(np.abs(vals).max()), n, ch)
    # a non-audio row must be ignored, not decoded
    rows.append((99, "image", bytearray(b"not audio"), None))
    assets = spark.createDataFrame(rows, schema=ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in audio_stats(assets).collect()}
    assert set(got) == {1, 2, 3}
    for aid, (s, m, n, ch) in expected.items():
        r = got[aid]
        assert (r["sample_sum"], r["sample_abs_max"]) == (s, m)
        assert (r["n_frames"], r["channels"], r["sample_rate"]) == (n, ch, 8000)


def test_wide_mode_scaling_never_clips():
    # review-pass regression: convert('RGB') on 16-bit/float modes CLIPS
    # at 255 (a 16-bit scan would decode near-uniform white); the scaler
    # must map the full range instead
    import numpy as np

    from hbsir_old_spark.functions.multimodal import _scale_wide_to_uint8

    sixteen = np.array([[0, 257, 65535]], dtype=np.uint16)
    out = _scale_wide_to_uint8(sixteen, "I;16")
    assert out.tolist() == [[0, 1, 255]]
    # int32 / float: min-max normalized, not clipped
    wide = np.array([[300.0, 30000.0, 65535.0]])
    out = _scale_wide_to_uint8(wide, "F")
    assert out[0][0] == 0 and out[0][2] == 255 and 0 < out[0][1] < 255
    # degenerate constant image -> zeros, no division blow-up
    const = np.full((2, 2), 4242, dtype=np.int32)
    assert _scale_wide_to_uint8(const, "I").max() == 0


# -- image resize (the remaining multimodal-brief op: decode/extract/
# RESIZE/frame-sample) --------------------------------------------------------


def test_resize_nearest_semantics():
    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    src = _gradient(4, 6, 3)
    # integer 2x upscale under center sampling == np.repeat on both axes
    up = _resize_array(src, 8, 12, method="nearest")
    assert np.array_equal(up, src.repeat(2, axis=0).repeat(2, axis=1))
    # pure-python cross-check on an odd downscale
    out = _resize_array(src, 3, 5, method="nearest")
    for i in range(3):
        for j in range(5):
            yi = min(int((i + 0.5) * 4 / 3), 3)
            xi = min(int((j + 0.5) * 6 / 5), 5)
            assert (out[i, j] == src[yi, xi]).all()


def test_resize_bilinear_semantics():
    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    # constant image stays exactly constant at any size
    const = np.full((5, 7, 3), 119, dtype=np.uint8)
    assert (_resize_array(const, 9, 4) == 119).all()
    # identity size is a no-op (half-pixel centers align exactly)
    src = _gradient(6, 5, 1)
    assert np.array_equal(_resize_array(src, 6, 5), src)
    # 2x upscale of a horizontal linear ramp stays a monotone ramp per row
    ramp = (np.arange(8, dtype=np.uint8) * 30).reshape(1, 8, 1).repeat(4, axis=0)
    up = _resize_array(ramp, 4, 16)
    row = up[0, :, 0].astype(int)
    assert all(b >= a for a, b in zip(row, row[1:]))
    assert row[0] == 0 and row[-1] == 210
    # edge clamping: corners of the output equal corners of the input
    src2 = _gradient(5, 4, 3)
    out = _resize_array(src2, 10, 8)
    assert (out[0, 0] == src2[0, 0]).all() and (out[-1, -1] == src2[-1, -1]).all()


def test_resize_rejects_bad_args():
    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    src = _gradient(3, 3, 1)
    with pytest.raises(ValueError):
        _resize_array(src, 0, 3)
    with pytest.raises(ValueError):
        _resize_array(src, 3, 3, method="lanczos")
    with pytest.raises(ValueError):
        _resize_array(np.zeros((3, 3), dtype=np.uint8), 2, 2)


def test_resize_images_end_to_end(spark):
    # PNG bytes -> real decode -> vectorized resize, through mapInPandas;
    # pixel buffer and integer sum must match the local computation
    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        ASSET_SCHEMA,
        _resize_array,
        resize_images,
    )

    pix = _gradient(9, 7, 3)
    png = _png_encode(pix)
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(png), None),
            (2, "audio", bytearray(b"RIFFxxxxWAVE"), None),  # ignored
        ],
        schema=ASSET_SCHEMA,
    )
    rows = resize_images(assets, width=4, height=5, method="nearest").collect()
    assert [r["asset_id"] for r in rows] == [1]
    r = rows[0]
    exp = _resize_array(pix, 5, 4, method="nearest")
    assert (r["height"], r["width"], r["channels"]) == (5, 4, 3)
    assert bytes(r["pixels"]) == exp.tobytes()
    assert r["pixel_sum"] == int(exp.sum(dtype=np.int64))


def test_wav_bytes_never_reach_soundfile(monkeypatch):
    # results must not depend on the environment: soundfile's int16 read
    # RESCALES 8/24/32-bit PCM, so RIFF/WAVE bytes must take the stdlib
    # decoder even when soundfile IS installed (review-pass finding).
    # Plant a booby-trapped soundfile module and decode a real WAV.
    import sys
    import types

    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        _real_decode_audio,
        build_wav,
    )

    trapped = types.ModuleType("soundfile")

    def _boom(*a, **k):
        raise AssertionError("WAV bytes must not be routed to soundfile")

    trapped.read = _boom
    monkeypatch.setitem(sys.modules, "soundfile", trapped)
    wav = build_wav(np.array([1, -2, 3], dtype=np.int16), 8000)
    out, sr = _real_decode_audio(wav)
    assert sr == 8000 and out.ravel().tolist() == [1, -2, 3]


def test_build_wav_rejects_channel_mismatch():
    import numpy as np
    import pytest as _pytest

    from hbsir_old_spark.functions.multimodal import build_wav

    with _pytest.raises(ValueError, match="channels"):
        build_wav(np.zeros((10, 2), dtype=np.int16), 8000)  # forgot channels=2
    # explicit agreement still fine, 1-D interleaved unaffected
    build_wav(np.zeros((10, 2), dtype=np.int16), 8000, channels=2)
    build_wav(np.zeros(20, dtype=np.int16), 8000, channels=2)
    # ragged 1-D interleaved buffer: a truncated final frame would only
    # surface as an opaque reshape error inside the decoder — reject at
    # the encode boundary instead
    with _pytest.raises(ValueError, match="whole number of frames"):
        build_wav(np.zeros(21, dtype=np.int16), 8000, channels=2)


def test_build_png_roundtrips_through_real_decoder():
    import numpy as np
    import pytest as _pytest

    from hbsir_old_spark.functions.multimodal import (
        _decode_png_minimal,
        build_png,
    )

    for c in (1, 3, 4):
        pix = _gradient(6, 5, c)
        assert np.array_equal(_decode_png_minimal(build_png(pix)), pix)
    with _pytest.raises(ValueError):
        build_png(np.zeros((4, 4, 2), dtype=np.uint8))  # 2-channel: no PNG type
    with _pytest.raises(ValueError):
        build_png(np.zeros((4, 4), dtype=np.uint8))


@pytest.mark.parametrize("gate", ["x48", "x48b", "x49", "x50"])
def test_resize_gates_match_duckdb_oracle(spark, sf_dir, gate):
    """Direct proof of the image-resize family gates — x48 (nearest),
    x48b (bilinear, exact-rational round-half-even), x49 (thumbnail-
    fingerprint dedup) staged in r12 and the x50 mixed image+audio
    capstone added in r13, all driver-registered in the r13 window. The
    Spark pipelines and the DuckDB arithmetic must agree exactly —
    dtypes, row count, and every value."""
    import duckdb

    import __spark_entry__ as entry_mod

    q, sql = {
        "x48": (entry_mod.q_resize_stats, entry_mod.SQL_RESIZE_STATS),
        "x48b": (
            entry_mod.q_resize_bilinear_stats,
            entry_mod.SQL_RESIZE_BILINEAR_STATS,
        ),
        "x49": (entry_mod.q_image_dedup, entry_mod.SQL_IMAGE_DEDUP),
        "x50": (
            entry_mod.q_multimodal_capstone,
            entry_mod.SQL_MULTIMODAL_CAPSTONE,
        ),
    }[gate]
    spark_df = q(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    duck_df = con.sql(sql).df()
    for col in spark_df.columns:
        assert str(spark_df[col].dtype) == str(duck_df[col].dtype), col
    key = {"x49": ["rep_id"], "x50": ["kind", "group_key"]}.get(
        gate, ["asset_id"]
    )
    left = spark_df.sort_values(key).reset_index(drop=True)
    right = duck_df.sort_values(key).reset_index(drop=True)
    assert len(left) == len(right) > 0
    for col in left.columns:
        assert left[col].tolist() == right[col].tolist(), col


def _bilinear_reference_fraction(arr, out_h, out_w):
    """True rational half-pixel bilinear with round-half-to-even, one
    fractions.Fraction pixel at a time — the independent reference the
    vectorized int64 path is pinned against."""
    from fractions import Fraction

    import numpy as np

    h, w, c = arr.shape
    out = np.zeros((out_h, out_w, c), dtype=np.uint8)
    for i in range(out_h):
        ys = Fraction(2 * i + 1, 2) * Fraction(h, out_h) - Fraction(1, 2)
        y0 = min(max(ys.__floor__(), 0), h - 1)
        y1 = min(y0 + 1, h - 1)
        wy = min(max(ys - y0, Fraction(0)), Fraction(1))
        for j in range(out_w):
            xs = Fraction(2 * j + 1, 2) * Fraction(w, out_w) - Fraction(1, 2)
            x0 = min(max(xs.__floor__(), 0), w - 1)
            x1 = min(x0 + 1, w - 1)
            wx = min(max(xs - x0, Fraction(0)), Fraction(1))
            for k in range(c):
                v = (
                    int(arr[y0, x0, k]) * (1 - wy) * (1 - wx)
                    + int(arr[y0, x1, k]) * (1 - wy) * wx
                    + int(arr[y1, x0, k]) * wy * (1 - wx)
                    + int(arr[y1, x1, k]) * wy * wx
                )
                q, rem = divmod(v.numerator, v.denominator)
                half = Fraction(rem, v.denominator)
                if half > Fraction(1, 2) or (
                    half == Fraction(1, 2) and q % 2 == 1
                ):
                    q += 1
                out[i, j, k] = q
    return out


def test_resize_bilinear_matches_exact_rational_reference():
    """Independent recompute of the bilinear resample with
    fractions.Fraction: the vectorized int64 path must equal true
    rational half-pixel sampling with round-half-to-even at EVERY pixel
    — including the exact-tie pixels where a float64 evaluation provably
    diverges (the reason the operator is integer-exact)."""
    from fractions import Fraction

    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    reference = _bilinear_reference_fraction

    rng = np.random.default_rng(42)
    for h, w, c, oh, ow in [(5, 4, 3, 7, 9), (6, 8, 1, 4, 16), (3, 3, 4, 10, 2)]:
        arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        assert np.array_equal(_resize_array(arr, oh, ow), reference(arr, oh, ow))
    # the gate generator corpus: every doc, every pixel (668 exact ties
    # live here) — the SAME formula the gates run, via the shared helper
    from __spark_entry__ import gate_image_pixels

    for did in range(100):
        arr = gate_image_pixels(did)
        assert np.array_equal(_resize_array(arr, 7, 9), reference(arr, 7, 9))


def test_resize_bilinear_property_random_shapes():
    """Property pin: for ARBITRARY small shapes, target sizes, and pixel
    contents, the vectorized int64 bilinear equals the Fraction
    reference exactly (hypothesis explores the clamp/tie edges the fixed
    cases can't enumerate — extreme up/downscales, 1-pixel axes)."""
    from hypothesis import given, settings, strategies as st

    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(1, 7),
        w=st.integers(1, 7),
        c=st.sampled_from([1, 3, 4]),
        oh=st.integers(1, 11),
        ow=st.integers(1, 11),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, c, oh, ow, seed):
        arr = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, c), dtype=np.uint8
        )
        assert np.array_equal(
            _resize_array(arr, oh, ow),
            _bilinear_reference_fraction(arr, oh, ow),
        )

    check()


def test_build_png_roundtrip_property_random_images():
    """Property pin for the codec boundary: arbitrary small shapes and
    pixel contents survive build_png -> _decode_png_minimal bit-exactly
    (1-pixel axes, all channel counts, random bytes — beyond what the
    fixed gradient fixtures cover)."""
    from hypothesis import given, settings, strategies as st

    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        _decode_png_minimal,
        build_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 9),
        w=st.integers(1, 9),
        c=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, c, seed):
        arr = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, c), dtype=np.uint8
        )
        assert np.array_equal(_decode_png_minimal(build_png(arr)), arr)

    check()


def test_build_wav_roundtrip_property_random_samples():
    """Property pin for the audio codec boundary (the WAV sibling of the
    PNG roundtrip property): arbitrary frame counts, channel counts,
    rates, and sample values survive build_wav -> _decode_wav_stdlib
    bit-exactly, through BOTH accepted input forms (interleaved 1-D and
    (frames, channels) 2-D)."""
    from hypothesis import given, settings, strategies as st

    import numpy as np

    from hbsir_old_spark.functions.multimodal import (
        _decode_wav_stdlib,
        build_wav,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        frames=st.integers(1, 64),
        ch=st.integers(1, 4),
        sr=st.sampled_from([8000, 16000, 44100]),
        two_d=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(frames, ch, sr, two_d, seed):
        vals = np.random.default_rng(seed).integers(
            -32768, 32768, size=(frames, ch), dtype=np.int16
        )
        wav = build_wav(
            vals if two_d else vals.reshape(-1), sr, channels=ch
        )
        samples, rate = _decode_wav_stdlib(wav)
        assert rate == sr
        assert np.array_equal(samples, vals.astype(np.int32))

    check()


def test_resize_nearest_property_random_shapes():
    """Property pin for the nearest resample (the bilinear sibling above):
    for arbitrary small shapes and target sizes, the vectorized int64
    index arithmetic equals a per-pixel Fraction center-sampling
    reference — floor((2i+1)*h / (2*out_h)) clamped to the source range —
    including 1-pixel axes and extreme up/downscales."""
    from fractions import Fraction

    from hypothesis import given, settings, strategies as st

    import numpy as np

    from hbsir_old_spark.functions.multimodal import _resize_array

    def reference(arr, oh, ow):
        h, w, c = arr.shape
        out = np.zeros((oh, ow, c), dtype=np.uint8)
        for i in range(oh):
            y = min(max((Fraction(2 * i + 1, 2) * Fraction(h, oh)
                         ).__floor__(), 0), h - 1)
            for j in range(ow):
                x = min(max((Fraction(2 * j + 1, 2) * Fraction(w, ow)
                             ).__floor__(), 0), w - 1)
                out[i, j] = arr[y, x]
        return out

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(1, 7),
        w=st.integers(1, 7),
        c=st.sampled_from([1, 3, 4]),
        oh=st.integers(1, 11),
        ow=st.integers(1, 11),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, c, oh, ow, seed):
        arr = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, c), dtype=np.uint8
        )
        assert np.array_equal(
            _resize_array(arr, oh, ow, "nearest"), reference(arr, oh, ow)
        )

    check()


# ---------------------------------------------------------------------------
# Perceptual near-dup image hashing (x51 family)
# ---------------------------------------------------------------------------


def _grad_image(k, h=16, w=18, c=3, shift=0, spots=()):
    """Deterministic gradient test image: base formula bounded <160 so a
    brightness shift or spot perturbation cannot wrap uint8."""
    y, x, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(c), indexing="ij")
    pix = (k * 37 + y * 11 + x * 5 + ch * 3) % 160 + shift
    for (sy, sx, delta) in spots:
        pix = pix + np.where((y == sy) & (x == sx), delta, 0)
    return pix.astype(np.uint8)


def _pure_python_dhash(arr, hash_h=8, hash_w=8, n_bands=4):
    """Reference dHash: independent scalar-loop implementation (no numpy
    vector tricks) of the documented bit layout."""
    from hbsir_old_spark.functions.multimodal import _resize_array

    resized = _resize_array(arr, hash_h, hash_w + 1, "nearest")
    gray = [
        [int(resized[y, x, :].astype(np.int64).sum()) for x in range(hash_w + 1)]
        for y in range(hash_h)
    ]
    band_bits = hash_h * hash_w // n_bands
    bands = [0] * n_bands
    for y in range(hash_h):
        for x in range(hash_w):
            if gray[y][x + 1] > gray[y][x]:
                b = y * hash_w + x
                bands[b // band_bits] |= 1 << (b % band_bits)
    return bands


def _asset_rows(images):
    from hbsir_old_spark.functions.multimodal import build_png

    return [
        (i, "image", bytearray(build_png(arr)), None)
        for i, arr in enumerate(images)
    ]


def test_image_dhash_matches_pure_python(spark):
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, image_dhash

    images = [_grad_image(k, c=1 + (k % 2) * 2) for k in range(6)]
    assets = spark.createDataFrame(_asset_rows(images), schema=ASSET_SCHEMA)
    got = {
        r["asset_id"]: list(r["bands"])
        for r in image_dhash(assets).collect()
    }
    for i, arr in enumerate(images):
        assert got[i] == _pure_python_dhash(arr), f"asset {i}"


def test_image_dhash_brightness_invariant(spark):
    """A global brightness shift moves every thumbnail byte but no
    gradient sign — the transform the perceptual hash exists to survive
    (and which breaks the x49 sha2 fingerprint by construction)."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, image_dhash

    images = [_grad_image(7), _grad_image(7, shift=40)]
    assets = spark.createDataFrame(_asset_rows(images), schema=ASSET_SCHEMA)
    bands = [list(r["bands"]) for r in image_dhash(assets).orderBy("asset_id").collect()]
    assert bands[0] == bands[1]


def test_image_near_dup_pairs_verify_and_reject(spark):
    from hbsir_old_spark.functions.multimodal import (
        ASSET_SCHEMA,
        image_dhash,
        image_near_dup_pairs,
    )

    images = [
        _grad_image(5),                                   # 0: base
        _grad_image(5, shift=16),                         # 1: exact hash dup
        _grad_image(5, spots=[(3, 1, 60)]),               # 2: ~1 bit away
        _grad_image(9),                                   # 3: different structure
    ]
    assets = spark.createDataFrame(_asset_rows(images), schema=ASSET_SCHEMA)
    hashes = image_dhash(assets)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(hashes, max_hamming=6, hot_bucket_cap=None).collect()
    }
    assert pairs[(0, 1)] == 0
    assert 1 <= pairs[(0, 2)] <= 6
    assert not any(3 in p for p in pairs), "distinct class must verify away"


def test_image_near_dedup_clusters_includes_singletons(spark):
    from hbsir_old_spark.functions.multimodal import (
        ASSET_SCHEMA,
        image_near_dedup_clusters,
    )

    images = [
        _grad_image(5),
        _grad_image(5, shift=8),
        _grad_image(5, spots=[(3, 1, 60)]),
        _grad_image(9),
        _grad_image(11, c=1),
    ]
    assets = spark.createDataFrame(_asset_rows(images), schema=ASSET_SCHEMA)
    got = {
        r["rep_id"]: r["cluster_size"]
        for r in image_near_dedup_clusters(assets, hot_bucket_cap=None).collect()
    }
    assert got == {0: 3, 3: 1, 4: 1}


def test_image_near_dup_hot_bucket_cap_bounds_candidates(spark):
    """A constant-background corpus puts every image in the same band
    buckets; the hot-bucket star must bound the self-join instead of
    letting it go quadratic, and must keep the cluster whole."""
    from hbsir_old_spark.functions.multimodal import (
        ASSET_SCHEMA,
        image_dhash,
        image_near_dup_pairs,
        near_dedup_clusters_from_bands,
    )

    n = 40
    images = [_grad_image(3, shift=i % 4) for i in range(n)]
    assets = spark.createDataFrame(_asset_rows(images), schema=ASSET_SCHEMA)
    hashes = image_dhash(assets).localCheckpoint(eager=True)
    capped = image_near_dup_pairs(
        hashes, max_hamming=6, hot_bucket_cap=8, hot_bucket_anchors=4
    )
    rows = capped.collect()
    # every surviving pair involves an anchor (smallest ids) — the star
    # shape — so pair count is O(anchors * n), not n^2
    assert 0 < len(rows) <= 4 * 4 * n
    assert all(r["id_a"] < 16 for r in rows), "left ends must be anchor ids"
    # and min-id reachability survives capping: id 0 pairs with others
    assert any(r["id_a"] == 0 for r in rows)
    # every member keeps a star edge to an anchor, so capping does not
    # split the cluster (truncating hot buckets to their anchors would
    # leave one cluster of 4 and 36 singletons)
    assert {r["id_a"] for r in rows} | {r["id_b"] for r in rows} == set(range(n))
    clusters = near_dedup_clusters_from_bands(
        hashes, max_hamming=6, hot_bucket_cap=8, hot_bucket_anchors=4
    )
    assert {r["rep_id"]: r["cluster_size"] for r in clusters.collect()} == {0: n}


def test_image_dhash_rejects_bad_band_split():
    from hbsir_old_spark.functions.multimodal import image_dhash

    with pytest.raises(ValueError):
        image_dhash(None, hash_h=8, hash_w=8, n_bands=5)


def test_x51_planted_geometry(spark, sf_dir):
    """Pin the x51 gate corpus' planted structure with an INDEPENDENT
    scalar-python recomputation (no Spark, no oracle): every brightness
    variant (v0-v2) hashes identically; every v3 spot-edit variant joins
    its class through a NONZERO-Hamming pair (so the verify path is
    exercised, not only exact-hash matches); every v4 axis-reversal
    separates — and the Spark gate reproduces exactly that partition."""
    import __spark_entry__ as entry

    H = {
        d: _pure_python_dhash(entry.near_image_pixels(d))
        for d in range(120)
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    pairs = [
        (a, b)
        for a in range(120)
        for b in range(a + 1, 120)
        if any(x == y for x, y in zip(H[a], H[b])) and ham(H[a], H[b]) <= 6
    ]
    parent = {i: i for i in range(120)}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    for k in range(24):
        assert find(k) == find(k + 24) == find(k + 48), f"brightness variants of class {k}"
        assert find(k) == find(k + 72), f"v3 spot-edit variant of class {k} must join"
        assert find(k) != find(k + 96), f"v4 reversal of class {k} must separate"
    assert any(
        ham(H[k], H[k + 72]) > 0 for k in range(24)
    ), "at least one v3 join must need the Hamming verify (nonzero distance)"
    from collections import Counter

    expected = Counter(
        Counter(find(i) for i in range(120)).values()
    )
    got = {
        r["rep_id"]: r["cluster_size"]
        for r in entry.q_image_near_dedup(spark, sf_dir).collect()
    }
    assert sum(got.values()) == 120
    assert Counter(got.values()) == expected


def test_png_decoder_cross_checked_against_pillow():
    """VERDICT r13 #8: when Pillow is installed, pin the two PNG decode
    paths to EACH OTHER (not just each to the builder): hypothesis-
    generated images written by build_png must decode identically through
    _decode_png_minimal and through Pillow, and a Pillow-ENCODED PNG
    (different filter/zlib choices than build_png's) must decode
    identically through both. Skipped in codec-less containers — the
    builder-roundtrip property tests above keep the minimal path pinned
    there."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from hypothesis import given, settings, strategies as st

    from hbsir_old_spark.functions.multimodal import (
        _decode_png_minimal,
        build_png,
    )

    def pil_decode(data):
        img = PIL_Image.open(io.BytesIO(data))
        arr = np.asarray(img)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        return arr

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 9),
        w=st.integers(1, 9),
        c=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(h, w, c, seed):
        arr = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, c), dtype=np.uint8
        )
        ours = build_png(arr)
        assert np.array_equal(pil_decode(ours), arr)
        assert np.array_equal(_decode_png_minimal(ours), arr)
        # Pillow's own encoder picks different row filters / compression:
        # the minimal decoder must handle that stream too
        mode = {1: "L", 3: "RGB", 4: "RGBA"}[c]
        buf = io.BytesIO()
        PIL_Image.fromarray(arr.squeeze(-1) if c == 1 else arr, mode).save(
            buf, format="PNG"
        )
        theirs = buf.getvalue()
        assert np.array_equal(_decode_png_minimal(theirs), pil_decode(theirs))
        assert np.array_equal(_decode_png_minimal(theirs), arr)

    check()


# ---------------------------------------------------------------------------
# Perceptual near-dup audio hashing (x52 family)
# ---------------------------------------------------------------------------


def _pure_python_audio_dhash(mono, n_windows=33, n_bands=4):
    """Reference energy-profile dHash: independent scalar-loop
    implementation of the documented window/bit layout."""
    n = len(mono)
    energy = [0] * n_windows
    for f in range(n):
        energy[(f * n_windows) // n] += abs(int(mono[f]))
    band_bits = (n_windows - 1) // n_bands
    bands = [0] * n_bands
    for i in range(n_windows - 1):
        if energy[i + 1] > energy[i]:
            bands[i // band_bits] |= 1 << (i % band_bits)
    return bands


def _wav_asset_rows(spark, specs):
    """specs: list of (asset_id, interleaved int16 array, channels)."""
    from hbsir_old_spark.functions.multimodal import ASSET_SCHEMA, build_wav

    return spark.createDataFrame(
        [
            (i, "audio", bytearray(build_wav(vals, 8000, channels=ch)), None)
            for i, vals, ch in specs
        ],
        schema=ASSET_SCHEMA,
    )


def test_audio_dhash_matches_pure_python_and_invariances(spark):
    import __spark_entry__ as entry
    from hbsir_old_spark.functions.multimodal import audio_dhash

    # class 7's five gate variants: v0 base, v1 stereo-duplicated,
    # v2 polarity-inverted, v3 zeroed-run edit, v4 reversed
    specs = [
        (v, *entry.near_audio_samples(7 + 24 * v)) for v in range(5)
    ]
    assets = _wav_asset_rows(spark, specs)
    got = {
        r["asset_id"]: list(r["bands"]) for r in audio_dhash(assets).collect()
    }
    # pure-python cross-check on the mono stream of each variant
    for v, vals, ch in specs:
        mono = vals.astype("int64").reshape(-1, ch).sum(axis=1)
        assert got[v] == _pure_python_audio_dhash(mono), f"variant {v}"
    # invariances: stereo duplication and polarity inversion are EXACT
    assert got[0] == got[1] == got[2]
    # localized edit: close but not identical
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert 1 <= ham(got[0], got[3]) <= 6
    # reversal: far
    assert ham(got[0], got[4]) > 6


def test_audio_near_dedup_clusters_end_to_end(spark):
    import __spark_entry__ as entry
    from hbsir_old_spark.functions.multimodal import audio_near_dedup_clusters

    # class 3: all five variants; class 11: base only (singleton control)
    specs = [(v, *entry.near_audio_samples(3 + 24 * v)) for v in range(5)]
    specs.append((100, *entry.near_audio_samples(11)))
    clusters = {
        r["rep_id"]: r["cluster_size"]
        for r in audio_near_dedup_clusters(
            _wav_asset_rows(spark, specs), hot_bucket_cap=None
        ).collect()
    }
    assert clusters == {0: 4, 4: 1, 100: 1}


def test_x52_planted_geometry(spark, sf_dir):
    """Pin the x52 gate corpus' planted structure with an INDEPENDENT
    scalar-python recomputation, exactly the x51 pattern: every stereo/
    polarity variant hashes identically; every v3 zeroed-run variant
    joins its class through a NONZERO-Hamming pair; v4 reversals
    separate from their class (two land near OTHER profiles — mirrored
    by the oracle); and the Spark gate reproduces the partition."""
    import __spark_entry__ as entry

    def mono_of(d):
        vals, ch = entry.near_audio_samples(d)
        return vals.astype("int64").reshape(-1, ch).sum(axis=1)

    H = {d: _pure_python_audio_dhash(mono_of(d)) for d in range(120)}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    pairs = [
        (a, b)
        for a in range(120)
        for b in range(a + 1, 120)
        if any(x == y for x, y in zip(H[a], H[b])) and ham(H[a], H[b]) <= 6
    ]
    parent = {i: i for i in range(120)}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    for k in range(24):
        assert find(k) == find(k + 24) == find(k + 48), f"scale variants of class {k}"
        assert find(k) == find(k + 72), f"v3 edit variant of class {k} must join"
        assert ham(H[k], H[k + 72]) >= 1, f"v3 of class {k} must need the verify"
    assert sum(1 for k in range(24) if find(k) != find(k + 96)) >= 22
    from collections import Counter

    expected = Counter(Counter(find(i) for i in range(120)).values())
    got = {
        r["rep_id"]: r["cluster_size"]
        for r in entry.q_audio_near_dedup(spark, sf_dir).collect()
    }
    assert sum(got.values()) == 120
    assert Counter(got.values()) == expected
