"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed via Arrow-batched ``mapInPandas``.

Image decode is REAL behind an optional-dependency guard: Pillow when
installed, else a built-in minimal pure-stdlib PNG decoder (so the real
path stays exercisable end-to-end in codec-less containers). Audio decode
follows the same pattern: soundfile when installed (any format it reads),
else a pure-stdlib WAV/PCM decoder (the ``wave`` module — 8/16/24/32-bit
PCM), else the documented NotImplementedError seam for exotic formats.
Everything Spark-side is real and tested — schemas, batch iteration,
partitioning, UDF signatures.

Scale notes: media bytes ride in parquet binary columns; mapInPandas streams
Arrow record batches so a 100 TB corpus is processed one batch at a time per
task with no row-at-a-time serde. Keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` modest (e.g. 256) when rows
carry megabyte blobs.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical schema for a multimodal asset table
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        # real decode results when the REAL decode path ran; NULL on the
        # fake path. Images fill (width, height, channels); audio fills
        # (channels, sample_rate, n_frames) and leaves width/height NULL
        T.StructField(
            "decoded",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png_minimal(content: bytes) -> np.ndarray:
    """Minimal pure-stdlib PNG decoder (the public PNG spec / RFC 2083):
    8-bit non-interlaced greyscale/RGB/RGBA, all five scanline filters
    (None/Sub/Up/Average/Paeth). Exists so the REAL decode path is
    exercisable end-to-end in codec-less environments — per-pixel Python
    unfiltering is fine for small fixtures, and production environments
    install Pillow, which takes precedence in :func:`_real_decode_image`.
    Returns an HxWxC uint8 array."""
    import struct
    import zlib

    if not content or not content.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG byte stream")
    pos = len(_PNG_MAGIC)
    width = height = colortype = None
    idat = b""
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if bitdepth != 8 or interlace != 0 or colortype not in (0, 2, 6):
                raise NotImplementedError(
                    "minimal PNG decoder handles 8-bit non-interlaced "
                    "greyscale/RGB/RGBA only; install pillow for the rest"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR chunk")
    channels = {0: 1, 2: 3, 6: 4}[colortype]
    raw = zlib.decompress(idat)
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    bpp = channels
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = rows[:, 0]
    if ftypes.max(initial=0) > 4:
        raise ValueError(f"bad PNG filter type {int(ftypes.max())}")
    # Vectorized fast path (hand whole arrays to numpy instead of
    # per-byte Python): filter-0 scanlines need no unfiltering at all —
    # the common output of simple encoders, including build_png — so an
    # all-zero filter column decodes as one slice+reshape. Same
    # bytes out as the general loop below (pinned by the roundtrip and
    # Pillow cross-check tests).
    if not ftypes.any():
        return rows[:, 1:].copy().reshape(height, width, channels)
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = rows[y, 0]
        line = rows[y, 1:].copy()
        if f == 0:
            pass
        elif f == 1:  # Sub: per-channel wrapping prefix sum (vectorized)
            cols = line[: stride - stride % bpp].reshape(-1, bpp)
            np.add.accumulate(cols, axis=0, dtype=np.uint8, out=cols)
            # stride is always a multiple of bpp (width*channels), the
            # reshape covers the whole line; the slice guard is belt and
            # braces for malformed inputs
        elif f == 2:  # Up (vectorized wrapping add)
            line += prev
        elif f == 3:  # Average
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pr) & 0xFF
        out[y] = line
        prev = line
    return out.reshape(height, width, channels)


def _scale_wide_to_uint8(wide: np.ndarray, mode: str) -> np.ndarray:
    """Scale a 16-bit/int32/float pixel array to uint8 — never clip.
    16-bit modes map 0..65535 onto 0..255 (divide by 257, full-range
    preserving); int32/float have no defined range, so they min-max
    normalize per image (deterministic; documented heuristic). Pure
    numpy so the math is testable without Pillow installed."""
    wide = wide.astype(np.float64)
    if mode.startswith("I;16"):
        wide = wide / 257.0
    else:
        lo = float(wide.min()) if wide.size else 0.0
        hi = float(wide.max()) if wide.size else 0.0
        wide = (wide - lo) * (255.0 / (hi - lo)) if hi > lo else wide * 0.0
    return np.clip(np.round(wide), 0, 255).astype(np.uint8)


def _real_decode_image(content: bytes) -> np.ndarray:
    """Real image decode (bytes -> HxWxC uint8 array) behind the optional-
    dependency guard: Pillow when installed (any format it reads);
    otherwise the built-in minimal PNG decoder for PNG bytes; otherwise
    the documented NotImplementedError seam."""
    try:
        from PIL import Image  # optional; absent in this container
    except ImportError:
        if content and content.startswith(_PNG_MAGIC):
            return _decode_png_minimal(content)
        raise NotImplementedError(
            "no image codec available for these bytes: install pillow "
            "(any format), or supply PNG bytes for the built-in minimal "
            "decoder"
        )
    import io

    img = Image.open(io.BytesIO(content))
    # normalize to the contract (8-bit HxWxC): palette images would
    # otherwise surface raw palette INDICES as channels=1; grey+alpha
    # keeps its alpha (LA/PA -> RGBA, not RGB — convert('RGB') would
    # silently drop the band); 16-bit/int/float modes are SCALED to
    # uint8, never convert('RGB')-ed, which clips at 255 and destroys
    # high-bit-depth data
    if img.mode == "P":
        img = img.convert("RGBA" if "transparency" in img.info else "RGB")
    elif img.mode in ("LA", "PA"):
        img = img.convert("RGBA")
    elif img.mode in ("I", "I;16", "I;16B", "I;16L", "I;16N", "F"):
        arr = _scale_wide_to_uint8(np.asarray(img), img.mode)
        return arr if arr.ndim == 3 else arr[:, :, None]
    elif img.mode not in ("L", "RGB", "RGBA"):
        img = img.convert("RGB")
    arr = np.asarray(img)
    return arr if arr.ndim == 3 else arr[:, :, None]


_WAV_MAGIC_RIFF = b"RIFF"
_WAV_MAGIC_WAVE = b"WAVE"


def _decode_wav_stdlib(content: bytes) -> tuple[np.ndarray, int]:
    """Pure-stdlib WAV/PCM decode via the ``wave`` module (the
    :func:`_decode_png_minimal` pattern applied to audio): 8/16/24/32-bit
    integer PCM, any channel count. Returns ``(samples, sample_rate)``
    with ``samples`` an ``(n_frames, channels)`` int32 array — 8-bit WAV
    is unsigned and is recentred to signed (-128..127) so every width
    shares one convention.
    Integer-exact by construction (no float resampling), which is what
    lets the x47 gate oracle recompute sample sums arithmetically."""
    import io
    import wave

    with wave.open(io.BytesIO(content)) as w:
        sample_rate = w.getframerate()
        channels = w.getnchannels()
        width = w.getsampwidth()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if width == 1:
        vals = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    elif width == 2:
        vals = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    elif width == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
    elif width == 4:
        vals = np.frombuffer(raw, dtype="<i4").astype(np.int32)
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    return vals.reshape(-1, channels), sample_rate


def _real_decode_audio(content: bytes) -> tuple[np.ndarray, int]:
    """Real audio decode (bytes -> ``(samples[n_frames, channels],
    sample_rate)``) behind the optional-dependency guard. RIFF/WAVE bytes
    ALWAYS take the built-in stdlib decoder — even when soundfile is
    installed — because results must not depend on the environment:
    ``soundfile.read(dtype='int16')`` RESCALES non-16-bit PCM (8-bit
    << 8, 24-bit >> 8, 32-bit >> 16) while this module's contract is raw
    integer sample values (the x47 oracle and the width-pinned unit
    tests encode that contract). Non-WAV bytes go to soundfile when
    installed (converted to int16 scale — the only meaningful integer
    reading for lossy/float formats), else the documented
    NotImplementedError seam."""
    if (
        content
        and content[:4] == _WAV_MAGIC_RIFF
        and content[8:12] == _WAV_MAGIC_WAVE
    ):
        return _decode_wav_stdlib(content)
    try:
        import soundfile  # optional; absent in this container
    except ImportError:
        raise NotImplementedError(
            "no audio codec available for these bytes: install soundfile "
            "(non-WAV formats), or supply WAV/PCM bytes for the built-in "
            "stdlib decoder"
        ) from None
    import io

    data, sample_rate = soundfile.read(
        io.BytesIO(content), dtype="int16", always_2d=True
    )
    return data.astype(np.int32), int(sample_rate)


def build_wav(
    samples: np.ndarray, sample_rate: int, channels: int = 1
) -> bytes:
    """Encode int16 samples (interleaved 1-D, or ``(n_frames, channels)``)
    as 16-bit PCM WAV bytes via the stdlib ``wave`` module. The fixture/
    ingest counterpart of :func:`_real_decode_audio` — tests and the x47
    gate round-trip through a REAL RIFF container, not a fake."""
    import io
    import wave

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 2 and arr.shape[1] != channels:
        # a (n_frames, channels) array with a mismatched channels arg
        # would silently write a mono header over interleaved stereo
        # data (doubled frame count, no error anywhere downstream)
        raise ValueError(
            f"samples shape {arr.shape} disagrees with channels={channels}"
        )
    if arr.size % channels:
        # a ragged interleaved 1-D buffer would write a truncated final
        # frame; the stdlib decoder's reshape(-1, channels) then fails
        # with an opaque error far from the bug
        raise ValueError(
            f"{arr.size} samples is not a whole number of frames for "
            f"channels={channels}"
        )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def _fake_features(content: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature extractor: sha256 -> unit-norm floats.
    Keeps the whole pipeline runnable and testable without codecs."""
    digest = hashlib.sha256(content or b"").digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4], dtype="<u4")
    vec = (raw.astype(np.float64) / np.iinfo("u4").max) - 0.5
    n = np.linalg.norm(vec)
    return (vec / n if n else vec).astype(np.float32)


def extract_features(assets: DataFrame, use_fake_decoder: bool = True) -> DataFrame:
    """Decode + featurize every asset via mapInPandas (Arrow batches).

    With ``use_fake_decoder=False`` both media kinds run their REAL decode
    path (:func:`_real_decode_image`: Pillow else built-in PNG;
    :func:`_real_decode_audio`: soundfile else built-in WAV) and the
    ``decoded`` struct carries the true (width, height, channels) for
    images / (channels, sample_rate, n_frames) for audio. The fake path
    leaves ``decoded`` NULL and touches no codec.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded: list[dict | None] = []
            if use_fake_decoder:
                decoded = [None] * len(pdf)
            else:
                for kind, content in zip(pdf["kind"], pdf["content"]):
                    if kind == "audio":
                        samples, sr = _real_decode_audio(content)
                        decoded.append(
                            {
                                "width": None,
                                "height": None,
                                "channels": int(samples.shape[1]),
                                "sample_rate": int(sr),
                                "n_frames": int(samples.shape[0]),
                            }
                        )
                    else:
                        arr = _real_decode_image(content)
                        decoded.append(
                            {
                                "width": int(arr.shape[1]),
                                "height": int(arr.shape[0]),
                                "channels": int(arr.shape[2]),
                                "sample_rate": None,
                                "n_frames": None,
                            }
                        )
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
                    "content_sha": pdf["content"].map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "features": pdf["content"].map(lambda b: _fake_features(b).tolist()),
                    "decoded": decoded,
                }
            )
            yield out

    return assets.mapInPandas(run, schema=FEATURES_SCHEMA)


def build_png(pixels: np.ndarray) -> bytes:
    """Encode an HxWxC uint8 array (C in {1, 3, 4}) as 8-bit
    non-interlaced PNG bytes (filter type 0 per scanline) via stdlib
    struct/zlib. The image counterpart of :func:`build_wav`: fixtures and
    the planned x48 gate round-trip a REAL PNG container through the real
    decode path (:func:`_decode_png_minimal` / Pillow), not a fake."""
    import struct
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] not in (1, 3, 4):
        raise ValueError(f"expected HxWx(1|3|4) array, got shape {arr.shape}")
    h, w, c = arr.shape
    colortype = {1: 0, 3: 2, 4: 6}[c]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _resize_array(
    arr: np.ndarray, out_h: int, out_w: int, method: str = "bilinear"
) -> np.ndarray:
    """Resize an HxWxC uint8 array with pure vectorized numpy (no Python
    pixel loops, no optional deps): ``nearest`` samples pixel centers
    (``src = floor((i + 0.5) * H / out_h)``, the OpenCV/PIL-NEAREST
    convention), ``bilinear`` uses half-pixel-center sampling with edge
    clamping (align_corners=False, the torch/TF default).

    BOTH methods are integer-exact: the bilinear source coordinate
    ``(i + 0.5) * H / out_h - 0.5`` is the rational
    ``((2i + 1) * H - out_h) / (2 * out_h)``, so the blend weights have
    exact denominators ``2 * out_h`` / ``2 * out_w`` and every output
    value is ``N / (4 * out_h * out_w)`` for an int64 ``N`` — computed
    here in integer arithmetic and rounded half-to-even. Rationale: a
    float64 evaluation lands within ~1e-13 of an EXACT tie for real
    inputs (measured: 668 exact ties over the x48b generator corpus,
    3 of which float64 rounds differently than the true rational), so a
    float path is neither cross-engine oracle-able nor safely
    reproducible for fingerprints built on resized pixels. Fixed-point
    bilinear is standard practice (OpenCV INTER_LINEAR uses 11-bit
    fixed point); this is the exact-rational version. The x48 (nearest)
    and x48b (bilinear) oracles recompute the same arithmetic in SQL."""
    if arr.ndim != 3:
        raise ValueError(f"expected HxWxC array, got shape {arr.shape}")
    if arr.dtype != np.uint8:
        # int64 blending truncates floats and wraps >255 ints — make the
        # uint8 contract explicit instead of silently producing garbage
        raise ValueError(f"expected uint8 pixels, got dtype {arr.dtype}")
    if out_h < 1 or out_w < 1:
        raise ValueError(f"target size must be positive, got {out_h}x{out_w}")
    h, w, _ = arr.shape
    if method == "nearest":
        yi = np.minimum(
            ((2 * np.arange(out_h, dtype=np.int64) + 1) * h) // (2 * out_h),
            h - 1,
        )
        xi = np.minimum(
            ((2 * np.arange(out_w, dtype=np.int64) + 1) * w) // (2 * out_w),
            w - 1,
        )
        return arr[yi][:, xi]
    if method != "bilinear":
        raise ValueError(f"method must be 'nearest' or 'bilinear', got {method!r}")
    dy, dx = 2 * out_h, 2 * out_w
    ys_num = (2 * np.arange(out_h, dtype=np.int64) + 1) * h - out_h
    xs_num = (2 * np.arange(out_w, dtype=np.int64) + 1) * w - out_w
    y0 = np.clip(ys_num // dy, 0, h - 1)  # numpy // floors negatives
    x0 = np.clip(xs_num // dx, 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    # clip handles the sub-origin half-row/column (ys < 0 -> weight 0)
    ry = np.clip(ys_num - y0 * dy, 0, dy)[:, None, None]
    rx = np.clip(xs_num - x0 * dx, 0, dx)[None, :, None]
    a = arr.astype(np.int64)
    num = (
        a[y0][:, x0] * (dy - ry) * (dx - rx)
        + a[y0][:, x1] * (dy - ry) * rx
        + a[y1][:, x0] * ry * (dx - rx)
        + a[y1][:, x1] * ry * rx
    )
    den = dy * dx
    q, r = np.divmod(num, den)
    # round half to even; convexity keeps q + carry inside [0, 255]
    carry = (2 * r > den) | ((2 * r == den) & (q % 2 == 1))
    return (q + carry).astype(np.uint8)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("pixels", T.BinaryType(), False),
        T.StructField("pixel_sum", T.LongType(), False),
    ]
)


def resize_images(
    assets: DataFrame,
    width: int,
    height: int,
    method: str = "bilinear",
) -> DataFrame:
    """Decode every image asset (REAL path: :func:`_real_decode_image`)
    and resize to ``width`` x ``height`` (:func:`_resize_array`): emits
    ``(asset_id, width, height, channels, pixels, pixel_sum)`` with
    ``pixels`` the resized HxWxC uint8 buffer in row-major order and
    ``pixel_sum`` its integer sum (the cheap downstream sanity/oracle
    hook). Non-image rows are ignored.

    Scale shape: mapInPandas over Arrow batches — the codec + the
    vectorized numpy resample are the only Python on the path (the
    documented multimodal boundary); one batch of blobs per task, no
    driver collection. Keep arrow batch sizes modest when blobs are
    megabytes (module docstring)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                arr = _resize_array(
                    _real_decode_image(content), height, width, method
                )
                rows.append(
                    {
                        "asset_id": int(asset_id),
                        "width": int(arr.shape[1]),
                        "height": int(arr.shape[0]),
                        "channels": int(arr.shape[2]),
                        "pixels": arr.tobytes(),
                        "pixel_sum": int(arr.sum(dtype=np.int64)),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in RESIZED_SCHEMA.fields]
            )

    return assets.filter(F.col("kind") == "image").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_sum", T.LongType(), True),
        T.StructField("sample_abs_max", T.IntegerType(), True),
    ]
)


def audio_stats(assets: DataFrame) -> DataFrame:
    """Decode every audio asset's bytes (REAL path:
    :func:`_real_decode_audio`) and emit integer-exact per-asset stats:
    ``(asset_id, sample_rate, n_frames, channels, sample_sum,
    sample_abs_max)``. Integer sums over PCM samples are reproducible in
    any engine from the generating formula, so this operator carries the
    x47 full-oracle gate; rows whose ``kind`` isn't audio are ignored.

    Scale shape: mapInPandas over Arrow batches — the only Python on the
    path is the codec itself (the documented multimodal boundary), one
    batch of blobs per task, no driver collection."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                samples, sr = _real_decode_audio(content)
                rows.append(
                    {
                        "asset_id": int(asset_id),
                        "sample_rate": int(sr),
                        "n_frames": int(samples.shape[0]),
                        "channels": int(samples.shape[1]),
                        "sample_sum": int(samples.sum()),
                        "sample_abs_max": int(
                            np.abs(samples).max() if samples.size else 0
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in AUDIO_STATS_SCHEMA.fields],
            )

    return assets.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_STATS_SCHEMA
    )


def frame_sample(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling *plumbing*: emits (asset_id, frame_no) rows for
    every ``every_n``-th frame according to metadata — the real decoder
    would attach pixels; here the schedule itself is the tested surface."""
    return (
        assets.filter(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
            ).alias("frame_no"),
        )
    )


def synthetic_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table for tests (no codecs involved)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        content = hashlib.sha256(str(i).encode()).digest() * (i % 5 + 1)
        meta = {
            "width": 64 + i if kind == "image" else None,
            "height": 48 + i if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "n_frames": 30 * (i % 7 + 1) if kind == "video" else None,
            "mime": f"{kind}/x-fake",
        }
        rows.append((i, kind, bytearray(content), meta))
    return spark.createDataFrame(rows, schema=ASSET_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual (near-duplicate) image hashing — the capability exact
# thumbnail fingerprinting (sha2 over resized pixels, the x49 gate) cannot
# provide: a recompressed or brightness-shifted copy changes every byte of
# the thumbnail but barely moves its GRADIENT STRUCTURE. dHash encodes
# that structure: resize to a (hash_h x hash_w+1) grid, reduce channels,
# and keep one sign bit per horizontal neighbor comparison. Because the
# resize is integer-exact (see _resize_array), the hash is bit-stable
# across platforms — the property that makes banded Hamming joins on it
# production-sound. Reference parity note: the reference engine has no
# image operators at all (its multimodal surface is absent); this family
# follows the LLM-pipeline brief, mirroring the text-side LSH design
# (functions/dedup.py banding + hot-bucket capping + connected
# components) in image space.
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("bands", T.ArrayType(T.LongType(), False), False),
    ]
)


def image_dhash(
    assets: DataFrame,
    hash_h: int = 8,
    hash_w: int = 8,
    n_bands: int = 4,
    method: str = "nearest",
) -> DataFrame:
    """Difference-hash every image asset: decode (REAL path) -> resize to
    ``hash_h x (hash_w + 1)`` grayscale -> one bit per horizontal neighbor
    comparison -> ``hash_h * hash_w`` bits packed into ``n_bands``
    equal-width integers (LSB-first within each band; bit index
    ``b = y * hash_w + x`` lands in band ``b // band_bits`` at offset
    ``b % band_bits``).

    The channel reduction is the CHANNEL SUM, not the mean: only the
    comparison sign matters and the sum is order-isomorphic to the mean
    without introducing a division whose rounding a cross-engine oracle
    would have to replicate. Emitting k band integers instead of one
    64-bit word keeps every value positive in signed-64 engines (bit 63
    of a packed uint64 has no portable SQL twin) and is exactly the shape
    the banded Hamming join consumes.

    Scale shape: codec + hash inside one mapInPandas over Arrow batches
    (the documented multimodal boundary); output is (id, k small ints) —
    the corpus' pixel payload never reaches a shuffle."""
    total_bits = hash_h * hash_w
    if n_bands < 1 or total_bits % n_bands:
        raise ValueError(
            f"n_bands must divide hash_h*hash_w ({total_bits}), got {n_bands}"
        )
    band_bits = total_bits // n_bands
    if band_bits > 62:
        raise ValueError(
            f"band width {band_bits} bits does not fit a signed 64-bit lane"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << (np.arange(total_bits, dtype=np.int64) % band_bits)
        for pdf in batches:
            rows = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                arr = _resize_array(
                    _real_decode_image(content), hash_h, hash_w + 1, method
                )
                gray = arr.astype(np.int64).sum(axis=2)
                bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64).ravel()
                vals = bits * weights
                bands = [
                    int(vals[i * band_bits : (i + 1) * band_bits].sum())
                    for i in range(n_bands)
                ]
                rows.append({"asset_id": int(asset_id), "bands": bands})
            yield pd.DataFrame(rows, columns=["asset_id", "bands"])

    return assets.filter(F.col("kind") == "image").mapInPandas(
        run, schema=DHASH_SCHEMA
    )


def hamming_distance_bands(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length band arrays:
    ``sum(bit_count(a[i] XOR b[i]))`` — pure JVM expressions."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def image_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "asset_id",
    max_hamming: int = 6,
    hot_bucket_cap: int | None = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """Near-duplicate pairs from dHash band arrays (the
    :func:`image_dhash` / :func:`audio_dhash` output): banded candidate
    generation — a pair is a candidate iff SOME band matches exactly
    (never all-pairs) — then exact verification ``hamming <= max_hamming``
    JVM-side. With k bands over ``B`` total bits, any pair within
    ``k - 1`` bit flips is guaranteed a matching band (pigeonhole); beyond
    that the banding is the standard LSH recall/cost trade, same as the
    text-side SimHash path it shares its shape with
    (:func:`~hbsir_old_spark.functions.dedup.simhash_pairs`). Hot buckets
    (a constant-background corpus where one band value recurs everywhere)
    follow :func:`~hbsir_old_spark.functions.dedup.band_candidates`' star
    rule, so no bucket joins quadratically and a near-identical hot
    cluster stays connected.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    from .dedup import _banded_hamming_pairs

    return _banded_hamming_pairs(
        hashes.select(F.col(id_col).alias("__id__"), F.col("bands").alias("__fp__")),
        F.posexplode,
        hamming_distance_bands,
        max_hamming,
        hot_bucket_cap,
        hot_bucket_anchors,
    )


def image_near_dedup_clusters(
    assets: DataFrame,
    hash_h: int = 8,
    hash_w: int = 8,
    n_bands: int = 4,
    max_hamming: int = 6,
    method: str = "nearest",
    hot_bucket_cap: int | None = 256,
) -> DataFrame:
    """End-to-end near-duplicate image clustering: dHash -> banded Hamming
    pairs -> connected components (min-id representative), singletons
    included. Returns ``(rep_id, cluster_size)`` — the near-dup analogue
    of the exact thumbnail-fingerprint dedup (x49)."""
    return near_dedup_clusters_from_bands(
        image_dhash(
            assets, hash_h=hash_h, hash_w=hash_w, n_bands=n_bands,
            method=method,
        ),
        max_hamming=max_hamming,
        hot_bucket_cap=hot_bucket_cap,
    )


def near_dedup_clusters_from_bands(
    hashes: DataFrame,
    id_col: str = "asset_id",
    max_hamming: int = 6,
    hot_bucket_cap: int | None = 256,
    hot_bucket_anchors: int = 8,
) -> DataFrame:
    """Generic band-array near-dup clustering: banded Hamming pairs ->
    connected components (min-id representative), singletons included —
    the shared tail of :func:`image_near_dedup_clusters` and
    :func:`audio_near_dedup_clusters`. ``hashes`` must carry ``id_col``
    and ``bands`` (equal-length long arrays); it is checkpointed here
    because the pair join and the singleton union both consume it."""
    from .dedup import connected_components

    hashes = hashes.localCheckpoint(eager=True)
    pairs = image_near_dup_pairs(
        hashes,
        id_col=id_col,
        max_hamming=max_hamming,
        hot_bucket_cap=hot_bucket_cap,
        hot_bucket_anchors=hot_bucket_anchors,
    )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    labeled = (
        hashes.select(F.col(id_col).alias("node"))
        .join(comps, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
    return labeled.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    ).select(F.col("component").alias("rep_id"), "cluster_size")


def audio_dhash(
    assets: DataFrame,
    n_windows: int = 33,
    n_bands: int = 4,
) -> DataFrame:
    """Perceptual AUDIO fingerprint — the energy-profile difference hash,
    the audio analogue of :func:`image_dhash`: decode (REAL path) ->
    channel-SUM mono (integer, no division) -> partition the sample
    index into ``n_windows`` contiguous windows by pure integer
    arithmetic (sample ``f`` lands in window ``f * n_windows // n``) ->
    window energy = sum of ``|mono|`` -> one sign bit per adjacent-window
    comparison -> ``n_windows - 1`` bits packed into ``n_bands`` band
    integers (same LSB-first layout and signed-64 rationale as
    image_dhash).

    The hash is exactly invariant under the transforms a near-dup audio
    pipeline must survive: channel duplication (mono sum scales by the
    channel count — positive scaling preserves every strict comparison),
    polarity inversion (``|mono|`` unchanged), and any uniform positive
    gain; a localized edit moves only the windows it touches (a few
    bits); reversal/re-cut moves the whole profile (far). Everything is
    integer-exact, so a SQL oracle recomputes the hash from a sample
    generator without the codec."""
    total_bits = n_windows - 1
    if n_bands < 1 or total_bits % n_bands:
        raise ValueError(
            f"n_bands must divide n_windows-1 ({total_bits}), got {n_bands}"
        )
    band_bits = total_bits // n_bands
    if band_bits > 62:
        raise ValueError(
            f"band width {band_bits} bits does not fit a signed 64-bit lane"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << (np.arange(total_bits, dtype=np.int64) % band_bits)
        for pdf in batches:
            rows = []
            for asset_id, content in zip(pdf["asset_id"], pdf["content"]):
                samples, _sr = _real_decode_audio(content)
                mono = samples.astype(np.int64).sum(axis=1)
                n = mono.shape[0]
                energy = np.zeros(n_windows, dtype=np.int64)
                if n:
                    w = (np.arange(n) * n_windows) // n
                    np.add.at(energy, w, np.abs(mono))
                bits = (energy[1:] > energy[:-1]).astype(np.int64)
                vals = bits * weights
                bands = [
                    int(vals[i * band_bits : (i + 1) * band_bits].sum())
                    for i in range(n_bands)
                ]
                rows.append({"asset_id": int(asset_id), "bands": bands})
            yield pd.DataFrame(rows, columns=["asset_id", "bands"])

    return assets.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=DHASH_SCHEMA
    )


def audio_near_dedup_clusters(
    assets: DataFrame,
    n_windows: int = 33,
    n_bands: int = 4,
    max_hamming: int = 6,
    hot_bucket_cap: int | None = 256,
) -> DataFrame:
    """End-to-end near-duplicate audio clustering: energy-profile dHash
    -> banded Hamming pairs -> connected components, singletons included
    — :func:`image_near_dedup_clusters` with the audio fingerprint."""
    return near_dedup_clusters_from_bands(
        audio_dhash(assets, n_windows=n_windows, n_bands=n_bands),
        max_hamming=max_hamming,
        hot_bucket_cap=hot_bucket_cap,
    )
