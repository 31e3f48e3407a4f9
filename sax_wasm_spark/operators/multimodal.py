"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, with the Spark-side plumbing (schemas, Arrow batching,
the per-row decode stages over ``operators/rows.map_rows``) fully real
and tested.

External codecs (Pillow/ffmpeg/torchaudio) are NOT in this container,
but JPEG and PNG images and PCM WAV audio decode for REAL via the
from-scratch codecs (kernel/jpegcodec.py, pngcodec.py, wavcodec.py):
``decoder="real"`` returns true dimensions/duration and a
pixel/sample-derived feature vector for those formats, and raises
NotImplementedError only for the ones that genuinely need an external
library (compressed audio, video). ``decoder="fake"`` (default in
plumbing tests) computes deterministic features from the raw bytes so
batch shapes, schema, and partitioning are exercised without any codec.

At scale the same plumbing holds: media bytes stay in executor-side
Arrow buffers, one batch per ``maxRecordsPerBatch``, and feature
extraction is a per-partition vectorized pass with no driver involvement.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .rows import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("media", StringType(), False),  # placeholder for binary in docs
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), False),
        StructField("status", StringType(), False),
    ]
)

_FEATURE_DIM = 8


def _real_decode(kind: str, data: bytes):
    """Real decode where a from-scratch codec exists (baseline JPEG —
    kernel/jpegcodec.py; PNG — kernel/pngcodec.py; PCM WAV —
    kernel/wavcodec.py); NotImplementedError names the library an
    integration would need everywhere else. Image feature = luma
    mean/std/min/max plus four quadrant means; audio feature = sample
    mean/std/min/max plus four quarter-clip means — all in [-0.5, 0.5],
    a real pixel/sample-derived embedding stand-in with the stub's
    shape."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.jpegcodec import JpegError, decode_jpeg_rgb  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, PngError, decode_png  # noqa: PLC0415
    from ..kernel.wavcodec import WavError, decode_wav  # noqa: PLC0415

    if kind == "audio" and data[:4] == b"RIFF":
        try:
            clip = decode_wav(data)
        except WavError as e:
            raise ValueError(f"wav: {e}") from e
        span = 128.0 if clip.bits == 8 else 32768.0
        s = clip.samples.astype(np.float64) / (2.0 * span)
        q = max(clip.n_frames // 4, 1)
        feature = [
            float(s.mean()),
            float(s.std()),
            float(s.min()),
            float(s.max()),
            float(s[:q].mean()),
            float(s[q : 2 * q].mean()) if clip.n_frames > 1 else 0.0,
            float(s[2 * q : 3 * q].mean()) if clip.n_frames > 2 else 0.0,
            float(s[3 * q :].mean()) if clip.n_frames > 3 else 0.0,
        ]
        return None, None, clip.duration_ms, feature

    img = None
    if kind == "image" and data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernel.gifcodec import GifError, decode_gif  # noqa: PLC0415

        try:
            gif = decode_gif(data)
        except GifError as e:
            raise ValueError(f"gif: {e}") from e
        first = gif.frames[0]

        class _GifView:  # duck-typed shim: first frame drives the features
            planes = first.planes
            width = first.width  # frame dims, not logical screen — the
            height = first.height  # quadrant slices must match planes

        img = _GifView()
    if kind == "image" and data.startswith(PNG_SIGNATURE):
        try:
            img = decode_png(data)
        except PngError as e:
            raise ValueError(f"png: {e}") from e
    if kind == "image" and data[:2] == b"\xff\xd8":
        try:
            img = decode_jpeg_rgb(data)
        except JpegError as e:
            raise ValueError(f"jpeg: {e}") from e
    if kind == "image" and data[:2] == b"BM":
        from ..kernel.dibcodec import BmpError, decode_bmp  # noqa: PLC0415

        try:
            img = decode_bmp(data)
        except BmpError as e:
            raise ValueError(f"bmp: {e}") from e
    if img is not None:
        luma = img.planes.astype(np.float64).mean(axis=2)
        h2, w2 = max(img.height // 2, 1), max(img.width // 2, 1)
        feature = [
            float(luma.mean() / 255.0 - 0.5),
            float(luma.std() / 255.0 - 0.5),
            float(luma.min() / 255.0 - 0.5),
            float(luma.max() / 255.0 - 0.5),
            float(luma[:h2, :w2].mean() / 255.0 - 0.5),
            float(luma[:h2, w2:].mean() / 255.0 - 0.5) if img.width > 1 else 0.0,
            float(luma[h2:, :w2].mean() / 255.0 - 0.5) if img.height > 1 else 0.0,
            float(luma[h2:, w2:].mean() / 255.0 - 0.5)
            if img.width > 1 and img.height > 1
            else 0.0,
        ]
        return img.width, img.height, None, feature
    if kind == "video" and data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

        try:
            clip = decode_avi(data)
        except AviError as e:
            raise ValueError(f"avi: {e}") from e
        luma = clip.frames[0].astype(np.float64).mean(axis=2)
        h2, w2 = max(clip.height // 2, 1), max(clip.width // 2, 1)
        feature = [
            float(luma.mean() / 255.0 - 0.5),
            float(luma.std() / 255.0 - 0.5),
            float(luma.min() / 255.0 - 0.5),
            float(luma.max() / 255.0 - 0.5),
            float(luma[:h2, :w2].mean() / 255.0 - 0.5),
            float(luma[:h2, w2:].mean() / 255.0 - 0.5) if clip.width > 1 else 0.0,
            float(luma[h2:, :w2].mean() / 255.0 - 0.5) if clip.height > 1 else 0.0,
            float(luma[h2:, w2:].mean() / 255.0 - 0.5)
            if clip.width > 1 and clip.height > 1
            else 0.0,
        ]
        return clip.width, clip.height, clip.duration_ms, feature
    # codec integration point for everything else (Pillow / ffmpeg /
    # torchaudio are not available in this environment)
    raise NotImplementedError(
        f"decoding {kind} media beyond JPEG/PNG/GIF/BMP, PCM-WAV, and "
        "uncompressed AVI requires external codecs"
    )


def _fake_decode(kind: str, data: bytes):
    """Deterministic stand-in for a real codec: derives pseudo
    dimensions/duration and a small feature vector from the bytes."""
    h = hashlib.blake2b(data, digest_size=32).digest()
    width = height = duration = None
    if kind == "image":
        width = 16 + h[0] % 64
        height = 16 + h[1] % 64
    elif kind in ("audio", "video"):
        duration = 100 + int.from_bytes(h[2:4], "little") % 10000
        if kind == "video":
            width = 16 + h[0] % 64
            height = 16 + h[1] % 64
    feature = [((h[i] / 255.0) - 0.5) for i in range(_FEATURE_DIM)]
    return width, height, duration, feature


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "media_id",
    kind_col: str = "kind",
    decoder="fake",
) -> DataFrame:
    """Decode/feature-extract stage over binary media columns.

    ``decoder`` is pluggable (VERDICT r1 item 10):

    - ``"fake"`` — deterministic hash-derived metadata/features (the
      plumbing-test default; needs no codec at all);
    - ``"real"`` — JPEG/PNG images and PCM WAV audio decode via the
      from-scratch codecs (true dims/duration + pixel/sample-derived
      features); other formats raise NotImplementedError at the
      integration point;
    - a CALLABLE ``(kind: str, data: bytes) -> (width, height,
      duration_ms, feature: list[float])`` — a production codec
      (Pillow / ffmpeg / torchaudio wrapper) injected without editing
      the operator. The callable must be picklable (module-level) so
      Spark can ship it to executors.
    """
    if callable(decoder):
        decode = decoder
    elif decoder == "fake":
        decode = _fake_decode
    elif decoder == "real":
        decode = _real_decode
    else:
        raise ValueError(f"decoder must be 'fake', 'real', or a callable, got {decoder!r}")

    def row(mid, kind, data):
        data = data or b""
        width, height, duration, feature = decode(str(kind), data)
        yield (
            mid, str(kind), len(data), hashlib.sha256(data).hexdigest(),
            width, height, duration, feature, "ok",
        )

    return map_rows(df.select(id_col, kind_col, media_col), row, FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    media_col: str = "media",
    id_col: str = "media_id",
    resizer=None,
) -> DataFrame:
    """Image resize stage: binary in → (id, w, h, resized binary) out.
    ``resizer(data: bytes, w: int, h: int) -> bytes`` is the pluggable
    codec (Pillow's ``Image.resize`` wrapper in production — absent
    here); the default deterministic stand-in re-hashes the bytes to a
    w*h-shaped payload so batch plumbing, schema, and memory bounds are
    exercised for real. Stateless per row → embarrassingly parallel,
    no shuffle, bounded by the Arrow batch size like the extractor."""
    from pyspark.sql.types import BinaryType  # noqa: PLC0415

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("resized", BinaryType(), True),
        ]
    )

    if resizer is None:
        def resizer(data: bytes, w: int, h: int) -> bytes:
            # deterministic fake: derive exactly w*h bytes from the input
            out = bytearray()
            seed = hashlib.blake2b(data, digest_size=32).digest()
            counter = 0
            while len(out) < w * h:
                out += hashlib.blake2b(
                    seed + counter.to_bytes(8, "little"), digest_size=64
                ).digest()
                counter += 1
            return bytes(out[: w * h])

    def row(mid, data):
        yield mid, target_w, target_h, resizer(data or b"", target_w, target_h)

    return map_rows(df.select(id_col, media_col), row, out_schema)


def sample_frames(
    df: DataFrame,
    n_frames: int,
    media_col: str = "media",
    id_col: str = "media_id",
    sampler=None,
) -> DataFrame:
    """Video frame-sampling stage: one input row → ``n_frames`` output
    rows (id, frame_idx, ts_ms, frame binary). ``sampler(data, n) ->
    list[(ts_ms, frame_bytes)]`` is the pluggable codec (an ffmpeg
    keyframe extractor in production); the default deterministic
    stand-in slices the payload into n evenly-spaced windows. The
    1→n fan-out happens inside the executor batch (a flatMap shape) —
    no shuffle, and frame bytes never visit the driver."""
    from pyspark.sql.types import BinaryType  # noqa: PLC0415

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("ts_ms", IntegerType(), False),
            StructField("frame", BinaryType(), True),
        ]
    )

    if sampler is None:
        def sampler(data: bytes, n: int):
            h = hashlib.blake2b(data, digest_size=32).digest()
            dur = 100 + int.from_bytes(h[2:4], "little") % 10000  # = _fake_decode
            if not data:
                data = h
            step = max(len(data) // n, 1)
            return [
                (dur * i // max(n - 1, 1), data[i * step : i * step + step])
                for i in range(n)
            ]

    def row(mid, data):
        for i, (ts, frame) in enumerate(sampler(data or b"", n_frames)):
            yield mid, i, int(ts), frame

    return map_rows(df.select(id_col, media_col), row, out_schema)


def _render_schema(id_col: str, media_name: str) -> str:
    return f"{id_col} long not null, img_idx int not null, {media_name} binary not null"


def render_jpeg_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """JPEG writer twin: (id, n) → (id, img_idx, jpeg:binary). The
    writer twins are the deterministic fan-out behind the decode oracles
    (sources/imagegen / audiogen / videogen closed forms): identical
    regardless of partitioning, 1→n inside the executor batch (no
    shuffle, bytes never visit the driver)."""
    from ..sources.imagegen import build_jpeg  # noqa: PLC0415

    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: ((did, k, build_jpeg(did, k)) for k in range(n)),
        _render_schema(id_col, "jpeg"),
    )


def render_png_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """PNG writer twin: (id, n) → (id, img_idx, png:binary)."""
    from ..sources.imagegen import build_png  # noqa: PLC0415

    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: ((did, k, build_png(did, k)) for k in range(n)),
        _render_schema(id_col, "png"),
    )


def render_gif_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """GIF writer twin: (id, n) → (id, img_idx, gif:binary)."""
    from ..sources.imagegen import build_gif  # noqa: PLC0415

    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: ((did, k, build_gif(did, k)) for k in range(n)),
        _render_schema(id_col, "gif"),
    )


def render_wav_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """WAV writer twin: (id, n) → (id, img_idx, wav:binary)."""
    from ..sources.audiogen import build_wav  # noqa: PLC0415

    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: ((did, k, build_wav(did, k)) for k in range(n)),
        _render_schema(id_col, "wav"),
    )


DECODE_STATS_SCHEMA_TAIL = [
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_channels", IntegerType(), True),
    StructField("pixel_sum", LongType(), True),
    StructField("pixel_min", IntegerType(), True),
    StructField("pixel_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def decode_jpeg_stats(
    df: DataFrame,
    media_col: str = "jpeg",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 24,
) -> DataFrame:
    """REAL pixel decode over a binary JPEG column → per-image pixel
    statistics: (id…, width, height, n_channels, pixel_sum, pixel_min,
    pixel_max, status). Raw component planes (no color transform) so
    deterministic corpora keep their closed forms; malformed or
    unsupported payloads degrade to ``status='error:…'`` rows with NULL
    stats — the straggler/poison budget, same policy as the PDF
    extraction tier. Per-row CPU work, zero shuffle; ``max_pixels``
    bounds hostile dimension claims before any allocation."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.jpegcodec import JpegError, decode_jpeg  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + DECODE_STATS_SCHEMA_TAIL)

    def row(*vals):
        *ids, data = vals
        try:
            img = decode_jpeg(data or b"", max_pixels=max_pixels)
        except JpegError as e:
            yield (*ids, *[None] * 6, f"error:{e}")
            return
        px = img.planes  # r8: sum(dtype=int64) exact, no copy
        yield (
            *ids, img.width, img.height, img.n_components,
            int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()), "ok",
        )

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def decode_image_stats(
    df: DataFrame,
    media_col: str = "img",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
) -> DataFrame:
    """Format-sniffing REAL pixel decode over a binary image column —
    JPEG (SOI magic → kernel/jpegcodec), PNG (signature →
    kernel/pngcodec), GIF (GIF87a/89a → kernel/gifcodec, multi-frame:
    stats span every frame, ``n_frames`` reports the count), BMP
    (BM magic → kernel/dibcodec), and TIFF (II*/MM* magic →
    kernel/tiffcodec: gray/RGB/bilevel, none/G4/PackBits strips) in
    one pass, the crawl shape where a media column mixes formats: (id…, format, n_frames, width, height,
    n_channels, pixel_sum, pixel_min, pixel_max, status). Unknown
    magics and malformed payloads degrade to ``status='error:…'`` rows
    with NULL stats; decode is per-row CPU inside Arrow batches, zero
    shuffle. ``max_pixels`` bounds hostile dimension claims before any
    allocation (and bounds the PNG unfilter's Python walk)."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.dibcodec import BMP_MAGIC, decode_bmp  # noqa: PLC0415
    from ..kernel.gifcodec import GIF_MAGICS, decode_gif  # noqa: PLC0415
    from ..kernel.jpegcodec import decode_jpeg  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, decode_png  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("n_frames", IntegerType(), True),
        ]
        + DECODE_STATS_SCHEMA_TAIL
    )
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType), f.nullable)
        for f in out_schema.fields
    ]
    arrow_schema = pa.schema(arrow_fields)
    src = df.select(*id_cols, media_col)
    n_id = len(id_cols)

    # r8: mapInArrow instead of mapInPandas — the pandas round trip
    # (Series construction + per-cell access + DataFrame assembly) cost
    # more than the small-image decodes themselves
    def run(batches):
        for rb in batches:
            id_vals = [rb.column(j).to_pylist() for j in range(n_id)]
            media_list = rb.column(n_id).to_pylist()
            out: dict[str, list] = {f.name: [] for f in out_schema.fields[n_id:]}
            for data in media_list:
                if data is None:
                    data = b""
                fmt = None
                try:
                    if data.startswith(PNG_SIGNATURE):
                        fmt = "png"
                        img = decode_png(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:2] == b"\xff\xd8":
                        fmt = "jpeg"
                        img = decode_jpeg(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:6] in GIF_MAGICS:
                        fmt = "gif"
                        gif = decode_gif(data, max_pixels=max_pixels)
                        w, h, nc, nf = gif.width, gif.height, 3, gif.n_frames
                        s = mn = mx = None
                        for fr in gif.frames:  # stats span ALL frames
                            px = fr.planes  # r8: exact without the int64 copy
                            s = (s or 0) + int(px.sum(dtype=np.int64))
                            fmn, fmx = int(px.min()), int(px.max())
                            mn = fmn if mn is None else min(mn, fmn)
                            mx = fmx if mx is None else max(mx, fmx)
                        stats = (s, mn, mx)
                    elif data[:2] == BMP_MAGIC:
                        fmt = "bmp"
                        img = decode_bmp(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:4] in (b"II*\x00", b"MM\x00*"):
                        from ..kernel.tiffcodec import decode_tiff  # noqa: PLC0415

                        fmt = "tiff"
                        img = decode_tiff(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    else:
                        raise ValueError("unknown image format")
                    out["format"].append(fmt)
                    out["n_frames"].append(nf)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_channels"].append(nc)
                    out["pixel_sum"].append(stats[0])
                    out["pixel_min"].append(stats[1])
                    out["pixel_max"].append(stats[2])
                    out["status"].append("ok")
                except ValueError as e:  # Jpeg/Png/GifError subclass it
                    out["format"].append(fmt)
                    out["n_frames"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["pixel_sum"].append(None)
                    out["pixel_min"].append(None)
                    out["pixel_max"].append(None)
                    out["status"].append(f"error:{e}")
            arrays = [
                pa.array(id_vals[j], type=arrow_fields[j].type) for j in range(n_id)
            ] + [
                pa.array(out[f.name], type=arrow_fields[n_id + k].type)
                for k, f in enumerate(out_schema.fields[n_id:])
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(run, schema=out_schema)


AUDIO_STATS_SCHEMA_TAIL = [
    StructField("n_channels", IntegerType(), True),
    StructField("sample_rate", IntegerType(), True),
    StructField("bits", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("sample_sum", LongType(), True),
    StructField("sample_min", IntegerType(), True),
    StructField("sample_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def decode_audio_stats(
    df: DataFrame,
    media_col: str = "wav",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_frames: int = 1 << 24,
) -> DataFrame:
    """REAL PCM decode over a binary WAV column → per-clip facts and
    sample statistics: (id…, n_channels, sample_rate, bits, n_frames,
    duration_ms, sample_sum, sample_min, sample_max, status). PCM is
    lossless so deterministic corpora oracle bit-exactly (q73);
    malformed or non-PCM payloads degrade to ``status='error:…'`` rows
    with NULL stats. Per-row CPU inside Arrow batches, zero shuffle;
    ``max_frames`` bounds hostile length claims before allocation."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.wavcodec import WavError, decode_wav  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + AUDIO_STATS_SCHEMA_TAIL)

    def row(*vals):
        *ids, data = vals
        try:
            clip = decode_wav(data or b"", max_frames=max_frames)
        except WavError as e:
            yield (*ids, *[None] * 8, f"error:{e}")
            return
        s = clip.samples  # r8: sum(dtype=int64) exact, no copy
        yield (
            *ids, clip.n_channels, clip.sample_rate, clip.bits, clip.n_frames,
            clip.duration_ms, int(s.sum(dtype=np.int64)), int(s.min()), int(s.max()), "ok",
        )

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def render_avi_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """AVI writer twin: (id, n) → (id, img_idx, avi:binary)."""
    from ..sources.videogen import build_avi  # noqa: PLC0415

    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: ((did, k, build_avi(did, k)) for k in range(n)),
        _render_schema(id_col, "avi"),
    )


VIDEO_STATS_SCHEMA_TAIL = [
    StructField("n_frames", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("pixel_sum", LongType(), True),
    StructField("pixel_min", IntegerType(), True),
    StructField("pixel_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def _avi_stats(data: bytes, max_pixels: int, max_frames: int) -> tuple:
    """One clip's ``VIDEO_STATS_SCHEMA_TAIL`` values: pixel statistics
    span EVERY frame; an ``AviError`` becomes NULL stats and an
    ``error:…`` status."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    try:
        clip = decode_avi(data, max_pixels=max_pixels, max_frames=max_frames)
    except AviError as e:
        return (*[None] * 7, f"error:{e}")
    s = mn = mx = None
    for px in clip.frames:  # r8: exact without the int64 copy
        s = (s or 0) + int(px.sum(dtype=np.int64))
        fmn, fmx = int(px.min()), int(px.max())
        mn = fmn if mn is None else min(mn, fmn)
        mx = fmx if mx is None else max(mx, fmx)
    return clip.n_frames, clip.width, clip.height, clip.duration_ms, s, mn, mx, "ok"


def decode_video_stats(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """REAL video decode over a binary AVI column → per-clip facts and
    pixel statistics spanning EVERY frame: (id…, n_frames, width,
    height, duration_ms, pixel_sum, pixel_min, pixel_max, status).
    Uncompressed BI_RGB is lossless so deterministic corpora oracle
    bit-exactly (q77); compressed/malformed payloads degrade to
    ``status='error:…'`` rows with NULL stats — the straggler/poison
    budget, same policy as the image tier. Per-row CPU inside Arrow
    batches, zero shuffle; ``max_pixels``/``max_frames`` bound hostile
    claims before allocation."""
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + VIDEO_STATS_SCHEMA_TAIL)
    return map_rows(
        df.select(*id_cols, media_col),
        lambda *v: [(*v[:-1], *_avi_stats(v[-1] or b"", max_pixels, max_frames))],
        out_schema,
    )


def render_decode_video_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    n_col: str = "n_clips",
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Fused ``render_avi_column`` ∘ ``decode_video_stats`` (optimization
    r8, guide §2.3/§8: don't round-trip heavy bytes through the JVM when
    the decision needs only their stats). Row-for-row identical to the
    two-stage composition — every clip is still fully ENCODED by the
    writer twin and DECODED back through the real codec inside the same
    Python worker — but the multi-KB AVI payloads never cross the
    Arrow boundary: only (id, img_idx) in and the fixed-width stats
    out. The un-fused operators remain the production pipeline surface
    (real corpora arrive as stored bytes); this is the roundtrip-bench
    shape."""
    from ..sources.videogen import build_avi  # noqa: PLC0415

    id_field = df.schema[id_col]
    out_schema = StructType(
        [id_field, StructField("img_idx", IntegerType(), False)]
        + VIDEO_STATS_SCHEMA_TAIL
    )
    return map_rows(
        df.select(id_col, n_col),
        lambda did, n: [
            (did, k, *_avi_stats(build_avi(did, k), max_pixels, max_frames))
            for k in range(n)
        ],
        out_schema,
    )


def demux_audio_stats(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
    max_samples: int = 1 << 24,
) -> DataFrame:
    """Demux the PCM audio track out of a binary AVI column → per-clip
    audio facts: (id…, audio_rate, n_channels, n_samples, sample_sum,
    sample_min, sample_max, status). PCM is lossless so deterministic
    corpora oracle bit-exactly (q79); clips with NO audio stream yield
    ``status='no_audio'`` with NULL stats, malformed payloads degrade
    to ``error:*`` rows. Per-row CPU inside Arrow batches, zero
    shuffle — the A/V-separation stage of a crawl media pipeline,
    on the ``skip_frames`` fast path: video chunks are never
    JPEG/DIB-decoded, only headers and '01wb' audio chunks."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("audio_rate", IntegerType(), True),
            StructField("n_channels", IntegerType(), True),
            StructField("n_samples", IntegerType(), True),
            StructField("sample_sum", LongType(), True),
            StructField("sample_min", IntegerType(), True),
            StructField("sample_max", IntegerType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def row(*vals):
        *ids, data = vals
        try:
            clip = decode_avi(
                data or b"", max_pixels=max_pixels, max_samples=max_samples,
                skip_frames=True,
            )
        except AviError as e:
            yield (*ids, *[None] * 6, f"error:{e}")
            return
        px = clip.audio_samples  # r8: sum(dtype=int64) exact
        if px is None:
            yield (*ids, *[None] * 6, "no_audio")
            return
        yield (
            *ids, clip.audio_rate, clip.audio_channels, len(px),
            int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()), "ok",
        )

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def perceptual_hash_videos(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Decode a binary AVI column → temporal perceptual signature:
    (id…, codec, n_frames, vhash, status). ``vhash`` is the frame-order
    concatenation of each decoded frame's 64-bit dHash as 16 hex chars
    (dhash_planes — invariant to per-pixel affine transforms AND to
    the wire codec, since MJPG here is bit-exact on block-constant
    content), so re-encodes of the same clip collide across
    DIB/MJPG/brightness/color-cast/scale renditions while any frame-
    content or frame-count change splits. Per-row CPU inside Arrow
    batches, zero shuffle; malformed payloads degrade to error rows."""
    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("codec", StringType(), True),
            StructField("n_frames", IntegerType(), True),
            StructField("vhash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def row(*vals):
        *ids, data = vals
        try:
            clip = decode_avi(data or b"", max_pixels=max_pixels, max_frames=max_frames)
        except AviError as e:
            yield (*ids, *[None] * 3, f"error:{e}")
            return
        vhash = "".join(f"{dhash_planes(fr):016x}" for fr in clip.frames)
        yield (*ids, clip.codec, clip.n_frames, vhash, "ok")

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def dhash_video_frames(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id",),
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Decode a binary AVI column → one row PER FRAME with its 64-bit
    dHash: (id…, frame_idx, fhash, status). The frame-level fingerprint
    table behind cross-modal near-dup joins (q80: "which standalone
    crawl images are frames of known videos?") — downstream joins carry
    only 16-hex-char keys, never pixels. A malformed clip degrades to a
    single error row with NULL frame_idx/fhash."""
    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("frame_idx", IntegerType(), True),
            StructField("fhash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def row(*vals):
        *ids, data = vals
        try:
            clip = decode_avi(data or b"", max_pixels=max_pixels, max_frames=max_frames)
        except AviError as e:
            yield (*ids, None, None, f"error:{e}")
            return
        for f_idx, fr in enumerate(clip.frames):
            yield (*ids, f_idx, f"{dhash_planes(fr):016x}", "ok")

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


EXIF_SCHEMA_TAIL = [
    StructField("make", StringType(), True),
    StructField("model", StringType(), True),
    StructField("orientation", IntegerType(), True),
    StructField("taken_at", StringType(), True),
    StructField("exposure", StringType(), True),
    StructField("iso", IntegerType(), True),
    StructField("pixel_x", IntegerType(), True),
    StructField("pixel_y", IntegerType(), True),
    StructField("status", StringType(), False),
]


def extract_exif(
    df: DataFrame,
    media_col: str = "jpeg",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
) -> DataFrame:
    """Camera metadata off a binary JPEG column — the APP1 'Exif'
    segment's TIFF IFDs walked by kernel/tiffcodec.py (IFD0: make,
    model, orientation, DateTime; 0x8769 sub-IFD: ExposureTime as the
    exact 'num/den' wire rational, ISO, PixelX/YDimension):
    (id…, make, model, orientation, taken_at, exposure, iso, pixel_x,
    pixel_y, status). JPEGs WITHOUT an EXIF segment yield
    ``status='no_exif'`` rows (the key never vanishes); non-JPEG or
    malformed payloads degrade to ``error:*``. Per-row CPU inside
    Arrow batches, zero shuffle — the image-metadata stage of a crawl
    pipeline (orientation fixing, timestamp dedup, camera stats)."""
    from ..kernel.tiffcodec import TiffError, exif_from_jpeg  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + EXIF_SCHEMA_TAIL)
    # exif key → the python type its column holds, in EXIF_SCHEMA_TAIL order
    fields = (
        ("make", str), ("model", str), ("orientation", int), ("datetime", str),
        ("exposure", str), ("iso", int), ("pixel_x", int), ("pixel_y", int),
    )

    def row(*vals):
        *ids, data = vals
        try:
            exif = exif_from_jpeg(data or b"")
        except TiffError as e:
            yield (*ids, *[None] * 8, f"error:{e}")
            return
        if exif is None:
            yield (*ids, *[None] * 8, "no_exif")
            return
        # hostile wire TYPES (a RATIONAL orientation, a SHORT
        # ExposureTime) must not poison the Arrow batch: enforce the
        # schema per value
        vs = [exif.get(k) for k, _ in fields]
        yield (*ids, *[v if isinstance(v, t) else None for v, (_, t) in zip(vs, fields)], "ok")

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def parse_caption_cues(
    df: DataFrame,
    media_col: str = "vtt",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
) -> DataFrame:
    """Parse a binary caption column — format-SNIFFED WebVTT or SubRip
    over one column, the mixed-crawl shape — into one row per cue:
    (id…, format, cue_idx, cue_id, start_ms, end_ms, settings, text,
    status). The caption leg of the multimodal tier
    (kernel/vttparse.py): timed text is a first-class training signal
    — caption↔video alignment, ASR ground truth, multilingual pairs.
    Files in neither format degrade to one ``error:*`` row, cue-less
    valid files to one ``empty`` row (the key never vanishes);
    malformed individual cues are skipped inside the parsers
    (player behavior). Per-row CPU inside Arrow batches, zero
    shuffle."""
    from ..kernel.vttparse import (  # noqa: PLC0415
        VttError,
        parse_srt,
        parse_vtt,
        sniff_captions,
    )

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("cue_idx", IntegerType(), True),
            StructField("cue_id", StringType(), True),
            StructField("start_ms", IntegerType(), True),
            StructField("end_ms", IntegerType(), True),
            StructField("settings", StringType(), True),
            StructField("text", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def row(*vals):
        *ids, data = vals
        data = data or b""
        fmt = sniff_captions(data)
        try:
            cues = (parse_srt if fmt == "srt" else parse_vtt)(data)
        except VttError as e:
            yield (*ids, *[None] * 7, f"error:{e}")
            return
        if not cues:  # valid but cue-less: ONE row so the (id…) key never vanishes
            yield (*ids, fmt, *[None] * 6, "empty")
            return
        for idx, cue in enumerate(cues):
            yield (
                *ids, fmt, idx, cue.cue_id, cue.start_ms, cue.end_ms,
                cue.settings, cue.text, "ok",
            )

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def avi_frame_sampler(data: bytes, n: int):
    """REAL frame sampler for ``sample_frames`` — decodes the AVI and
    returns ``n`` evenly-spaced frames re-encoded as lossless PNGs
    with their true timestamps (module-level so Spark can pickle it).
    The env-blocked ffmpeg integration point is no longer the only
    video path: uncompressed AVI samples for real."""
    from ..kernel.avicodec import decode_avi  # noqa: PLC0415
    from ..kernel.pngcodec import encode_png  # noqa: PLC0415

    if n <= 0:
        return []
    clip = decode_avi(data)
    picks = (
        [i * (clip.n_frames - 1) // (n - 1) for i in range(n)]
        if n > 1
        else [0]
    )
    # timestamp from the exact rational (p * 1000 * scale / rate) — a
    # pre-rounded per-frame duration would drift linearly with p
    return [
        (p * 1000 * clip.scale // clip.rate, encode_png(clip.frames[p]))
        for p in picks
    ]


def dhash_planes(planes) -> int:
    """64-bit difference hash (dHash) of decoded pixels — the
    perceptual fingerprint behind cross-format image dedup (q76).

    Luma is the integer CHANNEL SUM (any per-pixel affine transform of
    the samples — uniform brightness shift, channel color cast, a
    gray palette's 3x expansion — preserves every comparison below, so
    re-encodes of the same picture across PNG/JPEG/GIF/BMP collide by
    construction). The 9x8 sample grid averages an equal-size ``s x s``
    window anchored at ``(r*h//8, c*w//9)`` — equal areas keep the
    affine invariance exact (a constant offset adds ``b*s*s`` to every
    cell), integer sums keep it deterministic. Bit ``i = 8*r + c`` is
    ``cell(r,c) > cell(r,c+1)`` packed MSB-first."""
    import numpy as np  # noqa: PLC0415

    luma = planes.astype(np.int64)
    if luma.ndim == 3:
        luma = luma.sum(axis=2)
    h, w = luma.shape
    s = max(min(h // 8, w // 9), 1)
    cells = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        y0 = min(r * h // 8, h - s) if h >= s else 0
        for c in range(9):
            x0 = min(c * w // 9, w - s) if w >= s else 0
            cells[r, c] = int(luma[y0 : y0 + s, x0 : x0 + s].sum())
    bits = cells[:, :8] > cells[:, 1:]
    out = 0
    for d in bits.reshape(-1):
        out = (out << 1) | int(d)
    return out


def perceptual_hash_images(
    df: DataFrame,
    media_col: str = "img",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
) -> DataFrame:
    """Format-sniffing decode → 64-bit dHash over a binary image
    column: (id…, format, phash, status). ``phash`` is the 16-hex-char
    fingerprint (string — sidesteps signed-64 pitfalls in SQL mirrors
    and sorts lexicographically = numerically); GIF hashes its FIRST
    frame (the poster frame). Unknown magics / malformed payloads
    degrade to ``status='error:…'`` with NULL hash. Per-row CPU inside
    Arrow batches, zero shuffle — the grouping that turns fingerprints
    into duplicate clusters is ONE hash aggregation downstream."""
    from ..kernel.dibcodec import BMP_MAGIC, decode_bmp  # noqa: PLC0415
    from ..kernel.gifcodec import GIF_MAGICS, decode_gif  # noqa: PLC0415
    from ..kernel.jpegcodec import decode_jpeg  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, decode_png  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("phash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def row(*vals):
        *ids, data = vals
        data = data or b""
        fmt = None
        try:
            if data.startswith(PNG_SIGNATURE):
                fmt = "png"
                planes = decode_png(data, max_pixels=max_pixels).planes
            elif data[:2] == b"\xff\xd8":
                fmt = "jpeg"
                planes = decode_jpeg(data, max_pixels=max_pixels).planes
            elif data[:6] in GIF_MAGICS:
                fmt = "gif"
                planes = decode_gif(data, max_pixels=max_pixels).frames[0].planes
            elif data[:2] == BMP_MAGIC:
                fmt = "bmp"
                planes = decode_bmp(data, max_pixels=max_pixels).planes
            else:
                raise ValueError("unknown image format")
            phash = f"{dhash_planes(planes):016x}"
        except ValueError as e:  # all codec errors subclass it
            yield (*ids, fmt, None, f"error:{e}")
            return
        yield (*ids, fmt, phash, "ok")

    return map_rows(df.select(*id_cols, media_col), row, out_schema)


def media_dedup_exact(features: DataFrame) -> DataFrame:
    """Exact media dedup on content hash (same shape as text dedup)."""
    return (
        features.groupBy("content_hash")
        .agg(F.min("media_id").alias("rep_media_id"), F.count("*").alias("n_copies"))
        .orderBy("rep_media_id")
    )
