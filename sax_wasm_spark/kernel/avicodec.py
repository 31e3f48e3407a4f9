"""AVI video codec — from-scratch encode + decode of RIFF/AVI in two
'vids' stream shapes: uncompressed 'DIB ' (BI_RGB 24-bit bottom-up
frames in ``00db`` movi chunks) and Motion-JPEG 'MJPG' (each ``00dc``
chunk a standalone baseline JPEG through kernel/jpegcodec.py),
completing the multimodal tier's video leg for REAL: true frame count,
dimensions, frame rate and duration, plus decoded pixels for every
frame — so frame sampling (operators/multimodal.sample_frames's real
sampler) and per-clip pixel statistics (q77) run on decoded video, not
stubs.

The uncompressed frame payload layout (bottom-up BGR rows padded to 4
bytes) is the BMP pixel section — kernel/dibcodec.py's pack/unpack
helpers are the single source of truth for both containers; the MJPG
leg reuses the from-scratch T.81 codec, so the flat-8x8-block corpus
closed forms hold bit-exactly across BOTH codecs (all-ones quant,
RGB-passthrough APP14). External video libraries (ffmpeg/PyAV) are
absent in this environment; inter-frame codecs (H.264 etc.) raise
typed errors naming the handler — the designed degradation, same
policy as the image tier. The reference repo has no
media surface at all (sax-wasm is an XML tokenizer,
``/root/reference/src/sax/parser.rs:1``); this tier belongs to the
assignment's multimodal/training-data scope.

Design constraints, same policy as the other codecs:

- **Per-row CPU work, zero shuffle** — operators run it inside
  mapInArrow batches; nothing here touches Spark.
- **Hostile-input budget**: claimed dimensions and frame counts are
  validated against ``max_pixels`` / ``max_frames`` and the actual
  payload size BEFORE any allocation; every malformed structure raises
  a typed ``AviError`` so poison payloads degrade to
  ``status='error:*'`` rows.
- **Exactness**: BI_RGB is uncompressed — decode is bit-exact, so
  closed-form frame corpora (sources/videogen.py) oracle directly.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .dibcodec import dib_row_stride, pack_dib_rows, unpack_dib_rows
from .jpegcodec import JpegError, decode_jpeg_rgb, encode_jpeg

_MJPG = 0x47504A4D  # biCompression fourcc 'MJPG' little-endian


class AviError(ValueError):
    """Typed failure for malformed/unsupported AVI payloads — callers
    map it to an ``error:*`` status row, never a crash or straggler."""


_AVIH = struct.Struct("<14I")  # MainAVIHeader (56 bytes)
_STRH = struct.Struct("<4s4sIHHIIIIIIiI4H")  # AVIStreamHeader (56 bytes)
_BMIH = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER (40 bytes)
_WFX = struct.Struct("<HHIIHH")  # WAVEFORMATEX core (16 bytes)


@dataclass
class AviClip:
    """Decoded frames plus the stream facts a pipeline routes on."""

    frames: list  # [(h, w, 3) uint8 RGB]
    width: int
    height: int
    n_frames: int
    rate: int  # frames-per-second numerator (dwRate)
    scale: int  # denominator (dwScale): fps = rate / scale
    codec: str = "dib"  # wire codec: 'dib' (BI_RGB) or 'mjpg'
    audio_samples: "np.ndarray | None" = None  # int16 (n, ch), demuxed
    audio_rate: int = 0  # samples/sec; 0 = no audio stream
    audio_channels: int = 0

    @property
    def duration_ms(self) -> int:
        return self.n_frames * 1000 * self.scale // self.rate


def _chunks(data: bytes, start: int, end: int):
    """Walk RIFF chunks in data[start:end] → (fourcc, body_start,
    body_size); tolerates the odd-size pad byte."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise AviError(f"chunk {fourcc!r} overruns container")
        yield fourcc, body, size
        pos = body + size + (size & 1)


def decode_avi(
    data: bytes,
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
    max_samples: int = 1 << 24,
    max_total_pixels: int = 1 << 26,
    skip_frames: bool = False,
) -> AviClip:
    """Decode a BI_RGB ('DIB ') or Motion-JPEG AVI → RGB frames (+ the
    demuxed PCM audio track when present). Typed ``AviError`` for
    inter-frame codecs, missing headers, hostile dimensions, or
    truncated frames. ``max_total_pixels`` bounds the SUM of decoded
    frame pixels (per-frame ``max_pixels`` alone would let a small
    MJPG wire payload expand to gigabytes across ``max_frames``
    frames). ``skip_frames=True`` demuxes headers + audio only —
    ``frames`` comes back empty (the audio-extraction fast path:
    no JPEG/DIB work)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise AviError("not an AVI (missing RIFF/AVI magic)")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(8 + riff_size, len(data))

    width = height = None
    rate = scale = None
    bits = compression = None
    total_frames = None
    top_down = False
    a_fmt = a_channels = a_rate = a_bits = None
    cur_stream = None  # fccType of the most recent strh: strf pairs to it
    frames: list[np.ndarray] = []

    def walk_list(start: int, stop: int):
        nonlocal width, height, rate, scale, bits, compression, total_frames
        nonlocal a_fmt, a_channels, a_rate, a_bits, cur_stream, top_down
        for fourcc, body, size in _chunks(data, start, stop):
            if fourcc == b"LIST":
                walk_list(body + 4, body + size)  # skip the list type tag
            elif fourcc == b"avih":
                if size < _AVIH.size:
                    raise AviError("avih truncated")
                fields = _AVIH.unpack_from(data, body)
                total_frames = fields[4]
            elif fourcc == b"strh":
                if size < 48:
                    raise AviError("strh truncated")
                cur_stream = data[body : body + 4]
                # first video stream wins — a second vids strh must not
                # overwrite the timing the first stream's strf pairs to
                if cur_stream == b"vids" and rate is None:
                    d_scale, d_rate = struct.unpack_from("<II", data, body + 20)
                    scale, rate = d_scale or 1, d_rate or 1
            elif fourcc == b"strf" and cur_stream == b"vids" and bits is None:
                if size < _BMIH.size:
                    raise AviError("strf truncated")
                (
                    _hsz, w, h, _planes, bbits, comp,
                    _isz, _xp, _yp, _ncol, _nimp,
                ) = _BMIH.unpack_from(data, body)
                width, height, bits, compression = w, abs(h), bbits, comp
                top_down = h < 0  # negative biHeight = rows stored top-first
            elif fourcc == b"strf" and cur_stream == b"auds" and a_fmt is None:
                if size < _WFX.size:
                    raise AviError("audio strf truncated")
                a_fmt, a_channels, a_rate, _abps, _balign, a_bits = (
                    _WFX.unpack_from(data, body)
                )

    # header pass: everything before/after movi except frame chunks
    movi_spans: list[tuple[int, int]] = []
    for fourcc, body, size in _chunks(data, 12, end):
        if fourcc == b"LIST" and data[body : body + 4] == b"movi":
            movi_spans.append((body + 4, body + size))
        elif fourcc == b"LIST":
            walk_list(body + 4, body + size)
        elif fourcc in (b"avih", b"strh", b"strf"):
            walk_list(body - 8, body + size)
    if width is None or bits is None:
        raise AviError("missing strf video format header")
    if rate is None:
        raise AviError("missing vids stream header")
    if compression not in (0, _MJPG):
        tag = struct.pack("<I", compression)
        raise AviError(f"unsupported compression {tag!r} (BI_RGB/MJPG only)")
    if compression == 0 and bits != 24:
        raise AviError(f"unsupported bit depth {bits} (24-bit only)")
    if width <= 0 or height <= 0:
        raise AviError(f"bad dimensions {width}x{height}")
    if width * height > max_pixels:
        raise AviError(f"{width}x{height} exceeds max_pixels={max_pixels}")
    if a_fmt is not None:
        if a_fmt != 1:
            raise AviError(f"unsupported audio format tag {a_fmt} (PCM only)")
        if a_bits != 16:
            raise AviError(f"unsupported audio bit depth {a_bits} (16 only)")
        if not (1 <= a_channels <= 8) or a_rate <= 0:
            raise AviError(f"bad audio shape {a_channels}ch @ {a_rate} Hz")
    if not movi_spans:
        raise AviError("missing movi list")

    frame_bytes = dib_row_stride(width, 24) * height
    audio_parts: list[bytes] = []
    audio_bytes = 0
    for span_start, span_end in movi_spans:
        for fourcc, body, size in _chunks(data, span_start, span_end):
            if fourcc[2:4] == b"wb":
                if a_fmt is None:
                    raise AviError("audio chunk without an auds stream header")
                audio_bytes += size
                if audio_bytes > 2 * max_samples * a_channels:
                    raise AviError(
                        f"audio exceeds max_samples={max_samples} budget"
                    )
                audio_parts.append(data[body : body + size])
                continue
            if fourcc[2:4] in (b"db", b"dc"):
                if skip_frames:
                    continue
                if len(frames) >= max_frames:
                    raise AviError(f"more than max_frames={max_frames} frames")
                if (len(frames) + 1) * width * height > max_total_pixels:
                    raise AviError(
                        f"decoded frames exceed max_total_pixels="
                        f"{max_total_pixels}"
                    )
                if compression == _MJPG:
                    # Motion-JPEG: each chunk body is a standalone
                    # baseline JPEG (no inter-frame state by design —
                    # the seekable/parallel-decode property MJPG is
                    # chosen for); strf still declares the geometry,
                    # so a frame that decodes to different dimensions
                    # is a typed structural error, not silent skew.
                    try:
                        img = decode_jpeg_rgb(
                            data[body : body + size], max_pixels=max_pixels
                        )
                    except JpegError as e:
                        raise AviError(f"frame {len(frames)}: {e}") from e
                    if (img.width, img.height) != (width, height):
                        raise AviError(
                            f"frame {len(frames)} is {img.width}x{img.height},"
                            f" strf declares {width}x{height}"
                        )
                    planes = img.planes
                    if planes.shape[2] == 1:  # gray MJPG → RGB contract
                        planes = np.repeat(planes, 3, axis=2)
                    frames.append(planes)
                    continue
                if size < frame_bytes:
                    raise AviError(
                        f"frame {len(frames)} truncated: {size} < {frame_bytes}"
                    )
                fr = unpack_dib_rows(data[body : body + size], width, height)
                # negative biHeight = top-down row order: unpack_dib_rows
                # assumes the (default) bottom-up layout, so flip back
                frames.append(fr[::-1] if top_down else fr)
    if not frames and not skip_frames:
        raise AviError("no video frames in movi")
    if (
        not skip_frames
        and total_frames is not None
        and total_frames != len(frames)
    ):
        raise AviError(
            f"avih declares {total_frames} frames, movi has {len(frames)}"
        )
    audio = None
    if a_fmt is not None:
        blob = b"".join(audio_parts)
        block = 2 * a_channels  # 16-bit PCM sample frame
        if len(blob) % block:
            raise AviError(
                f"audio stream length {len(blob)} not a multiple of the"
                f" {block}-byte sample frame"
            )
        audio = (
            np.frombuffer(blob, dtype="<i2")
            .reshape(-1, a_channels)
            .astype(np.int16)
        )
    return AviClip(
        frames, width, height, len(frames), rate, scale,
        "mjpg" if compression == _MJPG else "dib",
        audio, a_rate or 0, a_channels or 0,
    )


def encode_avi(
    frames: list[np.ndarray],
    rate: int = 1000,
    scale: int = 40,
    codec: str = "DIB",
    audio: "tuple[np.ndarray, int] | None" = None,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB frames as a minimal AVI — the writer
    twin. ``fps = rate / scale``; every frame must share one geometry.
    ``codec``: ``"DIB"`` (uncompressed BI_RGB) or ``"MJPG"`` (each
    frame a standalone baseline JPEG, RGB-passthrough Adobe APP14 with
    all-ones quantization, so flat-8x8-block corpora stay bit-exact —
    the videogen closed forms hold across BOTH codecs). ``audio``:
    optional ``(samples, sample_rate)`` — int16 ``(n,)`` or ``(n, ch)``
    PCM written as a second 'auds' stream, its '01wb' chunks
    interleaved one per video frame (the real multiplexed layout)."""
    if codec not in ("DIB", "MJPG"):
        raise AviError(f"unsupported encode codec {codec!r}")
    if not frames:
        raise AviError("need at least one frame")
    first = np.asarray(frames[0], dtype=np.uint8)
    if first.ndim != 3 or first.shape[2] != 3:
        raise AviError("frames must be (h, w, 3) RGB")
    h, w = first.shape[:2]
    payloads = []
    for f in frames:
        f = np.asarray(f, dtype=np.uint8)
        if f.shape != first.shape:
            raise AviError("all frames must share one geometry")
        if codec == "MJPG":
            payloads.append(encode_jpeg(f, adobe_transform=0))
        else:
            payloads.append(pack_dib_rows(f))
    frame_bytes = max(len(p) for p in payloads)
    usec_per_frame = 1_000_000 * scale // rate

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    n_streams = 1
    audio_strl = b""
    audio_chunks: list[bytes] = []
    if audio is not None:
        samples, a_rate = audio
        samples = np.asarray(samples, dtype=np.int16)
        if samples.ndim == 1:
            samples = samples[:, None]
        if samples.ndim != 2 or not (1 <= samples.shape[1] <= 8):
            raise AviError("audio samples must be (n,) or (n, ch<=8) int16")
        if a_rate <= 0:
            raise AviError("audio sample_rate must be positive")
        n_streams = 2
        a_ch = samples.shape[1]
        block = 2 * a_ch
        a_strh = _STRH.pack(
            b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, a_rate, 0,
            len(samples), block * a_rate, -1, block, 0, 0, 0, 0,
        )
        a_strf = _WFX.pack(1, a_ch, a_rate, block * a_rate, block, 16)
        audio_strl = lst(b"strl", chunk(b"strh", a_strh) + chunk(b"strf", a_strf))
        # interleave: split the sample frames evenly across video frames
        n = len(frames)
        raw = samples.astype("<i2").tobytes()
        for i in range(n):
            lo = len(samples) * i // n * block
            hi = len(samples) * (i + 1) // n * block
            audio_chunks.append(raw[lo:hi])

    avih = _AVIH.pack(
        usec_per_frame, frame_bytes * rate // scale, 0, 0,
        len(frames), 0, n_streams, frame_bytes, w, h, 0, 0, 0, 0,
    )
    handler = b"MJPG" if codec == "MJPG" else b"DIB "
    strh = _STRH.pack(
        b"vids", handler, 0, 0, 0, 0, scale, rate, 0,
        len(frames), frame_bytes, -1, 0, 0, 0, w, h,
    )
    strf = _BMIH.pack(
        _BMIH.size, w, h, 1, 24,
        _MJPG if codec == "MJPG" else 0,
        frame_bytes, 2835, 2835, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
        + audio_strl,
    )
    frame_cc = b"00dc" if codec == "MJPG" else b"00db"
    movi_body = b"".join(
        chunk(frame_cc, p)
        + (chunk(b"01wb", audio_chunks[i]) if audio_chunks else b"")
        for i, p in enumerate(payloads)
    )
    movi = lst(b"movi", movi_body)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
