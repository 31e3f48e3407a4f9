"""BMP / DIB codec — from-scratch encode + decode of the Windows
device-independent-bitmap pixel layout (bottom-up rows, BGR sample
order, rows padded to 4-byte boundaries) shared by two containers:

- **BMP files** (``BM`` magic + BITMAPFILEHEADER + BITMAPINFOHEADER) —
  the fourth image format in the sniffing decode tier
  (operators/multimodal.decode_image_stats), still common for
  screenshots and legacy assets in web crawls;
- **uncompressed AVI video frames** (kernel/avicodec.py's ``00db``
  chunks carry exactly this layout minus the headers) — the packing /
  unpacking helpers here are the single source of truth for both.

External image libraries (Pillow) are absent in this environment; the
reference repo has no image surface at all (sax-wasm is an XML
tokenizer, ``/root/reference/src/sax/parser.rs:1``) — this tier belongs
to the assignment's multimodal/training-data scope.

Design constraints, same policy as the PNG/JPEG codecs:

- **Per-row CPU work, zero shuffle** — operators run it inside
  mapInArrow batches; nothing here touches Spark.
- **Hostile-input budget**: claimed dimensions are validated against
  ``max_pixels`` AND the actual payload size BEFORE any allocation;
  every malformed structure raises a typed ``BmpError`` so poison
  payloads degrade to ``status='error:*'`` rows.
- **Exactness**: BI_RGB is uncompressed — every decode is bit-exact,
  so closed-form pixel corpora oracle directly (q76/q77).

Scope: BI_RGB 24-bit truecolor and 8-bit palette sections, bottom-up
(positive height). RLE compression, 16/32-bit masks, top-down rows and
V4/V5 header extensions raise typed errors naming the feature — the
designed degradation for rare shapes.
"""

from __future__ import annotations

import struct

import numpy as np


class BmpError(ValueError):
    """Typed failure for malformed/unsupported BMP payloads — callers
    map it to an ``error:*`` status row, never a crash or straggler."""


BMP_MAGIC = b"BM"

_FILE_HEADER = struct.Struct("<2sIHHI")  # magic, file size, res, res, data offset
_INFO_HEADER = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER (40 bytes)


def dib_row_stride(width: int, bits: int) -> int:
    """Bytes per stored row: samples padded up to a 4-byte boundary."""
    return (width * bits // 8 + 3) & ~3


def pack_dib_rows(planes: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → bottom-up BGR rows, 4-byte padded — the
    exact payload of a 24-bit BI_RGB BMP pixel section or an AVI
    ``00db`` frame chunk."""
    h, w = planes.shape[:2]
    stride = dib_row_stride(w, 24)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : 3 * w] = planes[::-1, :, ::-1].reshape(h, 3 * w)
    return rows.tobytes()


def unpack_dib_rows(
    data: bytes, width: int, height: int, bits: int = 24
) -> np.ndarray:
    """Bottom-up padded DIB rows → (h, w, samples) uint8 (BGR→RGB for
    24-bit; raw indices with shape (h, w, 1) for 8-bit). Validates the
    payload length BEFORE reshaping."""
    stride = dib_row_stride(width, bits)
    need = stride * height
    if len(data) < need:
        raise BmpError(
            f"pixel section truncated: need {need} bytes, have {len(data)}"
        )
    rows = np.frombuffer(data, dtype=np.uint8, count=need).reshape(height, stride)
    if bits == 24:
        px = rows[:, : 3 * width].reshape(height, width, 3)
        return px[::-1, :, ::-1]
    px = rows[:, :width].reshape(height, width, 1)
    return px[::-1]


def encode_bmp(planes: np.ndarray, palette: np.ndarray | None = None) -> bytes:
    """Encode pixels as a minimal BITMAPINFOHEADER BMP — the writer
    twin. ``planes`` is (h, w, 3) uint8 RGB for 24-bit, or (h, w)
    uint8 palette indices with a (n, 3) RGB ``palette`` for 8-bit."""
    planes = np.asarray(planes, dtype=np.uint8)
    if palette is not None:
        if planes.ndim != 2:
            raise BmpError("palette BMP needs (h, w) index array")
        pal = np.asarray(palette, dtype=np.uint8)
        if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
            raise BmpError("palette must be (n, 3), 1<=n<=256")
        h, w = planes.shape
        bits, n_colors = 8, len(pal)
        # palette entries are BGRA quads
        pal_bytes = np.zeros((n_colors, 4), dtype=np.uint8)
        pal_bytes[:, :3] = pal[:, ::-1]
        stride = dib_row_stride(w, 8)
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w] = planes[::-1]
        pixels = rows.tobytes()
        colors_blob = pal_bytes.tobytes()
    else:
        if planes.ndim != 3 or planes.shape[2] != 3:
            raise BmpError("truecolor BMP needs (h, w, 3) RGB array")
        h, w = planes.shape[:2]
        bits, n_colors = 24, 0
        pixels = pack_dib_rows(planes)
        colors_blob = b""
    offset = _FILE_HEADER.size + _INFO_HEADER.size + len(colors_blob)
    header = _FILE_HEADER.pack(BMP_MAGIC, offset + len(pixels), 0, 0, offset)
    info = _INFO_HEADER.pack(
        _INFO_HEADER.size, w, h, 1, bits, 0, len(pixels), 2835, 2835, n_colors, 0
    )
    return header + info + colors_blob + pixels


class BmpImage:
    """Decoded pixels (palette already expanded to RGB) plus the facts
    a pipeline routes on — mirrors PngImage's surface."""

    __slots__ = ("planes", "width", "height", "n_components", "bits")

    def __init__(self, planes, width, height, n_components, bits):
        self.planes = planes
        self.width = width
        self.height = height
        self.n_components = n_components
        self.bits = bits


def decode_bmp(data: bytes, max_pixels: int = 1 << 22) -> BmpImage:
    """Decode a BI_RGB BMP (24-bit truecolor or 8-bit palette,
    bottom-up) → RGB planes. Typed ``BmpError`` on anything else."""
    if len(data) < _FILE_HEADER.size + _INFO_HEADER.size:
        raise BmpError("header truncated")
    magic, _fsize, _r1, _r2, offset = _FILE_HEADER.unpack_from(data, 0)
    if magic != BMP_MAGIC:
        raise BmpError("not a BMP (missing BM magic)")
    (
        hdr_size,
        width,
        height,
        planes_n,
        bits,
        compression,
        _img_size,
        _xppm,
        _yppm,
        n_colors,
        _important,
    ) = _INFO_HEADER.unpack_from(data, _FILE_HEADER.size)
    if hdr_size < _INFO_HEADER.size:
        raise BmpError(f"unsupported DIB header size {hdr_size}")
    if planes_n != 1:
        raise BmpError(f"planes must be 1, got {planes_n}")
    if compression != 0:
        raise BmpError(f"unsupported compression {compression} (BI_RGB only)")
    if height <= 0:
        raise BmpError("top-down BMP unsupported (height must be positive)")
    if bits not in (8, 24):
        raise BmpError(f"unsupported bit depth {bits} (8/24 only)")
    if width <= 0:
        raise BmpError(f"bad width {width}")
    if width * height > max_pixels:
        raise BmpError(f"{width}x{height} exceeds max_pixels={max_pixels}")
    if offset > len(data):
        raise BmpError("pixel data offset past end of file")
    px = unpack_dib_rows(data[offset:], width, height, bits)
    if bits == 8:
        pal_off = _FILE_HEADER.size + hdr_size
        n = n_colors or 256
        if pal_off + 4 * n > len(data):
            raise BmpError("palette truncated")
        quads = np.frombuffer(
            data, dtype=np.uint8, count=4 * n, offset=pal_off
        ).reshape(n, 4)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= n:
            raise BmpError("palette index out of range")
        rgb = quads[:, 2::-1][idx] if n else idx
        return BmpImage(rgb, width, height, 3, 8)
    return BmpImage(px, width, height, 3, 24)
