"""GIF codec (GIF87a/89a) — from-scratch LZW encode + decode.

Third real image format for the multimodal tier (after
kernel/jpegcodec.py and pngcodec.py): a full GIF decoder — header +
logical screen descriptor, global/local color tables, graphic-control /
comment / application extension skip, multi-frame image descriptors,
Adam-less row interlace (the GIF four-pass scheme), and the variable-
width LZW variant GIF uses (LSB-first bit packing, clear/EOI codes,
table growth to 12 bits — note this is NOT the PDF/TIFF LZW in
kernel/pdftext.py, which packs MSB-first and grows one code early) —
plus an encoder twin so deterministic corpora round-trip without any
external codec. The reference repo has no image surface (sax-wasm is
an XML tokenizer, ``/root/reference/src/sax/parser.rs:1``); this tier
belongs to the assignment's multimodal/training-data scope.

Same policy as the sibling codecs:

- **Per-row CPU work, zero shuffle** — operators run it inside
  mapInArrow batches.
- **Hostile-input budget**: total decoded pixels across frames are
  capped (``max_pixels``) before allocation, LZW output is bounded by
  the frame's own pixel count (a looping code table cannot blow up
  memory), and every malformed structure raises a typed ``GifError``.
- **Exactness**: GIF is lossless (palette-indexed) — closed-form index
  corpora oracle directly (q74).

Scope: 8-bit color tables, no transparency compositing (frames are
decoded independently, each against its own palette — disposal methods
don't apply to per-frame statistics). Sub-8-bit color tables work (they
are just shorter palettes).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np


class GifError(ValueError):
    """Typed failure for malformed/unsupported GIF payloads — callers
    map it to an ``error:*`` status row, never a crash or straggler."""


GIF_MAGICS = (b"GIF87a", b"GIF89a")

# GIF interlace passes: (start row, step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@dataclass
class GifFrame:
    """One decoded frame: RGB pixels (palette applied) plus placement."""

    planes: np.ndarray  # uint8 (h, w, 3)
    left: int
    top: int
    width: int
    height: int
    interlaced: bool


@dataclass
class GifImage:
    """Decoded GIF: logical screen + every frame."""

    frames: list[GifFrame]
    width: int  # logical screen
    height: int
    n_frames: int


def _lzw_decode(min_code_size: int, data: bytes, max_out: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, clear = 2**mcs,
    EOI = clear+1, width grows AFTER the table fills 2**width (GIF is
    the late-change variant), 12-bit cap. Output bounded by
    ``max_out`` (the frame's own pixel count)."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    # table entries as (prefix_index, last_byte); roots are (-1, byte)
    prefix = [-1] * 4096
    suffix = bytearray(4096)
    for i in range(clear):
        suffix[i] = i
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    prev = -1
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)

    def expand(code: int) -> bytes:
        chunk = bytearray()
        c = code
        while c >= 0:
            chunk.append(suffix[c])
            c = prefix[c]
        chunk.reverse()
        return bytes(chunk)

    while True:
        while nbits < width:
            if pos >= n:
                raise GifError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            next_code = eoi + 1
            width = min_code_size + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise GifError("LZW first code not a root")
            out.append(code)
            prev = code
            continue
        if code < next_code:
            entry = expand(code)
        elif code == next_code:
            entry = expand(prev) + expand(prev)[:1]  # KwKwK case
        else:
            raise GifError("LZW code out of range")
        out += entry
        if len(out) > max_out:
            raise GifError("LZW output exceeds frame pixel count")
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = entry[0]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    if len(out) < max_out:
        raise GifError(f"LZW output {len(out)} short of frame {max_out}")
    return bytes(out)


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    n = len(data)
    while True:
        if pos >= n:
            raise GifError("sub-blocks truncated")
        size = data[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise GifError("sub-block overruns file")
        out += data[pos : pos + size]
        pos += size


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def decode_gif(data: bytes, max_pixels: int = 1 << 22) -> GifImage:
    """Decode every frame of a GIF to RGB pixels.

    ``max_pixels`` bounds the TOTAL decoded pixels across frames before
    any allocation (the straggler budget; error rows, not OOM)."""
    if len(data) < 13 or data[:6] not in GIF_MAGICS:
        raise GifError("not a GIF (missing GIF87a/GIF89a)")
    sw, sh, flags, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    n = len(data)
    global_pal: np.ndarray | None = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        if pos + 3 * size > n:
            raise GifError("global color table truncated")
        global_pal = (
            np.frombuffer(data, np.uint8, 3 * size, pos).reshape(size, 3).copy()
        )
        pos += 3 * size
    frames: list[GifFrame] = []
    budget = max_pixels
    ended = False
    while pos < n:
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            ended = True
            break
        if block == 0x21:  # extension: label + sub-blocks, all skipped
            if pos >= n:
                raise GifError("extension truncated")
            pos += 1
            _, pos = _read_subblocks(data, pos)
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02x}")
        if pos + 9 > n:
            raise GifError("image descriptor truncated")
        left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if w == 0 or h == 0:
            raise GifError("zero frame dimension")
        if w * h > budget:
            raise GifError(f"frames exceed pixel budget {max_pixels}")
        budget -= w * h
        pal = global_pal
        if iflags & 0x80:
            size = 2 << (iflags & 0x07)
            if pos + 3 * size > n:
                raise GifError("local color table truncated")
            pal = np.frombuffer(data, np.uint8, 3 * size, pos).reshape(size, 3).copy()
            pos += 3 * size
        if pal is None:
            raise GifError("frame without any color table")
        if pos >= n:
            raise GifError("missing LZW min code size")
        mcs = data[pos]
        pos += 1
        blob, pos = _read_subblocks(data, pos)
        idx = np.frombuffer(_lzw_decode(mcs, blob, w * h), np.uint8)
        if int(idx.max(initial=0)) >= len(pal):
            raise GifError("palette index out of range")
        rows = idx.reshape(h, w)
        interlaced = bool(iflags & 0x40)
        if interlaced:
            rows = _deinterlace(rows)
        frames.append(GifFrame(pal[rows], left, top, w, h, interlaced))
    if not ended:
        raise GifError("missing trailer")
    if not frames:
        raise GifError("no image data")
    return GifImage(frames, sw, sh, len(frames))


def _lzw_encode(min_code_size: int, idx: bytes) -> bytes:
    """GIF-variant LZW encode (dict-based, emits a leading clear and a
    trailing EOI, resets on table overflow) — the decoder's exact twin."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for b in idx:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    width: int | None = None,
    height: int | None = None,
    interlace_odd_frames: bool = False,
) -> bytes:
    """Encode (h,w) palette-index frames against one global ``palette``
    ((n,3) uint8, n a power of two ≥ 2) — the writer twin. All frames
    are placed at (0,0); with ``interlace_odd_frames`` every odd frame
    is written in the four-pass interlaced row order (the decoder must
    undo it, proving the deinterlacer against the same closed forms)."""
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= len(pal) <= 256:
        raise GifError("palette must be (n,3), 2<=n<=256")
    if len(pal) & (len(pal) - 1):
        raise GifError("palette size must be a power of two")
    if not frames:
        raise GifError("need at least one frame")
    pal_bits = max(len(pal).bit_length() - 1, 1)
    h0, w0 = frames[0].shape
    sw = width if width is not None else w0
    sh = height if height is not None else h0
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | (pal_bits - 1), 0, 0)
    out += pal.tobytes()
    mcs = max(pal_bits, 2)
    for f, frame in enumerate(frames):
        idx = np.asarray(frame, dtype=np.uint8)
        if idx.ndim != 2:
            raise GifError("frames must be (h,w) palette indices")
        if int(idx.max(initial=0)) >= len(pal):
            raise GifError("palette index out of range")
        h, w = idx.shape
        interlaced = interlace_odd_frames and f % 2 == 1
        out += struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
        )
        rows = idx
        if interlaced:
            order = [
                y for start, step in _INTERLACE_PASSES for y in range(start, h, step)
            ]
            rows = idx[order]
        out.append(mcs)
        blob = _lzw_encode(mcs, rows.tobytes())
        for i in range(0, len(blob), 255):
            chunk = blob[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
