"""WAV (RIFF/WAVE PCM) codec — from-scratch encode + decode.

The multimodal tier's AUDIO leg made real: linear-PCM WAV needs no
external codec (ffmpeg/torchaudio are absent in this environment), so
decode here is a RIFF chunk walk + sample reinterpretation — true
duration, channel count, rate, and per-sample statistics, not a stub.
The reference repo has no audio surface (sax-wasm is an XML tokenizer,
``/root/reference/src/sax/parser.rs:1``); this tier belongs to the
assignment's multimodal/training-data scope.

Same policy as the JPEG/PNG codecs (kernel/jpegcodec.py, pngcodec.py):

- **Per-row CPU work, zero shuffle** — operators run it inside
  mapInArrow batches.
- **Hostile-input budget**: frame counts are capped before any
  allocation (``max_frames``), chunk walks are bounds-checked, and
  every malformed structure raises a typed ``WavError`` so poison
  payloads degrade to ``status='error:*'`` rows.
- **Exactness**: PCM is lossless — closed-form sample corpora oracle
  directly (q73).

Scope: RIFF/WAVE with PCM (format 1) at 8-bit unsigned or 16-bit
signed little-endian; IEEE-float (format 3), ADPCM, and extensible
(0xFFFE) raise typed errors naming the format. Unknown chunks (LIST,
fact, bext, …) are skipped per spec; odd-sized chunks honor the RIFF
pad byte.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np


class WavError(ValueError):
    """Typed failure for malformed/unsupported WAV payloads — callers
    map it to an ``error:*`` status row, never a crash or straggler."""


@dataclass
class WavClip:
    """Decoded PCM samples plus the stream facts a pipeline routes on.
    ``samples`` is int32 (n_frames, n_channels) — 8-bit unsigned wire
    samples are re-centered to signed (-128..127) so statistics are
    comparable across depths."""

    samples: np.ndarray
    n_channels: int
    sample_rate: int
    bits: int
    n_frames: int

    @property
    def duration_ms(self) -> int:
        return self.n_frames * 1000 // self.sample_rate


def decode_wav(data: bytes, max_frames: int = 1 << 24) -> WavClip:
    """Decode a PCM WAV to an int32 sample array.

    ``max_frames`` bounds hostile length claims before any allocation
    (the straggler budget; error rows, not OOM)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("not a WAV (missing RIFF/WAVE)")
    pos = 12
    n = len(data)
    fmt = None
    pcm = None
    while pos + 8 <= n:
        cid, clen = struct.unpack("<4sI", data[pos : pos + 8])
        if clen > n - pos - 8:
            raise WavError(f"chunk {cid!r} length exceeds file")
        body = data[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # RIFF pad byte on odd sizes
        if cid == b"fmt ":
            if len(body) < 16:
                raise WavError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
            if fmt is not None:
                break  # fmt before data is the overwhelmingly common order
    if fmt is None:
        raise WavError("missing fmt chunk")
    if pcm is None:
        raise WavError("missing data chunk")
    audio_format, n_ch, rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise WavError(f"audio format {audio_format} unsupported (PCM only)")
    if n_ch == 0 or rate == 0:
        raise WavError("zero channels or sample rate")
    if bits not in (8, 16):
        raise WavError(f"bit depth {bits} unsupported (8/16 only)")
    bpf = n_ch * (bits // 8)
    if block_align not in (0, bpf):
        raise WavError("block align disagrees with channels*depth")
    n_frames = len(pcm) // bpf
    if n_frames > max_frames:
        raise WavError(f"{n_frames} frames exceeds budget {max_frames}")
    usable = n_frames * bpf
    if bits == 8:
        arr = np.frombuffer(pcm, dtype=np.uint8, count=usable).astype(np.int32) - 128
    else:
        arr = np.frombuffer(pcm, dtype="<i2", count=usable // 2).astype(np.int32)
    return WavClip(arr.reshape(n_frames, n_ch), n_ch, rate, bits, n_frames)


def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """Encode (n_frames, n_channels) int samples to PCM WAV — the
    writer twin. 16-bit takes signed values (clipped to int16 range);
    8-bit takes signed values in -128..127 (stored unsigned per the
    wire format, the decoder re-centers)."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s.reshape(-1, 1)
    if s.ndim != 2 or s.shape[0] == 0 or s.shape[1] == 0:
        raise WavError("samples must be (n_frames, n_channels)")
    if bits not in (8, 16):
        raise WavError("bits must be 8 or 16")
    if sample_rate <= 0:
        raise WavError("sample rate must be positive")
    n_frames, n_ch = s.shape
    if bits == 8:
        pcm = (np.clip(s, -128, 127) + 128).astype(np.uint8).tobytes()
    else:
        pcm = np.clip(s, -32768, 32767).astype("<i2").tobytes()
    bpf = n_ch * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, sample_rate * bpf, bpf, bits)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
        + (b"\x00" if len(pcm) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
