"""Dependency-free WAV (RIFF/PCM) codec — stdlib ``struct`` + numpy.

Companion to ``png_codec.py`` for the audio modality: PCM WAV needs no
third-party codec, so audio payloads in a binary column can be parsed
(sample rate / channels / bit depth / duration), decoded to sample
arrays for real inside the executor's Arrow batch (a049's windowed
RMS energy). Scope: canonical RIFF little-endian, uncompressed PCM
(format tag 1), 8-bit unsigned or 16-bit signed samples, any channel
count. Anything else raises ``ValueError`` so callers fall back
explicitly rather than mis-decode.

Everything is deterministic: encode uses a fixed header layout, decode
is exact integer work — so a retried task reproduces its rows
bit-for-bit.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_PCM_TAG = 1


@dataclass(frozen=True)
class WavAudio:
    """Decoded PCM audio: ``samples`` is (n_frames, channels) int32
    (sign-corrected — 8-bit unsigned is re-centered to signed)."""

    sample_rate: int
    channels: int
    bits: int
    samples: np.ndarray

    @property
    def n_frames(self) -> int:
        return int(self.samples.shape[0])

    @property
    def duration_ms(self) -> int:
        """Whole milliseconds, floor — integer math only."""
        return self.n_frames * 1000 // self.sample_rate


def is_wav(payload: bytes) -> bool:
    p = bytes(payload[:12])
    return len(p) == 12 and p[:4] == b"RIFF" and p[8:12] == b"WAVE"


def _iter_chunks(payload: bytes):
    pos = 12
    n = len(payload)
    while pos + 8 <= n:
        ctype = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("wav: truncated chunk")
        yield ctype, data
        pos += 8 + length + (length & 1)  # chunks are word-aligned


def decode_wav(payload: bytes) -> WavAudio:
    """Parse + decode a PCM WAV into a (frames, channels) int32 array."""
    payload = bytes(payload)
    if not is_wav(payload):
        raise ValueError("wav: bad RIFF/WAVE signature")
    fmt = None
    data = None
    for ctype, chunk in _iter_chunks(payload):
        if ctype == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("wav: short fmt chunk")
            tag, channels, rate, _byterate, _align, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if tag != _PCM_TAG:
                raise ValueError(f"wav: unsupported format tag {tag} (PCM only)")
            if bits not in (8, 16):
                raise ValueError(f"wav: unsupported bit depth {bits}")
            if channels == 0 or rate == 0:
                raise ValueError("wav: zero channels or sample rate")
            fmt = (channels, rate, bits)
        elif ctype == b"data":
            data = chunk
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    channels, rate, bits = fmt
    width = bits // 8
    frame_bytes = width * channels
    n_frames = len(data) // frame_bytes
    data = data[: n_frames * frame_bytes]  # drop a ragged tail byte
    if bits == 16:
        arr = np.frombuffer(data, dtype="<i2").astype(np.int32)
    else:  # 8-bit WAV is unsigned; center to signed
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    return WavAudio(rate, channels, bits, arr.reshape(n_frames, channels))


def encode_wav(
    samples: np.ndarray, sample_rate: int, bits: int = 16
) -> bytes:
    """Serialize a (frames, channels) integer array to canonical PCM WAV
    bytes — fixed header layout, deterministic."""
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    if samples.ndim != 2:
        raise ValueError("wav: samples must be (frames, channels)")
    if bits not in (8, 16):
        raise ValueError(f"wav: unsupported bit depth {bits}")
    if sample_rate <= 0:
        raise ValueError("wav: sample rate must be positive")
    n_frames, channels = samples.shape
    lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
    if samples.size and (samples.min() < lo or samples.max() > hi):
        # astype would wrap modularly — silent corruption, so refuse
        raise ValueError(f"wav: sample out of {bits}-bit range [{lo}, {hi}]")
    if bits == 16:
        body = samples.astype("<i2").tobytes()
    else:
        body = (samples.astype(np.int32) + 128).astype(np.uint8).tobytes()
    width = bits // 8
    align = width * channels
    fmt = struct.pack(
        "<HHIIHH", _PCM_TAG, channels, sample_rate, sample_rate * align, align, bits
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

