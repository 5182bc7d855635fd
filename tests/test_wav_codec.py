"""WAV codec (stdlib-only).

Decoder proven against a hand-built golden WAV (raw struct bytes,
independent of our encoder), encoder by round-trips across bit depths
and channel counts (incl. hypothesis).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from one_stop_cdc_ingestion_toolkit_spark.functions.wav_codec import (
    decode_wav,
    encode_wav,
    is_wav,
)


def _golden_wav() -> bytes:
    """1 kHz rate, mono 16-bit, 4 frames [100, -100, 200, -200] —
    built with raw struct calls only."""
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
    body = struct.pack("<4h", 100, -100, 200, -200)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_golden():
    a = decode_wav(_golden_wav())
    assert (a.sample_rate, a.channels, a.bits, a.n_frames) == (1000, 1, 16, 4)
    assert a.duration_ms == 4
    assert a.samples[:, 0].tolist() == [100, -100, 200, -200]


def test_is_wav():
    assert is_wav(_golden_wav())
    assert not is_wav(b"RIFFxxxxAVI ")
    assert not is_wav(b"")


@pytest.mark.parametrize("bits", [8, 16])
@pytest.mark.parametrize("channels", [1, 2])
def test_roundtrip(bits, channels):
    lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
    rng = np.array(
        [[(i * 37 + c * 11) % (hi - lo) + lo for c in range(channels)] for i in range(50)]
    )
    a = decode_wav(encode_wav(rng, 8000, bits=bits))
    assert (a.sample_rate, a.channels, a.bits) == (8000, channels, bits)
    assert np.array_equal(a.samples, rng)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 40),
    channels=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
    data=st.data(),
)
def test_roundtrip_property(n, channels, rate, data):
    vals = data.draw(
        st.lists(
            st.integers(-32768, 32767), min_size=n * channels, max_size=n * channels
        )
    )
    arr = np.array(vals).reshape(n, channels)
    a = decode_wav(encode_wav(arr, rate))
    assert np.array_equal(a.samples, arr)
    assert a.duration_ms == n * 1000 // rate


def test_odd_data_chunk_padding_roundtrip():
    """8-bit mono with an odd byte count exercises the RIFF pad byte."""
    arr = np.array([[1], [2], [3]])
    a = decode_wav(encode_wav(arr, 1000, bits=8))
    assert np.array_equal(a.samples, arr)


def test_decode_rejects_bad_inputs():
    with pytest.raises(ValueError, match="signature"):
        decode_wav(b"not audio")
    # non-PCM format tag
    fmt = struct.pack("<HHIIHH", 3, 1, 1000, 4000, 4, 32)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(ValueError, match="format tag"):
        decode_wav(bad)
    # missing data chunk
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 2000, 2, 16)
    nod = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with pytest.raises(ValueError, match="missing fmt or data"):
        decode_wav(nod)
    # truncated chunk
    trunc = _golden_wav()[:-3]
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(trunc)


def test_encode_rejects_out_of_range_samples():
    """astype would wrap modularly — must refuse instead of corrupting."""
    with pytest.raises(ValueError, match="out of 16-bit range"):
        encode_wav(np.array([[40000]]), 8000)
    with pytest.raises(ValueError, match="out of 8-bit range"):
        encode_wav(np.array([[200]]), 8000, bits=8)
