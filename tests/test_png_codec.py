"""PNG codec (stdlib-only) and its nearest-neighbor resize.

The decoder is proven against a hand-built golden PNG (constructed with
raw struct/zlib in the test — independent of our encoder), the encoder
by encode→decode round-trips across every channel count and all five
scanline filter types.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from one_stop_cdc_ingestion_toolkit_spark.functions.png_codec import (
    PNG_SIGNATURE,
    PngImage,
    decode_png,
    encode_png,
    is_png,
    resize_nearest,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _golden_png() -> bytes:
    """2x2 RGB, filter 0 rows, built with raw stdlib calls only:
    (255,0,0) (0,255,0) / (0,0,255) (255,255,255)."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = bytes([0, 255, 0, 0, 0, 255, 0]) + bytes([0, 0, 0, 255, 255, 255, 255])
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_decode_golden_pixels():
    img = decode_png(_golden_png())
    assert (img.width, img.height, img.channels) == (2, 2, 3)
    assert img.pixel(0, 0) == (255, 0, 0)
    assert img.pixel(1, 0) == (0, 255, 0)
    assert img.pixel(0, 1) == (0, 0, 255)
    assert img.pixel(1, 1) == (255, 255, 255)


def test_is_png():
    assert is_png(_golden_png())
    assert not is_png(b"JFIF not a png")
    assert not is_png(b"")


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_all_filters(channels, filter_type):
    """encode(filter f) → decode must reproduce pixels exactly — this is
    what proves each unfilter branch against its filter counterpart."""
    w, h = 5, 4
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * channels))
    payload = encode_png(pixels, w, h, channels, filter_type=filter_type)
    img = decode_png(payload)
    assert (img.width, img.height, img.channels) == (w, h, channels)
    assert img.pixels == pixels


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 8),
    h=st.integers(1, 8),
    channels=st.sampled_from([1, 2, 3, 4]),
    filter_type=st.integers(0, 4),
    data=st.data(),
)
def test_roundtrip_property(w, h, channels, filter_type, data):
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * channels,
                max_size=w * h * channels,
            )
        )
    )
    img = decode_png(encode_png(pixels, w, h, channels, filter_type=filter_type))
    assert img.pixels == pixels


def test_encode_deterministic():
    pixels = bytes(range(0, 48))
    assert encode_png(pixels, 4, 4, 3) == encode_png(pixels, 4, 4, 3)


def test_decode_rejects_bad_inputs():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    # 16-bit depth
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    p16 = PNG_SIGNATURE + _chunk(b"IHDR", ihdr16) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(p16)
    # palette color type
    ihdr_pal = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    ppal = PNG_SIGNATURE + _chunk(b"IHDR", ihdr_pal) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="color type"):
        decode_png(ppal)
    # interlaced
    ihdr_il = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 1)
    pil_ = PNG_SIGNATURE + _chunk(b"IHDR", ihdr_il) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(pil_)
    # truncated: signature + half a chunk header then nothing
    with pytest.raises(ValueError):
        decode_png(PNG_SIGNATURE + b"\x00\x00\x00\x0dIHDR\x00")
    # inflated size mismatch (claims 2x2 but carries 1 row)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    short = zlib.compress(bytes([0, 1, 2, 3, 4, 5, 6]))
    bad = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", short)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(bad)


def test_malformed_ihdr_raises_valueerror():
    """struct/zlib internals must never leak — the contract is ValueError."""
    bad_ihdr = PNG_SIGNATURE + _chunk(b"IHDR", b"\x00" * 5) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="malformed IHDR"):
        decode_png(bad_ihdr)
    # corrupt deflate stream
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    garbage = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", b"\xff\xfe\xfd not deflate")
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="deflate"):
        decode_png(garbage)
    # no IDAT at all (zlib.decompress(b'') used to raise zlib.error)
    no_idat = PNG_SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(no_idat)


def test_decompression_bomb_bounded():
    """A tiny-IHDR / huge-inflating-IDAT payload must be rejected without
    materializing the full inflated output."""
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)  # 1x1 gray → 2 bytes
    bomb_raw = b"\x00" * (64 * 1024 * 1024)  # 64 MiB of zeros, ~64 KiB deflated
    payload = (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bomb_raw))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(payload)


def test_resize_nearest_exact():
    img = decode_png(_golden_png())
    up = resize_nearest(img, 4, 4)
    # 2x block replication: dst pixel (x,y) maps to src (x*2//4, y*2//4)
    for y in range(4):
        for x in range(4):
            assert up.pixel(x, y) == img.pixel(x // 2, y // 2)
    down = resize_nearest(up, 2, 2)
    assert down.pixels == img.pixels
    one = resize_nearest(img, 1, 1)
    assert one.pixel(0, 0) == img.pixel(0, 0)

