"""Semantic checks for operators/multimodal.py on hand-built fixtures:
image resize (a0001) and frame sampling (a0002), including the Y4M
container over a binary column."""

from __future__ import annotations

from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import (
    FRAME_BYTES,
    FRAME_STEP,
    PNG_H,
    PNG_W,
    RESIZE_FACTOR,
    a0001_image_resize,
    a0002_frame_sample,
)
from tests.conftest import docs_dir


def test_image_resize_keeps_even_pixels(spark, tmp_path):
    # Text where char at byte index j has code 32 + j % 64: the kept
    # pixels are exactly those at even (x, y), so the expected sum is
    # hand-computable without running either engine's SQL.
    n_bytes = PNG_W * PNG_H * 3
    text = "".join(chr(32 + (j % 64)) for j in range(n_bytes))
    rows = [(1, text, "en", "s", 0)]
    out = a0001_image_resize(spark, docs_dir(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["out_w"], r["out_h"]) == (
        PNG_W // RESIZE_FACTOR,
        PNG_H // RESIZE_FACTOR,
    )
    expect = sum(
        32 + (((py * PNG_W + px) * 3 + c) % 64)
        for py in range(0, PNG_H, RESIZE_FACTOR)
        for px in range(0, PNG_W, RESIZE_FACTOR)
        for c in range(3)
    )
    assert r["pix_sum"] == expect


def test_frame_sample_stride_math(spark, tmp_path):
    # 7 C444 frames of FRAME_BYTES 'A' chars (+ a tail remainder that
    # must be dropped): sampled frames 0, 3, 6 -> 3 frames, each
    # contributing all three 32-byte planes -> sum = 3*96*65.
    text = "A" * (7 * FRAME_BYTES + 5)
    short = "B" * (FRAME_BYTES - 1)  # under one frame: excluded
    rows = [(1, text, "en", "s", 0), (2, short, "en", "s", 0)]
    out = a0002_frame_sample(spark, docs_dir(spark, tmp_path, rows)).collect()
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    assert (r["n_frames"], r["n_sampled"]) == (7, 3)
    assert r["frame_sum"] == 3 * FRAME_BYTES * ord("A")
    assert FRAME_STEP == 3


def test_frame_container_over_binary_column(spark, tmp_path):
    """Substantiate a0002's scale claim: the same Y4M mux/decode runs
    over a real parquet `binary` column (the production arrival shape),
    not only text-derived bytes — and malformed streams are rejected."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import (
        pack_frame_container,
        sample_frames,
    )

    payloads = {
        1: bytes((j % 251) for j in range(7 * FRAME_BYTES + 5)),
        2: bytes((j * 3 % 256) for j in range(2 * FRAME_BYTES)),
    }
    rows = [(k, bytearray(pack_frame_container(v))) for k, v in payloads.items()]
    path = str(tmp_path / "vids")
    spark.createDataFrame(rows, "doc_id long, video binary").write.parquet(path)

    import pandas as pd

    def demux(it):
        for pdf in it:
            out = []
            for i, blob in zip(pdf["doc_id"], pdf["video"]):
                frames = sample_frames(bytes(blob))
                out.append(
                    (
                        int(i),
                        len(frames),
                        sum(sum(p) for f in frames for p in f),
                    )
                )
            yield pd.DataFrame(out, columns=["doc_id", "n_sampled", "frame_sum"])

    got = {
        r["doc_id"]: (r["n_sampled"], r["frame_sum"])
        for r in spark.read.parquet(path)
        .mapInPandas(demux, "doc_id long, n_sampled long, frame_sum long")
        .collect()
    }
    for k, v in payloads.items():
        frames = sample_frames(pack_frame_container(v))
        assert got[k] == (
            len(frames),
            sum(sum(p) for f in frames for p in f),
        )
    # doc 1: 7 frames -> frames 0,3,6 sampled; doc 2: 2 frames -> frame 0
    assert got[1][0] == 3 and got[2][0] == 1
    # the mux is a REAL Y4M stream, C444-tagged
    header = pack_frame_container(payloads[1]).split(b"\n", 1)[0]
    assert header.startswith(b"YUV4MPEG2") and b"C444" in header

    # malformed streams must be rejected, not silently mis-sampled
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        sample_frames(pack_frame_container(payloads[1])[:-3])
    with _pytest.raises(ValueError, match="magic"):
        sample_frames(b"\x00\x00")  # not a Y4M stream at all
