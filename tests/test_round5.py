"""Semantic checks for the round-5 batch (a0001–a0005) on hand-built
fixtures — independent of the oracle-parity sweep, which proves
Spark ≡ DuckDB but not that both compute the INTENDED numbers."""

from __future__ import annotations

import pytest

from one_stop_cdc_ingestion_toolkit_spark.operators.dedup import (
    CL_MIN_SHARED,
    a0003_crosslang_dups,
    a0004_phash_dedup,
    a0005_kmv_overlap,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import (
    FRAME_BYTES,
    FRAME_STEP,
    PNG_H,
    PNG_W,
    RESIZE_FACTOR,
    a0001_image_resize,
    a0002_frame_sample,
)

pytestmark = pytest.mark.usefixtures("spark")


def _docs_dir(spark, tmp_path, rows):
    path = str(tmp_path / "fix")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")
    return path


def test_image_resize_keeps_even_pixels(spark, tmp_path):
    # Text where char at byte index j has code 32 + j % 64: the kept
    # pixels are exactly those at even (x, y), so the expected sum is
    # hand-computable without running either engine's SQL.
    n_bytes = PNG_W * PNG_H * 3
    text = "".join(chr(32 + (j % 64)) for j in range(n_bytes))
    rows = [(1, text, "en", "s", 0)]
    out = a0001_image_resize(spark, _docs_dir(spark, tmp_path, rows)).collect()
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
    out = a0002_frame_sample(spark, _docs_dir(spark, tmp_path, rows)).collect()
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    assert (r["n_frames"], r["n_sampled"]) == (7, 3)
    assert r["frame_sum"] == 3 * FRAME_BYTES * ord("A")
    assert FRAME_STEP == 3


def test_phash_groups_same_raster(spark, tmp_path):
    # Docs 1/2 share their first 96 chars (identical raster -> same
    # aHash, one group of 2); doc 3's raster has a different bit
    # pattern; doc 4 is uniform (hash 0) but alone, so no group.
    n = PNG_W * PNG_H * 3
    img_a = "".join(chr(32 + (j % 64)) for j in range(n))
    img_b = "".join(chr(32 + ((j * 7) % 59)) for j in range(n))
    rows = [
        (1, img_a + " tail one", "en", "s", 0),
        (2, img_a + " different tail", "de", "s", 0),
        (3, img_b, "en", "s", 0),
        (4, "Q" * n, "en", "s", 0),
    ]
    out = a0004_phash_dedup(spark, _docs_dir(spark, tmp_path, rows)).collect()
    assert len(out) == 1
    assert (out[0]["n_docs"], out[0]["min_doc"]) == (2, 1)


def test_kmv_overlap_extremes(spark, tmp_path):
    # srcA and srcB hold identical text (jaccard 1.0 exactly, estimate
    # exact because the sets fit the sketch); srcC is disjoint (0.0).
    ta = " ".join(f"t{i}" for i in range(30))
    tc = " ".join(f"u{i}" for i in range(30))
    rows = [
        (1, ta, "en", "srcA", 0),
        (2, ta, "en", "srcB", 0),
        (3, tc, "en", "srcC", 0),
    ]
    out = {
        (r["src_a"], r["src_b"]): r
        for r in a0005_kmv_overlap(spark, _docs_dir(spark, tmp_path, rows)).collect()
    }
    ab = out[("srcA", "srcB")]
    assert (ab["j_est"], ab["j_exact"], ab["ok"]) == (1.0, 1.0, True)
    ac = out[("srcA", "srcC")]
    assert (ac["j_est"], ac["j_exact"], ac["ok"]) == (0.0, 0.0, True)
    assert len(out) == 3


def test_crosslang_excludes_same_lang_pairs(spark, tmp_path):
    # Docs 1/2 are identical text with DIFFERENT langs (must pair);
    # docs 3/4 identical text with the SAME lang (must not appear);
    # doc 5 shares nothing.
    dup = " ".join(f"t{i}" for i in range(CL_MIN_SHARED + 3))
    other = " ".join(f"u{i}" for i in range(CL_MIN_SHARED + 3))
    rows = [
        (1, dup, "en", "s", 0),
        (2, dup, "de", "s", 0),
        (3, other, "fr", "s", 0),
        (4, other, "fr", "s", 0),
        (5, "x y z a b c d e f", "zh", "s", 0),
    ]
    out = a0003_crosslang_dups(spark, _docs_dir(spark, tmp_path, rows)).collect()
    assert [(r["lang_lo"], r["lang_hi"], r["n_pairs"]) for r in out] == [
        ("de", "en", 1)
    ]
    # 8 words -> 6 distinct 3-word shingles shared
    assert out[0]["max_shared"] == CL_MIN_SHARED + 1


def test_round5_oracles_survive_whitespace_and_case(spark, tmp_path):
    """Lock in the split/lower conventions (code-review finding): the
    a0003/a0005 oracles must hash-match Spark on text with tabs,
    double spaces, and mixed case — not only on the single-space
    lowercase fixture."""
    import duckdb

    import __spark_entry__ as entry_mod
    from one_stop_cdc_ingestion_toolkit_spark.oracle import compare

    dup = "Alpha  Beta\tGamma delta EPSILON zeta eta theta"
    rows = [
        (1, dup, "en", "srcA", 0),
        (2, dup.lower(), "de", "srcB", 0),
        (3, "other  words\tentirely distinct here now ok fine", "fr", "srcA", 0),
    ]
    d = _docs_dir(spark, tmp_path, rows)
    con = duckdb.connect()
    # Spark writes a directory of part files; DuckDB needs the glob
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracles = entry_mod.oracle_sql()
    for name, fn in [
        ("a0003_crosslang_dups", a0003_crosslang_dups),
        ("a0005_kmv_overlap", a0005_kmv_overlap),
    ]:
        sdf = fn(spark, d)
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracles[name])
        problems = compare(
            sdf.columns, srows, [c[0] for c in res.description], res.fetchall()
        )
        assert not problems, f"{name}: {problems}"
    # the mixed-case duplicate pair must actually be FOUND cross-lang
    out = a0003_crosslang_dups(spark, d).collect()
    assert [(r["lang_lo"], r["lang_hi"], r["n_pairs"]) for r in out] == [
        ("de", "en", 1)
    ]


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
