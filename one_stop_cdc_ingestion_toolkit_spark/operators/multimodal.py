"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, and the decoded-pixel verbs over them:
image resize (a0001), YUV4MPEG2 frame sampling (a0002) and frame luma
(a0008).

Payloads are decoded for real by the stdlib-only codecs in
``functions/`` (PNG, WAV, YUV4MPEG2) inside ``mapInPandas``/
``applyInPandas`` batches, so a blob scan never materializes more than
one Arrow batch per task at a time. Metadata (byte length + md5 digest,
:func:`blob_metadata`) is computed JVM-side with the ``octet_length`` /
``md5`` built-ins — whole-stage codegen, no Python round-trip over the
payload bytes — and is oracle-checkable against DuckDB.

At scale, blobs should live in parquet with a small row-group size (or as
object-store pointers); the operators below only touch bytes inside the
executor-local Arrow batch — no driver collect, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from one_stop_cdc_ingestion_toolkit_spark.catalog import tables
from one_stop_cdc_ingestion_toolkit_spark.operators import register


def blob_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, byte_len, digest) computed entirely JVM-side.

    ``octet_length`` + ``md5`` are codegen built-ins: the payload bytes
    never cross into Python, which at 100 TB is the difference between a
    pure scan-project stage and shipping every blob through Arrow.
    """
    return df.select(
        id_col,
        F.octet_length(F.col(payload_col)).alias("byte_len"),
        F.md5(F.col(payload_col)).alias("digest"),
    )


@register(
    "b52_blob_metadata",
    """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS digest
       FROM documents ORDER BY doc_id""",
)
def b52_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary plumbing proof over the documents fixture: treat utf-8 text
    bytes as an opaque payload; the metadata path is pure codegen
    (octet_length/md5 built-ins — no Python in this plan)."""
    d = tables(spark, sf_dir)["documents"]
    blobs = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return blob_metadata(blobs, "doc_id", "payload").orderBy("doc_id")


#: a049: samples per event type (4 × 16-sample windows — small enough
#: that every type fills it even at sf0.001) and window width in frames.
AUDIO_N = 64
AUDIO_WIN = 16


@register(
    "a049_audio_rms",
    f"""WITH ranked AS (
         SELECT event_type,
                CAST(ROUND(value * 10) AS BIGINT) AS s,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY event_id) AS rn
         FROM events),
       win AS (
         SELECT event_type,
                CAST((rn - 1) // {AUDIO_WIN} AS INT) AS window_idx, s
         FROM ranked WHERE rn <= {AUDIO_N})
       SELECT event_type, window_idx,
              CAST(window_idx * {AUDIO_WIN} AS BIGINT) AS start_ms,
              ROUND(SQRT(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)), 6) AS rms,
              CAST(MAX(ABS(s)) AS INT) AS peak
       FROM win GROUP BY event_type, window_idx
       ORDER BY event_type, window_idx""",
)
def a049_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-codec round-trip, oracle-checked: per event type, build a
    deterministic PCM waveform from the first {AUDIO_N} events' values
    (sample = round(value·10), 16-bit mono @ 1 kHz), push it through
    ``encode_wav`` → ``decode_wav`` inside ``applyInPandas``, and report
    per-{AUDIO_WIN}-ms-window integer mean-square sums. The oracle
    computes the identical window statistics straight from the values —
    equality proves the codec reproduces every sample bit-for-bit *in
    the distributed pipeline*, not just in unit tests.

    Scale shape: the per-type sample cap bounds each group; groups are
    independent (one key shuffle); the sqrt/round runs JVM-side on the
    exact integer sums so float rounding matches every other query."""
    ev = tables(spark, sf_dir)["events"]
    w = W.partitionBy("event_type").orderBy("event_id")
    lim = (
        ev.select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 10).cast("long").alias("s"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= AUDIO_N)
    )

    def per_type(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from one_stop_cdc_ingestion_toolkit_spark.functions import wav_codec

        pdf = pdf.sort_values("rn")
        arr = pdf["s"].to_numpy().astype(np.int64).reshape(-1, 1)
        audio = wav_codec.decode_wav(wav_codec.encode_wav(arr, 1000))
        mono = audio.samples[:, 0].astype(np.int64)
        rows = []
        for wi, start in enumerate(range(0, len(mono), AUDIO_WIN)):
            seg = mono[start : start + AUDIO_WIN]
            rows.append(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "window_idx": wi,
                    "sq_sum": int((seg * seg).sum()),
                    "n": len(seg),
                    "peak": int(np.abs(seg).max()),
                }
            )
        return pd.DataFrame(rows)

    sums = lim.groupBy("event_type").applyInPandas(
        per_type,
        "event_type string, window_idx int, sq_sum long, n long, peak int",
    )
    return sums.select(
        "event_type",
        "window_idx",
        (F.col("window_idx").cast("long") * AUDIO_WIN).alias("start_ms"),
        F.round(F.sqrt(F.col("sq_sum").cast("double") / F.col("n")), 6).alias("rms"),
        "peak",
    ).orderBy("event_type", "window_idx")


#: a050: PNG raster dims (8×4 RGB = 96 bytes of document text).
PNG_W, PNG_H, PNG_DOCS = 8, 4, 30


@register(
    "a050_png_roundtrip",
    f"""WITH firstn AS (
         SELECT doc_id, substr(text, 1, {PNG_W * PNG_H * 3}) AS t
         FROM documents WHERE doc_id <= {PNG_DOCS}),
       b AS (
         SELECT doc_id, t, unnest(generate_series(1, {PNG_W * PNG_H * 3})) AS i
         FROM firstn)
       SELECT doc_id, CAST({PNG_W} AS INT) AS width,
              CAST({PNG_H} AS INT) AS height,
              CAST(SUM(CASE WHEN i <= length(t)
                            THEN LEAST(ascii(substr(t, i, 1)), 255)
                            ELSE 0 END) AS BIGINT)
                AS pix_sum
       FROM b GROUP BY doc_id ORDER BY doc_id""",
)
def a050_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-codec round-trip, oracle-checked: each document's first
    {PNG_W}·{PNG_H}·3 text bytes (zero-padded) become an RGB raster,
    encoded to PNG and decoded back inside ``mapInPandas``; the emitted
    (width, height, Σ pixel bytes) must equal the oracle's direct
    byte-sum over the same characters — proving header and pixel
    fidelity through zlib compress→inflate in the distributed path.
    Bounded to {PNG_DOCS} docs; payload bytes never leave the batch."""
    d = tables(spark, sf_dir)["documents"]
    src = d.filter(F.col("doc_id") <= PNG_DOCS).select("doc_id", "text")
    n_bytes = PNG_W * PNG_H * 3

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from one_stop_cdc_ingestion_toolkit_spark.functions import png_codec

        for pdf in it:
            ids, sums = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                # CHARACTER-based (code point capped at 255, zero-pad):
                # matches the oracle's substr/ascii exactly even if a
                # fixture refresh introduces non-ASCII text
                pixels = bytes(min(ord(c), 255) for c in t[:n_bytes]).ljust(
                    n_bytes, b"\0"
                )
                img = png_codec.decode_png(
                    png_codec.encode_png(pixels, PNG_W, PNG_H, 3)
                )
                assert (img.width, img.height) == (PNG_W, PNG_H)
                ids.append(i)
                sums.append(sum(img.pixels))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pix_sum": pd.Series(sums, dtype="int64"),
                }
            )

    decoded = src.mapInPandas(batches, "doc_id long, pix_sum long")
    return decoded.select(
        "doc_id",
        F.lit(PNG_W).alias("width"),
        F.lit(PNG_H).alias("height"),
        "pix_sum",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Image resize (a0001) and video frame sampling (a0002)
# a0001 downsamples the decoded PNG raster inside the Arrow batch; the
# oracle recomputes the kept-pixel sum from the source bytes. a0002
# samples every k-th frame of a YUV4MPEG2 C444 stream (full-resolution
# chroma, so each decoded byte maps 1:1 to a source byte).
# ---------------------------------------------------------------------------


#: a0001: nearest-neighbor downsample factor (8×4 → 4×2).
RESIZE_FACTOR = 2

#: a0002: Y4M C444 video geometry — 8x4 frames with THREE full-size
#: planes (Y, U, V each 32 bytes → 96 payload bytes/frame; compare
#: a0008's C420 48-byte frames), sampling stride (keep frames 0, k,
#: 2k, …), and the doc bound shared with the other multimodal queries.
FRAME_W, FRAME_H = 8, 4
FRAME_PLANE_BYTES = FRAME_W * FRAME_H
FRAME_BYTES = 3 * FRAME_PLANE_BYTES
FRAME_STEP = 3
FRAME_DOCS = 40


@register(
    "a0001_image_resize",
    f"""WITH firstn AS (
         SELECT doc_id, substr(text, 1, {PNG_W * PNG_H * 3}) AS t
         FROM documents WHERE doc_id <= {PNG_DOCS}),
       b AS (
         SELECT doc_id, t, unnest(generate_series(1, {PNG_W * PNG_H * 3})) AS i
         FROM firstn)
       SELECT doc_id,
              CAST({PNG_W // RESIZE_FACTOR} AS INT) AS out_w,
              CAST({PNG_H // RESIZE_FACTOR} AS INT) AS out_h,
              CAST(SUM(CASE WHEN ((i - 1) // 3) % {PNG_W} % {RESIZE_FACTOR} = 0
                             AND ((i - 1) // 3) // {PNG_W} % {RESIZE_FACTOR} = 0
                            THEN CASE WHEN i <= length(t)
                                      THEN LEAST(ascii(substr(t, i, 1)), 255)
                                      ELSE 0 END
                            ELSE 0 END) AS BIGINT) AS pix_sum
       FROM b GROUP BY doc_id ORDER BY doc_id""",
)
def a0001_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize, oracle-checked: each document's first W·H·3 text
    bytes become an RGB raster, round-trip through the stdlib PNG codec
    (encode → zlib inflate → unfilter, as a050), then nearest-neighbor
    downsample by RESIZE_FACTOR on the DECODED pixel array — keeping
    pixels at even (x, y). The emitted (out_w, out_h, Σ kept pixel
    bytes) must equal the oracle's direct byte-sum over the source
    characters at even-pixel positions, proving the resize indexes the
    raster correctly after decode.

    Scale: pure mapInPandas flatMap over a bounded doc set — payload
    bytes never leave the Arrow batch, no shuffle; at real scale this
    is the resize stage of an image-curation pipeline (one pass,
    partition-local, output rows are metadata + small checksums)."""
    d = tables(spark, sf_dir)["documents"]
    src = d.filter(F.col("doc_id") <= PNG_DOCS).select("doc_id", "text")
    n_bytes = PNG_W * PNG_H * 3
    out_w, out_h = PNG_W // RESIZE_FACTOR, PNG_H // RESIZE_FACTOR

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from one_stop_cdc_ingestion_toolkit_spark.functions import png_codec

        for pdf in it:
            ids, sums = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                pixels = bytes(min(ord(c), 255) for c in t[:n_bytes]).ljust(
                    n_bytes, b"\0"
                )
                img = png_codec.decode_png(
                    png_codec.encode_png(pixels, PNG_W, PNG_H, 3)
                )
                # the repo's canonical resampler (src = dst*src_dim//dst_dim
                # — picks the even pixels for an exact factor-2 downsample);
                # a numpy striding shortcut would silently diverge from it
                # on non-divisible dimension changes (code-review finding)
                small = png_codec.resize_nearest(img, out_w, out_h)
                ids.append(i)
                sums.append(sum(small.pixels))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "pix_sum": pd.Series(sums, dtype="int64"),
                }
            )

    resized = src.mapInPandas(batches, "doc_id long, pix_sum long")
    return resized.select(
        "doc_id",
        F.lit(out_w).alias("out_w"),
        F.lit(out_h).alias("out_h"),
        "pix_sum",
    ).orderBy("doc_id")


def pack_frame_container(payload: bytes) -> bytes:
    """Mux raw payload bytes into a REAL YUV4MPEG2 C444 stream: each
    consecutive FRAME_BYTES slice becomes one 8x4 frame's (Y, U, V)
    full-size planes (tail remainder dropped). The writer a binary
    `video` column would be produced with; `sample_frames` is its
    genuine-decode inverse."""
    from one_stop_cdc_ingestion_toolkit_spark.functions import y4m_codec

    n_frames = len(payload) // FRAME_BYTES
    planes = []
    for f in range(n_frames):
        chunk = payload[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
        planes.append(
            (
                chunk[:FRAME_PLANE_BYTES],
                chunk[FRAME_PLANE_BYTES : 2 * FRAME_PLANE_BYTES],
                chunk[2 * FRAME_PLANE_BYTES :],
            )
        )
    return y4m_codec.encode_y4m(planes, FRAME_W, FRAME_H, "C444")


def sample_frames(
    container: bytes, step: int = FRAME_STEP
) -> list[tuple[bytes, bytes, bytes]]:
    """Genuinely decode a Y4M stream (header-token parse, per-FRAME
    demux, C444 plane split — `functions/y4m_codec.py`) and keep every
    ``step``-th frame's (Y, U, V) planes. Raises ValueError on a
    malformed or truncated stream (the codec's validation)."""
    from one_stop_cdc_ingestion_toolkit_spark.functions import y4m_codec

    video = y4m_codec.decode_y4m(container)
    return list(video.frames[::step])


@register(
    "a0002_frame_sample",
    f"""WITH v AS (
         SELECT doc_id, text,
                CAST(length(text) // {FRAME_BYTES} AS BIGINT) AS n_frames
         FROM documents
         WHERE doc_id <= {FRAME_DOCS} AND length(text) >= {FRAME_BYTES}),
       b AS (
         SELECT doc_id, n_frames, text,
                unnest(generate_series(1, n_frames * {FRAME_BYTES})) AS i
         FROM v)
       SELECT doc_id, n_frames,
              CAST((n_frames + {FRAME_STEP} - 1) // {FRAME_STEP} AS BIGINT)
                AS n_sampled,
              CAST(SUM(CASE WHEN ((i - 1) // {FRAME_BYTES}) % {FRAME_STEP} = 0
                            THEN LEAST(ascii(substr(text, i, 1)), 255)
                            ELSE 0 END) AS BIGINT) AS frame_sum
       FROM b GROUP BY doc_id, n_frames ORDER BY doc_id""",
)
def a0002_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling over REAL decoded Y4M, oracle-checked: each
    document's text bytes are muxed into a genuine YUV4MPEG2 C444
    stream (8x4 frames, three full-size planes — 96 bytes/frame), the
    stream is decoded back by `functions/y4m_codec.py` inside the Arrow
    batch (header-token parse, FRAME demux, plane split), and every
    FRAME_STEP-th frame (0, k, 2k, …) is sampled. The emitted
    (n_frames, n_sampled, Σ sampled-frame plane bytes) must equal the
    oracle's direct stride arithmetic over the same characters — a
    decoder that mis-parses the header, mis-splits planes, or strides
    wrong hash-fails. C444 is the codec branch a0008 (C420 + chroma
    upsampling) does not touch: full-res chroma, every byte counted
    exactly once.

    Scale: mapInPandas flatMap, zero shuffle; frame payloads never
    leave the batch. At real scale the stream bytes arrive as a
    parquet `binary` column and the same decode/stride logic applies
    per Arrow batch."""
    d = tables(spark, sf_dir)["documents"]
    src = d.filter(
        (F.col("doc_id") <= FRAME_DOCS)
        & (F.length("text") >= FRAME_BYTES)
    ).select("doc_id", "text")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nf, ns, fs = [], [], [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                payload = bytes(min(ord(c), 255) for c in t)
                container = pack_frame_container(payload)
                sampled = sample_frames(container)
                ids.append(i)
                nf.append(len(payload) // FRAME_BYTES)
                ns.append(len(sampled))
                fs.append(sum(sum(plane) for fr in sampled for plane in fr))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "n_sampled": pd.Series(ns, dtype="int64"),
                    "frame_sum": pd.Series(fs, dtype="int64"),
                }
            )

    return src.mapInPandas(
        batches, "doc_id long, n_frames long, n_sampled long, frame_sum long"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Y4M frame luma over decoded pixels (a0008)
# Each document is muxed into a 4:2:0 YUV4MPEG2 stream and decoded back
# (header parse, FRAME demux, planar split, chroma upsampling); the
# oracle recomputes the stats by stride arithmetic over the source.
# ---------------------------------------------------------------------------


#: a0008 video geometry: 8x4 4:2:0 frames — Y plane 32 bytes, U and V
#: 8 each, 48 payload bytes per frame; sample every 3rd frame; same
#: doc bound as the other multimodal queries.
Y4M_W, Y4M_H = 8, 4
Y4M_Y_BYTES = Y4M_W * Y4M_H
Y4M_C_BYTES = (Y4M_W // 2) * (Y4M_H // 2)
Y4M_FRAME_BYTES = Y4M_Y_BYTES + 2 * Y4M_C_BYTES
Y4M_STEP = 3
Y4M_DOCS = 40


@register(
    "a0008_y4m_frame_luma",
    f"""WITH v AS (
         SELECT doc_id, text,
                CAST(length(text) // {Y4M_FRAME_BYTES} AS BIGINT) AS n_frames
         FROM documents
         WHERE doc_id <= {Y4M_DOCS} AND length(text) >= {Y4M_FRAME_BYTES}),
       b AS (
         SELECT doc_id, n_frames, text,
                unnest(generate_series(1, n_frames * {Y4M_FRAME_BYTES})) AS i
         FROM v)
       SELECT doc_id, n_frames,
              CAST((n_frames + {Y4M_STEP} - 1) // {Y4M_STEP} AS BIGINT)
                AS n_sampled,
              CAST(SUM(CASE WHEN ((i - 1) // {Y4M_FRAME_BYTES}) % {Y4M_STEP} = 0
                             AND (i - 1) % {Y4M_FRAME_BYTES} < {Y4M_Y_BYTES}
                            THEN LEAST(ascii(substr(text, i, 1)), 255)
                            ELSE 0 END) AS BIGINT) AS y_sum,
              CAST(SUM(CASE WHEN ((i - 1) // {Y4M_FRAME_BYTES}) % {Y4M_STEP} = 0
                             AND (i - 1) % {Y4M_FRAME_BYTES} >= {Y4M_Y_BYTES}
                            THEN 4 * LEAST(ascii(substr(text, i, 1)), 255)
                            ELSE 0 END) AS BIGINT) AS uv_sum
       FROM b GROUP BY doc_id, n_frames ORDER BY doc_id""",
)
def a0008_y4m_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y4M frame sampling over real decoded planes, oracle-checked.

    Each document's text bytes are split into 48-byte 8x4 4:2:0 frames
    (Y 32 + U 8 + V 8), muxed into a genuine YUV4MPEG2 byte stream, and
    decoded back by the real codec — header-token parse, per-FRAME
    demux, plane split. Every Y4M_STEP-th decoded frame contributes its
    luma-plane sum to ``y_sum`` and its chroma planes — nearest-neighbor
    UPSAMPLED to full 8x4 resolution, so each 4:2:0 sample is counted
    once per pixel of its 2x2 block — to ``uv_sum``. The oracle's
    direct stride arithmetic (chroma bytes x4) only matches if the
    demux boundaries, plane offsets, and upsampling are all exact.

    Scale: mapInPandas flatMap, zero shuffle; video bytes never leave
    the Arrow batch. At real scale the stream arrives as a parquet
    `binary` column and the identical decode applies per batch."""
    d = tables(spark, sf_dir)["documents"]
    src = d.filter(
        (F.col("doc_id") <= Y4M_DOCS)
        & (F.length("text") >= Y4M_FRAME_BYTES)
    ).select("doc_id", "text")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from one_stop_cdc_ingestion_toolkit_spark.functions import y4m_codec

        for pdf in it:
            ids, nf, ns, ysums, uvsums = [], [], [], [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                payload = bytes(min(ord(c), 255) for c in t)
                n = len(payload) // Y4M_FRAME_BYTES
                planes = []
                for f in range(n):
                    chunk = payload[
                        f * Y4M_FRAME_BYTES : (f + 1) * Y4M_FRAME_BYTES
                    ]
                    planes.append(
                        (
                            chunk[:Y4M_Y_BYTES],
                            chunk[Y4M_Y_BYTES : Y4M_Y_BYTES + Y4M_C_BYTES],
                            chunk[Y4M_Y_BYTES + Y4M_C_BYTES :],
                        )
                    )
                video = y4m_codec.decode_y4m(
                    y4m_codec.encode_y4m(planes, Y4M_W, Y4M_H, "C420")
                )
                sampled = video.frames[::Y4M_STEP]
                y_sum = sum(sum(fr[0]) for fr in sampled)
                uv_sum = 0
                for fr in sampled:
                    for chroma in fr[1:]:
                        uv_sum += sum(
                            y4m_codec.upsample_chroma(
                                chroma,
                                video.width,
                                video.height,
                                video.colorspace,
                            )
                        )
                ids.append(i)
                nf.append(n)
                ns.append(len(sampled))
                ysums.append(y_sum)
                uvsums.append(uv_sum)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "n_sampled": pd.Series(ns, dtype="int64"),
                    "y_sum": pd.Series(ysums, dtype="int64"),
                    "uv_sum": pd.Series(uvsums, dtype="int64"),
                }
            )

    return src.mapInPandas(
        batches,
        "doc_id long, n_frames long, n_sampled long, y_sum long, uv_sum long",
    ).orderBy("doc_id")
