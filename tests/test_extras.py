"""Extras: approx-sketch bounds, multimodal frame sampling, blob decode stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import (
    decode_image,
    extract_blob_metadata,
    fake_decode,
    frame_sample,
)
from one_stop_cdc_ingestion_toolkit_spark.operators.profiling import (
    approx_distinct_stats,
    approx_quantiles,
)
from tests.conftest import SF_DIR


def test_approx_distinct_within_rsd(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    row = approx_distinct_stats(li, "l_partkey", rsd=0.05).first()
    assert abs(row["approx"] - row["exact"]) <= 0.15 * row["exact"]


def test_approx_quantiles_ordered(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q25, q50, q75 = approx_quantiles(li, "l_quantity", [0.25, 0.5, 0.75])
    assert q25 <= q50 <= q75


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"\x89PNG...")


def test_fake_decode_deterministic():
    a, b = fake_decode(b"same bytes"), fake_decode(b"same bytes")
    assert a == b
    assert 1 <= a["width"] <= 1920 and 1 <= a["height"] <= 1080


def test_lakehouse_formats_gated(spark):
    """No delta/iceberg/hudi jars in this container: availability probe
    must return False (and not raise) so callers can branch to the
    parquet TableStore path."""
    from one_stop_cdc_ingestion_toolkit_spark.sinks import lakehouse_format_available

    assert lakehouse_format_available(spark, "delta") is False


def test_frame_sample_shape(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    blobs = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    frames = frame_sample(blobs, "doc_id", "payload", every_n=10)
    rows = frames.collect()
    assert rows and all(r["frame_idx"] % 10 == 0 for r in rows)
    # every doc appears with at least frame 0
    meta = extract_blob_metadata(blobs, "doc_id", "payload").collect()
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in meta}


def test_resize_images_deterministic_contract(spark):
    """Resize plumbing: target dims on every row, and output payload a
    pure function of (input payload, target) — identical across runs."""
    from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import resize_images

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    blobs = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    a = resize_images(blobs, "doc_id", "payload", 224, 224).collect()
    b = resize_images(blobs, "doc_id", "payload", 224, 224).collect()
    assert sorted((r.doc_id, bytes(r.payload)) for r in a) == sorted(
        (r.doc_id, bytes(r.payload)) for r in b
    )
    assert all(r.width == 224 and r.height == 224 for r in a)
    assert all(bytes(r.payload).startswith(b"resized:224x224:") for r in a)


def test_real_image_decode_gated(spark):
    """The real decoder is feature-gated on Pillow (VERDICT r3 #8): with
    no codec installed decode_image raises the documented
    NotImplementedError; with Pillow it must return true dimensions
    through the SAME Arrow mapInPandas path."""
    import pytest

    from one_stop_cdc_ingestion_toolkit_spark.operators.multimodal import (
        decode_blobs,
        decode_image,
        pil_available,
    )

    if not pil_available():
        with pytest.raises(NotImplementedError, match="codec"):
            decode_image(b"\x89PNG\r\n")
        return
    # Pillow present: build a real 3x2 PNG and decode it through Spark
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (3, 2)).save(buf, format="PNG")
    blobs = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    row = decode_blobs(blobs, "doc_id", "payload", use_real=True).collect()[0]
    assert (row["width"], row["height"], row["n_frames"]) == (3, 2, 1)
