"""Chunked snapshot backfill (streaming/backfill.py): chunk plan
determinism, equality with a bulk load, commutation with live CDC
batches in either interleaving (the DBLog property), crash-resume from
the progress file, and the bucketed-table path."""

from __future__ import annotations

from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.streaming.backfill import SnapshotBackfill
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import PERSON_SCHEMA, envelope, person

N_SRC = 10


def _source_df(spark):
    rows = [(f"p{i:02d}", f"last{i}", 20 + i) for i in range(N_SRC)]
    return spark.createDataFrame(rows, PERSON_SCHEMA)


def _pipeline(spark, tmp_path, name="bf", n_buckets=1) -> Pipeline:
    spec = PipelineSpec(
        name=name,
        source_dir=str(tmp_path / f"stream_{name}"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA, n_buckets=n_buckets)],
        sink_dir=str(tmp_path / f"lake_{name}"),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
    )
    return Pipeline(spark, spec)


def _raw(spark, events):
    return spark.createDataFrame(
        [(e["key"], e["value"]) for e in events], "key string, value string"
    )


def _state(pipeline) -> dict:
    df = pipeline.read_table("person")
    return {r["firstName"]: (r["lastName"], r["age"]) for r in df.collect()}


#: live CDC traffic overlapping the snapshot: p03 updated, p05 deleted,
#: p99 inserted — all at positions AFTER the snapshot (pos > 0).
def _live_events():
    return [
        envelope("u", 100, before=person("p03", "last3", 23),
                 after=person("p03", "UPDATED", 99)),
        envelope("d", 101, before=person("p05", "last5", 25)),
        envelope("c", 102, after=person("p99", "new", 1)),
    ]


#: expected converged state: snapshot rows, except CDC-touched keys.
def _expected() -> dict:
    exp = {f"p{i:02d}": (f"last{i}", 20 + i) for i in range(N_SRC)}
    exp["p03"] = ("UPDATED", 99)
    del exp["p05"]
    exp["p99"] = ("new", 1)
    return exp


def test_plan_chunks_cover_source_exactly(spark, tmp_path):
    p = _pipeline(spark, tmp_path, "plan")
    bf = SnapshotBackfill(p, "person", _source_df(spark), "firstName", chunk_size=3)
    chunks = bf.plan()
    assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
    assert sum(c.n_rows for c in chunks) == N_SRC
    assert max(c.n_rows for c in chunks) <= 3
    # ranges are disjoint and ordered
    for a, b in zip(chunks, chunks[1:]):
        assert a.hi < b.lo


def test_full_backfill_equals_bulk_load(spark, tmp_path):
    p = _pipeline(spark, tmp_path, "bulk")
    bf = SnapshotBackfill(p, "person", _source_df(spark), "firstName", chunk_size=3)
    applied = bf.run()
    assert applied == len(bf.plan())
    assert _state(p) == {f"p{i:02d}": (f"last{i}", 20 + i) for i in range(N_SRC)}
    assert bf.status()["complete"]


def test_backfill_after_stream_does_not_clobber(spark, tmp_path):
    """Stream first, then backfill: snapshot rows must lose to every
    already-applied higher-pos event — including the delete."""
    p = _pipeline(spark, tmp_path, "after")
    p.apply_batch(_raw(spark, _live_events()))
    SnapshotBackfill(
        p, "person", _source_df(spark), "firstName", chunk_size=3
    ).run()
    assert _state(p) == _expected()


def test_backfill_interleaved_with_stream(spark, tmp_path):
    """Chunks and stream batches interleaved converge to the same state
    as either sequential order."""
    p = _pipeline(spark, tmp_path, "inter")
    bf = SnapshotBackfill(p, "person", _source_df(spark), "firstName", chunk_size=3)
    ev = _live_events()
    assert bf.step() is not None  # chunk 0
    p.apply_batch(_raw(spark, ev[:1]))  # update p03
    assert bf.step() is not None  # chunk 1 (contains p03 -> must lose)
    p.apply_batch(_raw(spark, ev[1:]))  # delete p05, insert p99
    bf.run()  # remaining chunks (p05's chunk must not resurrect it)
    assert _state(p) == _expected()


def test_crash_resume_and_idempotence(spark, tmp_path):
    """A fresh SnapshotBackfill resumes from the progress file; replaying
    an applied chunk changes nothing."""
    p = _pipeline(spark, tmp_path, "resume")
    src = _source_df(spark)
    bf1 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    bf1.step()
    bf1.step()
    # simulated crash: new object, same progress file
    bf2 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    st = bf2.status()
    assert st["chunks_done"] == 2 and not st["complete"]
    bf2.run()
    before = _state(p)
    # force a replay of chunk 0: idempotent by merge semantics
    bf2._save_done(0, len(bf2.plan()))
    bf2.step()
    assert _state(p) == before


def test_backfill_bucketed_table(spark, tmp_path):
    """Same semantics through the bucketed (partial-rewrite) merge path."""
    p = _pipeline(spark, tmp_path, "buck", n_buckets=4)
    p.apply_batch(_raw(spark, _live_events()))
    SnapshotBackfill(
        p, "person", _source_df(spark), "firstName", chunk_size=4
    ).run()
    assert _state(p) == _expected()


def test_resume_with_changed_plan_rejected(spark, tmp_path):
    """Resuming a half-done backfill with a different chunk_size (the
    chunks renumber) must raise, not silently skip key ranges
    (review r7)."""
    import pytest

    p = _pipeline(spark, tmp_path, "resume2")
    src = _source_df(spark)
    bf1 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    bf1.step()  # apply one chunk, progress file written
    bf2 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=100)
    with pytest.raises(ValueError, match="different chunk plan"):
        bf2.step()
    # matching plan resumes fine
    bf3 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    bf3.run()
    assert bf3.status()["complete"]


def test_null_chunk_key_rejected(spark, tmp_path):
    """NULL values in the chunk column would silently escape every
    chunk's range filter — plan() must reject them (review r7)."""
    import pytest

    from pyspark.sql import functions as F

    p = _pipeline(spark, tmp_path, "nullkey")
    src = _source_df(spark).withColumn(
        "firstName",
        F.when(F.col("age") % 2 == 0, F.col("firstName")),
    )
    bf = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    with pytest.raises(ValueError, match="NULL"):
        bf.plan()


def test_progress_write_is_atomic_and_torn_file_is_loud(spark, tmp_path):
    """review r8: _save_done must tmp+replace (a kill mid-write never
    tears the progress file), and a corrupt file — only possible via
    external damage — must raise a clear error, not restart silently."""
    import os

    import pytest

    p = _pipeline(spark, tmp_path, "atomic")
    src = _source_df(spark)
    bf = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    bf.step()
    f = bf._progress_file()
    assert f.exists()
    # the temp never lingers after a successful save
    assert not [n for n in os.listdir(f.parent) if n.endswith(".tmp")]
    f.write_text('{"table": "person", "next_ch')  # external corruption
    bf2 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    with pytest.raises(ValueError, match="corrupt"):
        bf2.status()


def test_valid_but_non_object_progress_file_is_loud(spark, tmp_path):
    """review r8: corruption into VALID non-object JSON must raise the
    same clear 'corrupt' error, not an AttributeError."""
    import pytest

    p = _pipeline(spark, tmp_path, "nonobj")
    src = _source_df(spark)
    bf = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    bf.step()
    bf._progress_file().write_text("42")
    bf2 = SnapshotBackfill(p, "person", src, "firstName", chunk_size=3)
    with pytest.raises(ValueError, match="corrupt"):
        bf2.status()
