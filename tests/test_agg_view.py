"""Incremental aggregate view (streaming.agg_view): after ANY replay of
change batches — duplicates, cross-batch out-of-order, deletes, group
migrations — the O(batch)-maintained view must equal a full GROUP-BY
recompute over the merged snapshot."""

from __future__ import annotations

import json
import pathlib

import pytest

from one_stop_cdc_ingestion_toolkit_spark.streaming.agg_view import (
    recompute_reference,
    release_eager,
    views_equal,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import PERSON_SCHEMA, envelope, person, write_stream_files


def _spec(tmp_path, n_buckets=1):
    return PipelineSpec(
        name="person_pipe",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec(
                "person",
                ["firstName"],
                PERSON_SCHEMA,
                n_buckets=n_buckets,
                agg_group_cols=["lastName"],
                agg_sum_cols=["age"],
            )
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def _append_batch(source_dir, events, name):
    with open(pathlib.Path(source_dir) / name, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _assert_view_equals_recompute(spark, pipe):
    state = pipe.store.read(spark, "person")
    ref = recompute_reference(state, ["lastName"], ["age"])
    view = pipe.agg_views["person"].read(spark).select("lastName", "n", "sum_age")
    assert views_equal(view, ref, ["lastName"]), (
        sorted(view.collect()),
        sorted(ref.collect()),
    )


@pytest.mark.parametrize("n_buckets", [1, 4], ids=["snapshot", "bucketed"])
def test_incremental_view_equals_recompute(spark, tmp_path, n_buckets):
    spec = _spec(tmp_path, n_buckets=n_buckets)
    pipe = Pipeline(spark, spec)

    write_stream_files(
        spec.source_dir,
        [
            envelope("r", 1, after=person("alice", "smith", 30)),
            envelope("r", 2, after=person("bob", "jones", 40)),
            envelope("c", 3, after=person("carol", "smith", 25)),
        ],
        files=1,
    )
    pipe.process_available()
    _assert_view_equals_recompute(spark, pipe)

    # batch 2: group migration (alice smith→brown must retract from smith
    # and add to brown), delete (jones drops to n=0 and disappears),
    # redelivery (pos=3) and a stale out-of-order update (pos=2) that the
    # merge discards — the view must not count it either.
    _append_batch(
        spec.source_dir,
        [
            envelope(
                "u",
                5,
                before=person("alice", "smith", 30),
                after=person("alice", "brown", 31),
            ),
            envelope("d", 6, before=person("bob", "jones", 40)),
            envelope("c", 3, after=person("carol", "smith", 25)),  # redelivery
            envelope(
                "u",
                2,
                before=person("carol", "smith", 25),
                after=person("carol", "white", 99),
            ),  # stale
        ],
        "batch-0100.json",
    )
    pipe.process_available()
    pipe.stop()
    _assert_view_equals_recompute(spark, pipe)

    rows = {r.lastName: (r.n, r.sum_age) for r in pipe.read_agg_view("person").collect()}
    assert rows == {"smith": (1, 25.0), "brown": (1, 31.0)}
    # derived avg
    avg = {r.lastName: r.avg_age for r in pipe.read_agg_view("person").collect()}
    assert avg == {"smith": 25.0, "brown": 31.0}


def test_redelivered_whole_batch_is_zero_delta(spark, tmp_path):
    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    events = [
        envelope("r", 1, after=person("alice", "smith", 30)),
        envelope("c", 2, after=person("bob", "smith", 40)),
    ]
    write_stream_files(spec.source_dir, events, files=1)
    pipe.process_available()
    _assert_view_equals_recompute(spark, pipe)
    # the SAME records arrive again in a later batch (at-least-once): the
    # merge is a no-op, so post == prior for every touched key → zero
    # delta → the view must not double-count.
    _append_batch(spec.source_dir, events, "batch-0200.json")
    pipe.process_available()
    pipe.stop()
    _assert_view_equals_recompute(spark, pipe)
    rows = {r.lastName: (r.n, r.sum_age) for r in pipe.read_agg_view("person").collect()}
    assert rows == {"smith": (2, 70.0)}


def test_rebuild_on_gap(spark, tmp_path):
    """A base-table generation the view never saw (crash between base
    write and view write) must trigger the rebuild repair path, not a
    silent wrong delta."""
    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    write_stream_files(
        spec.source_dir,
        [envelope("r", 1, after=person("alice", "smith", 30))],
        files=1,
    )
    pipe.process_available()
    _assert_view_equals_recompute(spark, pipe)

    # simulate the crash window: the base table advances one generation
    # without the view hearing about it (re-write current state directly)
    state = pipe.store.read(spark, "person").localCheckpoint(eager=True)
    pipe.store.write(state, "person")
    release_eager(state)  # consumed by the write; don't leak its blocks
    assert pipe.agg_views["person"].applied_upto() != len(
        pipe.store.history("person")
    )

    _append_batch(
        spec.source_dir,
        [envelope("c", 7, after=person("dave", "smith", 50))],
        "batch-0300.json",
    )
    pipe.process_available()
    pipe.stop()
    _assert_view_equals_recompute(spark, pipe)
    rows = {r.lastName: (r.n, r.sum_age) for r in pipe.read_agg_view("person").collect()}
    assert rows == {"smith": (2, 80.0)}


def test_view_declared_on_existing_table_bootstraps(spark, tmp_path):
    """Declaring a view on a table that already has merged state must
    bootstrap it by rebuild on the next batch."""
    bare = PipelineSpec(
        name="person_pipe",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe = Pipeline(spark, bare)
    write_stream_files(
        bare.source_dir,
        [
            envelope("r", 1, after=person("alice", "smith", 30)),
            envelope("r", 2, after=person("bob", "jones", 40)),
        ],
        files=1,
    )
    pipe.process_available()
    pipe.stop()

    # redeploy with the view declared
    pipe2 = Pipeline(spark, _spec(tmp_path))
    _append_batch(
        bare.source_dir,
        [envelope("c", 3, after=person("carol", "jones", 25))],
        "batch-0400.json",
    )
    pipe2.process_available()
    pipe2.stop()
    _assert_view_equals_recompute(spark, pipe2)
    rows = {
        r.lastName: (r.n, r.sum_age) for r in pipe2.read_agg_view("person").collect()
    }
    assert rows == {"smith": (1, 30.0), "jones": (2, 65.0)}


def test_spec_validation(tmp_path):
    with pytest.raises(ValueError, match="agg view column"):
        PipelineSpec(
            name="p",
            source_dir=str(tmp_path),
            tables=[
                TableSpec(
                    "person",
                    ["firstName"],
                    PERSON_SCHEMA,
                    agg_group_cols=["nope"],
                )
            ],
            sink_dir=str(tmp_path / "lake"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).validate()
    with pytest.raises(ValueError, match="agg_sum_cols requires"):
        PipelineSpec(
            name="p",
            source_dir=str(tmp_path),
            tables=[
                TableSpec(
                    "person",
                    ["firstName"],
                    PERSON_SCHEMA,
                    agg_sum_cols=["age"],
                )
            ],
            sink_dir=str(tmp_path / "lake"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).validate()


def test_null_group_key_does_not_duplicate(spark, tmp_path):
    """A NULL group key must fold into ONE view row across batches: the
    merge join is null-safe (a plain column-list join never matches NULL
    to NULL, so the NULL group used to gain a duplicate row per batch —
    review r7)."""
    spec = _spec(tmp_path)
    write_stream_files(
        spec.source_dir,
        [
            envelope("c", 1, after=person("a", None, 10)),
            envelope("c", 2, after=person("b", None, 20)),
        ],
        files=1,
    )
    pipe = Pipeline(spark, spec)
    pipe.process_available()
    _append_batch(
        spec.source_dir,
        [envelope("c", 3, after=person("c", None, 30))],
        "b2.json",
    )
    pipe.process_available()
    pipe.stop()
    view = pipe.agg_views["person"].read(spark)
    null_rows = view.filter("lastName IS NULL").collect()
    assert len(null_rows) == 1, null_rows
    assert null_rows[0]["n"] == 3 and null_rows[0]["sum_age"] == 60.0
    _assert_view_equals_recompute(spark, pipe)
