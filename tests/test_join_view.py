"""Incrementally-maintained fact⟕dim join view (streaming/join_view.py):
the denormalized view must equal a full recompute of
``fact_live LEFT JOIN dim_live`` after ANY interleaving of inserts,
updates and deletes on either side — and repair itself across crash
gaps."""

from __future__ import annotations

import json
import random

from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.streaming.join_view import (
    JoinViewSpec,
    recompute_reference,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    RAW_SCHEMA,
    TableSpec,
)

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType(), False),
        T.StructField("cust", T.StringType(), True),
        T.StructField("amount", T.IntegerType(), True),
    ]
)
CUST_SCHEMA = T.StructType(
    [
        T.StructField("cust", T.StringType(), False),
        T.StructField("tier", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
    ]
)


def env(table, op, pos, key, before=None, after=None):
    return (
        str(key),
        json.dumps(
            {
                "before": before,
                "after": after,
                "op": op,
                "ts_ms": 1_700_000_000_000 + pos,
                "source": {"db": "cdc_test_db", "table": table, "pos": pos},
            }
        ),
    )


def order_env(op, pos, oid, cust=None, amount=None, before=None):
    after = None if op == "d" else {"order_id": oid, "cust": cust, "amount": amount}
    return env("orders", op, pos, oid, before=before, after=after)


def cust_env(op, pos, cust, tier=None, region=None):
    after = None if op == "d" else {"cust": cust, "tier": tier, "region": region}
    before = {"cust": cust, "tier": tier, "region": region} if op == "d" else None
    return env("customer", op, pos, cust, before=before, after=after)


def _spec(tmp_path, n_buckets=1):
    return PipelineSpec(
        name="jv",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec("orders", ["order_id"], ORDER_SCHEMA, n_buckets=n_buckets),
            TableSpec("customer", ["cust"], CUST_SCHEMA),
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        join_views=[
            JoinViewSpec(
                fact="orders",
                dim="customer",
                join_col="cust",
                dim_cols=["tier", "region"],
            )
        ],
    )


def _raw(spark, events):
    return spark.createDataFrame(events, RAW_SCHEMA)


def _rows(df):
    if df is None:
        return set()
    return {
        (
            r["order_id"],
            r["cust"],
            r["amount"],
            r["customer__tier"],
            r["customer__region"],
        )
        for r in df.collect()
    }


def _expect(pipe):
    ref = recompute_reference(
        pipe.store.read(pipe.spark, "orders"),
        pipe.store.read(pipe.spark, "customer"),
        pipe.spec.join_views[0],
        "cust",
    )
    return _rows(ref)


import pytest


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_join_view_matches_recompute_per_batch(spark, tmp_path, n_buckets):
    """Plain and key-bucketed fact store (the 100 TB merge path) must
    both keep the view equivalent to a full recompute."""
    pipe = Pipeline(spark, _spec(tmp_path, n_buckets))
    batches = [
        # dim before fact
        [cust_env("r", 1, "ann", "gold", "eu")],
        # facts joining an existing and a missing dim row
        [
            order_env("c", 2, 100, "ann", 10),
            order_env("c", 3, 101, "bob", 20),
        ],
        # late dim arrives: existing view row gains attributes
        [cust_env("c", 4, "bob", "silver", "us")],
        # dim update propagates to all its fact rows
        [
            order_env("c", 5, 102, "ann", 30),
            cust_env("u", 6, "ann", "platinum", "eu"),
        ],
        # fact update re-points to another dim; dim delete nulls rows out
        [
            order_env("u", 7, 100, "bob", 11),
            cust_env("d", 8, "ann", "platinum", "eu"),
        ],
        # fact delete removes its view row
        [order_env("d", 9, 101, before={"order_id": 101, "cust": "bob", "amount": 20})],
    ]
    for b in batches:
        pipe.apply_batch(_raw(spark, b))
        got = _rows(pipe.read_join_view("orders", "customer"))
        assert got == _expect(pipe), f"diverged after batch {b}"
    # final spot check: order 100 → bob/silver; 102 → ann deleted → NULLs
    final = _rows(pipe.read_join_view("orders", "customer"))
    assert (100, "bob", 11, "silver", "us") in final
    assert (102, "ann", 30, None, None) in final


def test_join_view_randomized_interleaving(spark, tmp_path):
    rng = random.Random(7)
    pipe = Pipeline(spark, _spec(tmp_path))
    custs = ["c1", "c2", "c3"]
    pos = 0
    live_orders = set()
    for _ in range(6):
        batch = []
        for _ in range(rng.randint(1, 4)):
            pos += 1
            if rng.random() < 0.5:
                oid = rng.randint(1, 8)
                if rng.random() < 0.25 and oid in live_orders:
                    batch.append(
                        order_env(
                            "d",
                            pos,
                            oid,
                            before={"order_id": oid, "cust": None, "amount": None},
                        )
                    )
                    live_orders.discard(oid)
                else:
                    batch.append(
                        order_env(
                            "c", pos, oid, rng.choice(custs), rng.randint(1, 99)
                        )
                    )
                    live_orders.add(oid)
            else:
                c = rng.choice(custs)
                if rng.random() < 0.2:
                    batch.append(cust_env("d", pos, c))
                else:
                    batch.append(
                        cust_env(
                            "u", pos, c, rng.choice(["g", "s"]), rng.choice(["eu", "us"])
                        )
                    )
        pipe.apply_batch(_raw(spark, batch))
        got = _rows(pipe.read_join_view("orders", "customer"))
        assert got == _expect(pipe)


def test_join_view_gap_rebuild_and_redelivery(spark, tmp_path):
    import pathlib
    import shutil

    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    b1 = [
        cust_env("r", 1, "ann", "gold", "eu"),
        order_env("c", 2, 1, "ann", 10),
    ]
    pipe.apply_batch(_raw(spark, b1))
    assert _rows(pipe.read_join_view("orders", "customer")) == _expect(pipe)
    # redelivered batch (at-least-once): view must converge, not diverge
    pipe.apply_batch(_raw(spark, b1))
    assert _rows(pipe.read_join_view("orders", "customer")) == _expect(pipe)
    # crash gap: nuke the view's consistency metadata + data, merge more
    view_dir = pathlib.Path(spec.sink_dir) / "orders__joinview_customer"
    shutil.rmtree(view_dir)
    pipe.apply_batch(_raw(spark, [order_env("c", 3, 2, "ann", 20)]))
    got = _rows(pipe.read_join_view("orders", "customer"))
    assert got == _expect(pipe)
    assert (2, "ann", 20, "gold", "eu") in got


def test_join_view_spec_validation(tmp_path):
    import pytest

    bad = _spec(tmp_path)
    bad.join_views = [
        JoinViewSpec(fact="orders", dim="nope", join_col="cust", dim_cols=[])
    ]
    with pytest.raises(ValueError, match="unknown table"):
        bad.validate()
    bad.join_views = [
        JoinViewSpec(fact="orders", dim="customer", join_col="zzz", dim_cols=[])
    ]
    with pytest.raises(ValueError, match="join col"):
        bad.validate()
    bad.join_views = [
        JoinViewSpec(
            fact="orders", dim="customer", join_col="cust", dim_cols=["zzz"]
        )
    ]
    with pytest.raises(ValueError, match="dim cols"):
        bad.validate()


def test_join_view_spec_registry_roundtrip(tmp_path):
    """A28 discipline: save → reload → validate must preserve join
    views byte-for-byte."""
    from one_stop_cdc_ingestion_toolkit_spark.registry import (
        spec_from_json,
        spec_to_json,
    )

    spec = _spec(tmp_path)
    back = spec_from_json(spec_to_json(spec))
    back.validate()
    assert back.join_views == spec.join_views


def test_view_status_reports_sync(spark, tmp_path):
    import pathlib
    import shutil

    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    pipe.apply_batch(
        _raw(
            spark,
            [cust_env("r", 1, "ann", "gold", "eu"), order_env("c", 2, 1, "ann", 10)],
        )
    )
    assert pipe.view_status() == {"joinview:orders⟕customer": True}
    shutil.rmtree(pathlib.Path(spec.sink_dir) / "orders__joinview_customer")
    assert pipe.view_status() == {"joinview:orders⟕customer": False}
    # next batch repairs
    pipe.apply_batch(_raw(spark, [order_env("c", 3, 2, "ann", 20)]))
    assert pipe.view_status() == {"joinview:orders⟕customer": True}


def test_view_materializes_before_dim_exists(spark, tmp_path):
    """A first batch containing ONLY fact changes must materialize the
    view with typed NULL dim columns — an untyped lit(None) is NullType,
    which the parquet writer rejects (the batch used to crash until a
    dim row arrived — review r7)."""
    spec = _spec(tmp_path)
    pipe = Pipeline(spark, spec)
    pipe.apply_batch(_raw(spark, [
        order_env("c", 1, 1, "alice", 10),
        order_env("c", 2, 2, "bob", 20),
    ]))
    view = pipe.read_join_view("orders", "customer")
    got = _rows(view)
    assert got == {(1, "alice", 10, None, None), (2, "bob", 20, None, None)}
    # dim types declared, not NullType
    types = dict(view.dtypes)
    assert types["customer__tier"] == "string"
    # the dim arriving later fills the columns in
    pipe.apply_batch(_raw(spark, [cust_env("c", 3, "alice", "gold", "emea")]))
    assert _rows(pipe.read_join_view("orders", "customer")) == {
        (1, "alice", 10, "gold", "emea"),
        (2, "bob", 20, None, None),
    }
    assert _rows(pipe.read_join_view("orders", "customer")) == _expect(pipe)


def test_view_sync_counts_history_from_its_tail(spark, tmp_path, monkeypatch):
    """The view sync reads each table's pointer-state count from the
    _HISTORY tail (``history_len``), never the full ``history()`` parse
    whose cost grows with the table's age: with ``history()`` raising,
    batches still keep an agg view and a join view equal to their
    recomputes, and ``view_status`` still answers."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming import agg_view
    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore

    spec = _spec(tmp_path, n_buckets=4)
    spec.tables[0].agg_group_cols = ["cust"]
    spec.tables[0].agg_sum_cols = ["amount"]
    pipe = Pipeline(spark, spec)

    def full_parse(self, table):
        raise AssertionError(f"full _HISTORY parse of {table}")

    monkeypatch.setattr(TableStore, "history", full_parse)
    batches = [
        [cust_env("r", 1, "ann", "gold", "eu"), order_env("c", 2, 100, "ann", 10)],
        [order_env("c", 3, 101, "bob", 20), order_env("c", 4, 102, "ann", 30)],
        [
            cust_env("u", 5, "ann", "platinum", "eu"),
            order_env("u", 6, 100, "bob", 11),
        ],
    ]
    for b in batches:
        pipe.apply_batch(_raw(spark, b))
    assert pipe.view_status() == {
        "aggview:orders": True,
        "joinview:orders⟕customer": True,
    }
    assert _rows(pipe.read_join_view("orders", "customer")) == _expect(pipe)
    ref = agg_view.recompute_reference(
        pipe.store.read(spark, "orders"), ["cust"], ["amount"]
    )
    view = pipe.read_agg_view("orders").select("cust", "n", "sum_amount")
    assert agg_view.views_equal(view, ref, ["cust"])
