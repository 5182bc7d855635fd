"""BACKWARD-compatibility truth table (reference README.md:466-479) +
property tests over random add/drop sequences (SURVEY §5.2.4)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
    IncompatibleSchemaError,
    SchemaStore,
    check_backward,
)

V1 = T.StructType(
    [
        T.StructField("firstName", T.StringType(), True),
        T.StructField("lastName", T.StringType(), True),
        T.StructField("age", T.IntegerType(), False),
    ]
)
# v1 -> v2: DROP COLUMN lastName            => compatible
V2 = T.StructType([f for f in V1.fields if f.name != "lastName"])
# v2 -> v3: ADD COLUMN email varchar NULL   => compatible
V3 = T.StructType(V2.fields + [T.StructField("email", T.StringType(), True)])
# v3 -> v4: ADD COLUMN address varchar NOT NULL => incompatible
V4 = T.StructType(V3.fields + [T.StructField("address", T.StringType(), False)])


def test_reference_truth_table(tmp_path):
    store = SchemaStore(tmp_path, "BACKWARD")
    assert store.register("person", V1) == 1
    assert store.register("person", V2) == 2  # drop column: 通过
    assert store.register("person", V3) == 3  # add nullable: 通过
    with pytest.raises(IncompatibleSchemaError, match="address"):
        store.register("person", V4)  # add NOT NULL w/o default: 失败
    # failed registration must not advance the store
    assert store.latest("person") == V3
    # re-registering the current schema is a no-op
    assert store.register("person", V3) == 3


def test_none_mode_accepts_everything(tmp_path):
    store = SchemaStore(tmp_path, "NONE")
    store.register("person", V3)
    assert store.register("person", V4) == 2


def test_type_change_rejected():
    changed = T.StructType(
        [
            T.StructField("firstName", T.IntegerType(), True),
            T.StructField("lastName", T.StringType(), True),
            T.StructField("age", T.IntegerType(), False),
        ]
    )
    problems = check_backward(V1, changed)
    assert any("type change" in p for p in problems)


NAMES = st.sampled_from([f"c{i}" for i in range(8)])
FIELDS = st.lists(
    st.tuples(NAMES, st.booleans()), unique_by=lambda t: t[0], min_size=1, max_size=8
)


def _schema(fields):
    return T.StructType(
        [T.StructField(n, T.StringType(), nullable) for n, nullable in fields]
    )


@settings(max_examples=200, deadline=None)
@given(old=FIELDS, new=FIELDS)
def test_backward_property(old, new):
    """check_backward(old, new) flags exactly (a) added non-nullable cols
    and (b) existing cols tightened nullable -> NOT NULL (string-typed
    fields: no type changes possible here)."""
    problems = check_backward(_schema(old), _schema(new))
    old_null = dict(old)
    expect = {
        n
        for n, nullable in new
        if (n not in old_null and not nullable)
        or (n in old_null and old_null[n] and not nullable)
    }
    flagged = {p.split(": ")[1] for p in problems}
    assert flagged == expect


@settings(max_examples=50, deadline=None)
@given(steps=st.lists(FIELDS, min_size=1, max_size=5))
def test_store_never_admits_incompatible(tmp_path_factory, steps):
    """After any register sequence (accepted or rejected), every adjacent
    accepted pair in the store is backward-compatible."""
    store = SchemaStore(tmp_path_factory.mktemp("schemas"), "BACKWARD")
    for fields in steps:
        try:
            store.register("s", _schema(fields))
        except IncompatibleSchemaError:
            pass
    versions = store.versions("s")
    for a, b in zip(versions, versions[1:]):
        assert check_backward(a, b) == []


@settings(max_examples=200, deadline=None)
@given(old=FIELDS, new=FIELDS)
def test_forward_is_dual_of_backward(old, new):
    """FORWARD(old, new) must equal BACKWARD(new, old) — writer and
    reader swap roles — and FULL is exactly the union of both."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
        check_backward,
        check_forward,
        check_full,
    )

    so, sn = _schema(old), _schema(new)
    assert check_forward(so, sn) == check_backward(sn, so)
    assert set(check_full(so, sn)) == set(check_backward(so, sn)) | set(
        check_forward(so, sn)
    )


def test_forward_mode_truth_table(tmp_path):
    """FORWARD: adding any column is fine (old reader ignores it);
    dropping a NOT NULL column is rejected (old reader has no values)."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
        IncompatibleSchemaError,
        SchemaStore,
    )

    store = SchemaStore(tmp_path / "reg", compatibility="FORWARD")
    v1 = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("opt", T.StringType(), True),
        ]
    )
    store.register("t", v1)
    # add a NOT NULL column: fine under FORWARD (rejected under BACKWARD)
    v2 = T.StructType(v1.fields + [T.StructField("extra", T.StringType(), False)])
    store.register("t", v2)
    # drop the NOT NULL id: old reader loses required values -> rejected
    v3 = T.StructType([f for f in v2.fields if f.name != "id"])
    import pytest

    with pytest.raises(IncompatibleSchemaError):
        store.register("t", v3)
    # dropping the nullable column is fine
    v4 = T.StructType([f for f in v2.fields if f.name != "opt"])
    store.register("t", v4)
    assert len(store.versions("t")) == 3


def test_register_revert_returns_earliest_version(tmp_path):
    """ADVICE r9: schema reverts dedup to the earliest version — an
    A→B→A history returns version 1 (dedup-to-earliest, no compat
    check, no appended version 3), Confluent's per-subject contract. A
    BACKWARD-incompatible revert (drop a required field then re-add) is
    exactly the history where a latest-only short-circuit diverges: the
    store used to run the check on (B, A) and reject what the real
    registry accepts."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
        SchemaStore,
    )

    store = SchemaStore(tmp_path / "reg")
    a = T.StructType([T.StructField("a", T.LongType(), False)])
    # B drops no fields but adds a required-with-no-default one ONLY in
    # the B→A direction check; use add-nullable so A→B registers, then
    # the revert B→A would FAIL a BACKWARD check (column removal rules
    # aside, identical-to-v1 must win before any check runs)
    b = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    assert store.register("s-value", a) == 1
    assert store.register("s-value", b) == 2
    assert store.register("s-value", a) == 1  # dedup-to-earliest
    assert store.versions("s-value") == [a, b]  # no version 3 appended


def test_store_register_is_atomic_on_disk(tmp_path):
    """register() must atomically replace the subject file (temp +
    os.replace) so a crash mid-write can never leave torn JSON that
    bricks versions() (review r7)."""
    from one_stop_cdc_ingestion_toolkit_spark.streaming.schema_store import (
        SchemaStore,
    )

    store = SchemaStore(tmp_path, compatibility="BACKWARD")
    v1 = T.StructType([T.StructField("a", T.LongType(), False)])
    assert store.register("t", v1) == 1
    # no temp residue, subject list clean, reload parses
    assert list(tmp_path.glob("*.tmp")) == []
    assert store.list_subjects() == ["t"]
    assert store.latest("t") == v1
