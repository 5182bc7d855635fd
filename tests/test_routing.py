"""One-parse routing (``route_envelopes``) against the path predicates it
replaced: every record must be classified exactly as separate
``get_json_object`` calls over the whole envelope classify it. Those
predicates stay here as the oracle."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.sources.debezium import route_envelopes
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    Pipeline,
    PipelineSpec,
    TableSpec,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)


def _env(**fields) -> str:
    base = {
        "before": None,
        "after": {"id": 1, "name": "a"},
        "op": "c",
        "ts_ms": 1,
        "source": {"db": "d", "table": "t", "pos": 1},
    }
    base.update(fields)
    return json.dumps(base)


EDGE_VALUES = {
    "valid": _env(),
    "invalid_json": "{this is not json",
    "array": "[1, 2]",
    "scalar": "3",
    "empty_object": "{}",
    "numeric_op": _env(op=1, after={"id": 2, "name": "b"}),
    "source_string": _env(source="t"),
    "source_no_table": _env(source={"db": "d", "pos": 3}),
    "source_table_null": _env(source={"db": "d", "table": None}),
    "op_null": _env(op=None),
    "table_changes_null": json.dumps({"tableChanges": None}),
    "table_changes_empty": json.dumps({"databaseName": "d", "tableChanges": []}),
    "boundary_begin": json.dumps({"status": "BEGIN", "id": "tx1"}),
    "boundary_end_no_count": json.dumps({"status": "END", "id": "tx1"}),
    "boundary_end_count": json.dumps({"status": "END", "id": "tx2", "event_count": 3}),
    "boundary_with_op": json.dumps({"status": "END", "id": "tx3", "op": "c"}),
    "transaction_null": _env(transaction=None, after={"id": 3, "name": "c"}),
    "transaction_id": _env(transaction={"id": "tx9"}, after={"id": 4, "name": "d"}),
    "transaction_numeric_id": _env(transaction={"id": 7}, after={"id": 5, "name": "e"}),
    "transaction_string": _env(transaction="tx9", after={"id": 6, "name": "f"}),
    "tombstone": None,
}


def _oracle(df):
    """The per-field ``get_json_object`` predicates over the whole value."""
    val = F.col("value").cast("string")

    def get(path: str):
        return F.get_json_object(val, path)

    malformed = get("$.op").isNull() | get("$.source.table").isNull()
    ddl = get("$.tableChanges").isNotNull()
    return df.select(
        "key",
        ddl.alias("ddl"),
        (~ddl & val.isNull()).alias("tombstone"),
        (~ddl & val.isNotNull() & malformed).alias("malformed"),
        F.when(get("$.op").isNull(), "not_an_envelope")
        .otherwise("missing_source_table")
        .alias("reason"),
        get("$.source.table").alias("table"),
        get("$.source.db").alias("db"),
        get("$.transaction.id").alias("tx_id"),
        (
            get("$.status").isNotNull()
            & get("$.id").isNotNull()
            & get("$.op").isNull()
        ).alias("boundary"),
        get("$.event_count").cast("long").alias("event_count"),
    )


def _routed(df):
    r = route_envelopes(df)
    malformed = F.col("op").isNull() | F.col("table").isNull()
    return r.select(
        "key",
        "ddl",
        (~F.col("ddl") & F.col("value").isNull()).alias("tombstone"),
        (~F.col("ddl") & F.col("value").isNotNull() & malformed).alias("malformed"),
        F.when(F.col("op").isNull(), "not_an_envelope")
        .otherwise("missing_source_table")
        .alias("reason"),
        "table",
        "db",
        "tx_id",
        "boundary",
        "event_count",
    )


def _frame(spark, values: dict):
    return spark.createDataFrame(
        list(values.items()), "key string, value string"
    )


def test_routing_matches_path_predicates(spark):
    df = _frame(spark, EDGE_VALUES)
    want = {r["key"]: r.asDict() for r in _oracle(df).collect()}
    got = {r["key"]: r.asDict() for r in _routed(df).collect()}
    assert set(got) == set(EDGE_VALUES)
    for k in EDGE_VALUES:
        assert got[k] == want[k], k


def test_pipeline_dlq_matches_path_predicates(spark, tmp_path):
    """End to end: the records the oracle calls malformed land in _dlq
    with its reason, nothing else does, and the good envelopes merge.
    Also a ``source`` that is a string of JSON text: the one-parse
    routing reads it as an object, the path predicate does not — the
    decode check must still quarantine it as ``missing_source_table``."""
    values = dict(EDGE_VALUES)
    values["source_json_text"] = _env(source=json.dumps({"table": "t"}))
    df = _frame(spark, values)
    oracle = _oracle(df)
    want = {
        r["key"]: r["reason"]
        for r in oracle.filter("malformed").collect()
    }
    assert want["source_json_text"] == "missing_source_table"
    spec = PipelineSpec(
        name="routing",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("t", ["id"], ROW_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe = Pipeline(spark, spec)
    pipe.apply_batch(df)
    got = {r["key"]: r["reason"] for r in pipe.read_dlq().collect()}
    assert got == want
    ids = {r["id"] for r in pipe.read_table("t").collect()}
    assert ids == {1, 2, 3, 4, 5, 6}
