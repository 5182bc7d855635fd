"""Debezium change-event envelope decoding.

The reference pins Debezium 2.2.0 (`/root/reference/bin/constants.sh:11-12`)
whose public envelope contract is: ``before: struct|null, after:
struct|null, op: 'c'|'r'|'u'|'d', ts_ms: long, source: struct{db, table,
pos, server_id, ...}`` with a stringified-PK record key
(`/root/reference/bin/mskc-connector.sh:438-441`). Three wire formats:

- **JSON** — ``from_json`` with the envelope StructType (tested path).
- **Avro via Glue SR** (`bin/mskc-connector.sh:434-447`) — plain
  ``from_avro`` on the value bytes; requires the spark-avro package.
- **Avro via Confluent SR** (`bin/mskc-connector.sh:449-459`) — the value
  carries a 5-byte header (magic 0x0 + big-endian int32 schema id) before
  the Avro body; :func:`strip_confluent_header` splits it so the schema id
  can be dispatched against the schema store.

All decoding is per-row, shuffle-free, and stays JVM-side (from_json /
from_avro / substring) — at 100 TB the decode stage is a pure map over
Kafka partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Debezium operation codes: insert, snapshot read, update, delete.
OPS = ("c", "r", "u", "d")

#: Fields of the envelope's ``source`` struct the engine relies on.
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("pos", T.LongType(), True),
        T.StructField("server_id", T.LongType(), True),
    ]
)


def envelope_schema(row_schema: T.StructType) -> T.StructType:
    """Envelope StructType for a table with the given row schema."""
    return T.StructType(
        [
            T.StructField("before", row_schema, True),
            T.StructField("after", row_schema, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("source", SOURCE_SCHEMA, True),
        ]
    )


def decode_json(
    df: DataFrame,
    row_schema: T.StructType,
    value_col: str = "value",
    key_col: str | None = "key",
    keep_raw: bool = False,
) -> DataFrame:
    """Decode a JSON-serialized envelope column into typed envelope columns.

    Input: raw records with a string ``value`` (and optional string key —
    the reference's key converter is StringConverter with schemas disabled).
    Output columns: ``key?, before, after, op, ts_ms, source`` — plus the
    raw value string as ``_raw`` when ``keep_raw`` (so callers can
    quarantine records whose payload failed to decode).
    """
    env = F.from_json(F.col(value_col).cast("string"), envelope_schema(row_schema))
    cols = []
    if key_col is not None and key_col in df.columns:
        cols.append(F.col(key_col).cast("string").alias("key"))
    if keep_raw:
        cols.append(F.col(value_col).cast("string").alias("_raw"))
    cols += [
        env["before"].alias("before"),
        env["after"].alias("after"),
        env["op"].alias("op"),
        env["ts_ms"].alias("ts_ms"),
        env["source"].alias("source"),
    ]
    return df.select(*cols)


def route_envelopes(df: DataFrame) -> DataFrame:
    """Classify raw ``(key?, value)`` change records in one JSON parse.

    One ``json_tuple`` over the value pulls the top-level routing fields;
    the nested ``source.table``/``source.db``/``transaction.id`` are read
    from the small ``source``/``transaction`` texts it returns. Output:
    ``key, value`` (as strings) plus

    - ``op``, ``table``, ``db``, ``tx_id`` — the envelope's routing fields;
    - ``ddl`` — a schema-change event (``tableChanges`` present);
    - ``boundary`` — a transaction BEGIN/END record (``status`` and ``id``
      present, no ``op``), with its ``status``, ``boundary_id`` and
      ``event_count``.

    ``json_tuple`` extracts each field exactly as the equivalent
    ``get_json_object('$.<field>')`` does (``tests/test_routing.py`` holds
    those predicates as the oracle), except that a duplicated top-level
    key resolves to its last occurrence, not its first, and a ``source``
    that is a *string* of JSON text reads as that object — the decode
    check (``Pipeline``) quarantines such a record as
    ``missing_source_table``, as the path predicate did.
    """
    key = (
        F.col("key").cast("string")
        if "key" in df.columns
        else F.lit(None).cast("string")
    )
    fields = ("op", "tableChanges", "source", "transaction", "status", "id",
              "event_count")
    parsed = df.select(
        key.alias("key"),
        F.col("value").cast("string").alias("value"),
        F.json_tuple(F.col("value").cast("string"), *fields).alias(*fields),
    )
    return parsed.select(
        "key",
        "value",
        "op",
        F.get_json_object("source", "$.table").alias("table"),
        F.get_json_object("source", "$.db").alias("db"),
        F.get_json_object("transaction", "$.id").alias("tx_id"),
        F.col("tableChanges").isNotNull().alias("ddl"),
        (
            F.col("status").isNotNull()
            & F.col("id").isNotNull()
            & F.col("op").isNull()
        ).alias("boundary"),
        "status",
        F.col("id").alias("boundary_id"),
        F.col("event_count").cast("long").alias("event_count"),
    )


def strip_confluent_header(value: Column) -> tuple[Column, Column]:
    """Split a Confluent-wire-format value into (schema_id, avro_payload).

    Wire format: 1 magic byte (0x0) + 4-byte big-endian schema id + body.
    Returns the schema id as an int column and the body as binary.
    """
    schema_id = F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("int")
    payload = F.substring(value, 6, 2147483647)
    return schema_id.alias("schema_id"), payload.alias("avro_payload")


def avro_available(spark) -> bool:
    """True when the spark-avro data source is on the classpath."""
    try:
        from pyspark.sql.avro.functions import to_avro

        spark.range(1).select(
            to_avro(F.struct(F.lit(1).alias("x"))).alias("b")
        ).collect()
        return True
    except Exception:  # noqa: BLE001
        return False


def decode_avro(
    df: DataFrame,
    avro_schema_json: str,
    value_col: str = "value",
    confluent_wire_format: bool = False,
    expected_schema_id: int | None = None,
) -> DataFrame:
    """Decode an Avro-serialized envelope (Glue SR = raw body; Confluent SR
    = 5-byte header first). Requires the spark-avro package on the
    classpath — callers should gate on :func:`avro_available`.

    LIMITATION (single reader schema): ``from_avro`` decodes every record
    with ONE schema, and Avro binary is not self-describing — a topic
    holding records written under MULTIPLE registry ids (mid-evolution)
    would decode old bodies with the new schema and produce silently
    wrong values. The wire-format path therefore VALIDATES each record:
    magic byte 0x0, and (when ``expected_schema_id`` is given) the
    header's schema id — a mismatch fails the task loudly instead of
    misdecoding. Mixed-id topics go through :func:`avro_to_json`, whose
    per-record schema-id dispatch handles them correctly (review r7).
    """
    from pyspark.sql.avro.functions import from_avro

    value = F.col(value_col)
    if confluent_wire_format:
        schema_id, payload = strip_confluent_header(value)
        ok = F.substring(value, 1, 1) == F.lit(b"\x00")
        if expected_schema_id is not None:
            ok = ok & (schema_id == F.lit(expected_schema_id))
        value = F.when(ok, payload).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bad Confluent wire header (magic/schema id): "),
                    F.hex(F.substring(F.col(value_col), 1, 5)),
                )
            )
        )
    env = from_avro(value, avro_schema_json)
    return df.select(
        env["before"].alias("before"),
        env["after"].alias("after"),
        env["op"].alias("op"),
        env["ts_ms"].alias("ts_ms"),
        env["source"].alias("source"),
    )


def avro_to_json(
    df: DataFrame,
    schemas_by_id: dict[int, str],
    value_col: str = "value",
    confluent_wire_format: bool = True,
) -> DataFrame:
    """Executable no-jar Avro path: decode Confluent-wire-format Avro
    values executor-side with the pure-Python codec (public Avro binary
    spec — ``sources/avro_codec.py``) and re-emit the envelope as a JSON
    string, re-entering the common :func:`decode_json` path.

    ``schemas_by_id`` maps registry schema ids → writer schema JSON: the
    engine's schema-id dispatch for the reference's Confluent SR setup
    (``bin/mskc-connector.sh:449-459``). Unknown ids raise (a registry
    miss is a pipeline config error, not skippable data).

    Data-shaped failures do NOT halt the stream (review r7 — a poison
    record would otherwise fail the same offset on every restart, with
    no way to drain it): a null Kafka value (Debezium's log-compaction
    tombstone, ``tombstones.on.delete`` default true) is DROPPED — it
    carries no envelope; a malformed body (bad magic, truncated Avro,
    corrupt varints) is re-emitted as a non-envelope JSON string
    carrying the error + base64 raw bytes, which the downstream
    quarantine routes to the DLQ exactly like a malformed JSON payload.
    Avro ``bytes``/``fixed`` values (Debezium's ``precise`` decimals,
    BLOBs) serialize as base64 strings — the same convention Debezium's
    own JSON converter uses.

    Arrow-batched (mapInPandas); per-row work is bounded by envelope
    size. Writer-schema name indexes are built once per schema id, not
    per record. Prefer :func:`decode_avro` (JVM, spark-avro) where the
    package exists — gate with :func:`avro_available`.
    """
    import base64 as _b64
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    from one_stop_cdc_ingestion_toolkit_spark.sources import avro_codec

    parsed = {sid: avro_codec.parse_schema(s) for sid, s in schemas_by_id.items()}
    # one name index per schema, built once — decode() would otherwise
    # re-walk the whole schema tree per record (review r7)
    names_by_sid: dict[int, dict] = {}
    for sid, schema in parsed.items():
        names_by_sid[sid] = {}
        avro_codec._collect_names(schema, names_by_sid[sid])  # noqa: SLF001
    has_key = "key" in df.columns
    out_schema = "key string, value string" if has_key else "value string"

    def _jdefault(o):
        if isinstance(o, (bytes, bytearray)):
            return _b64.b64encode(bytes(o)).decode("ascii")
        raise TypeError(f"not JSON serializable: {type(o).__name__}")

    def _quarantine_payload(body: bytes, err: Exception) -> str:
        return _json.dumps(
            {
                "__avro_error": f"{type(err).__name__}: {err}"[:200],
                "__raw_b64": _b64.b64encode(body).decode("ascii"),
            }
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            values = []
            keep = []
            for i, raw in enumerate(pdf[value_col]):
                if raw is None:
                    continue  # tombstone: no envelope, drop
                body = bytes(raw)
                try:
                    if confluent_wire_format:
                        if len(body) < 5 or body[0] != 0:
                            raise ValueError(
                                "not Confluent wire format (magic != 0)"
                            )
                        sid = int.from_bytes(body[1:5], "big")
                        if sid not in parsed:
                            # config error, not data — fail loudly
                            raise KeyError(
                                f"schema id {sid} not in registry map"
                            )
                        schema, names, payload = (
                            parsed[sid], names_by_sid[sid], body[5:],
                        )
                    else:
                        sid = next(iter(parsed))
                        schema, names, payload = (
                            parsed[sid], names_by_sid[sid], body,
                        )
                    values.append(
                        _json.dumps(
                            avro_codec.decode(schema, payload, names),
                            default=_jdefault,
                        )
                    )
                except KeyError:
                    raise
                except (ValueError, TypeError) as err:
                    # includes AvroCodecError (a ValueError): quarantine
                    values.append(_quarantine_payload(body, err))
                keep.append(i)
            out = {"value": values}
            if has_key:
                out = {"key": pdf["key"].values[keep], "value": values}
            yield pd.DataFrame(out)

    cols = (["key", value_col] if has_key else [value_col])
    return df.select(*cols).mapInPandas(batches, out_schema)


def change_key(k: str, env: Column | None = None) -> Column:
    """Key column ``k`` of a change: from the after-image, else (a delete)
    the before-image — of the envelope struct ``env``, or of top-level
    ``after``/``before`` columns."""
    after = F.col("after") if env is None else env["after"]
    before = F.col("before") if env is None else env["before"]
    return F.coalesce(after[k], before[k])


def flatten_changes(decoded: DataFrame, key_cols: list[str]) -> DataFrame:
    """Project an envelope stream to the merge-ready change shape:

    key columns (coalesced from after/before so deletes keep their key),
    ``row`` (the full after-image struct, null for deletes), ``op``, and
    the total-order sequence (``pos``, ``ts_ms``) — per-topic ordering is
    the reference's tasks.max=1 guarantee (`bin/mskc-connector.sh:283-286`),
    re-expressed here as an explicit sort key so at-least-once + reorder
    replay converges to the same state.
    """
    cols = [change_key(k).alias(k) for k in key_cols]
    return decoded.select(
        *cols,
        F.col("after").alias("row"),
        F.col("op"),
        F.col("source.pos").alias("pos"),
        F.col("ts_ms"),
        F.col("source.db").alias("db"),
        F.col("source.table").alias("table"),
    )
