"""CDC apply: latest-wins merge of a change stream into materialized state.

The reference's pipeline materializes tables-as-topics for downstream
merge (Hudi hint, `/root/reference/README.md:22-32`); this module is that
merge, Delta-free.

State model — the key design point: the materialized state carries, per
key, the **applied sequence** (``__pos``, ``__ts_ms``) and a **tombstone
flag** (``__deleted``). Without the sequence, a stale out-of-order update
arriving in a *later* micro-batch would overwrite newer state; without
tombstones, a redelivered old insert would resurrect a deleted key. With
both, the merge is a pure max-by-sequence per key, so any interleaving /
duplication / reordering of at-least-once delivery converges to the same
state (idempotent, order-insensitive across batches — the engine's
re-expression of the reference's tasks.max=1 total order,
`bin/mskc-connector.sh:283-286,378`).

Merge = union(state-as-pseudo-changes, batch) → one window on the key
ordered by (pos, ts_ms) desc → keep rn=1. One shuffle, on the key; AQE
handles skewed keys. At 100 TB, state is partitioned by key-hash
buckets and only batch-affected buckets are rewritten
(``TableStore``); tombstones are GC'd once older than the redelivery horizon
(``expire_tombstones``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

META_COLS = ("__pos", "__ts_ms", "__deleted")


def latest_change_per_key(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: tuple[str, ...] = ("pos", "ts_ms"),
) -> DataFrame:
    """One winning change row per key: max (pos, ts_ms) wins."""
    w = W.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    state: DataFrame | None,
    changes: DataFrame,
    key_cols: list[str],
    order_cols: tuple[str, ...] = ("pos", "ts_ms"),
) -> DataFrame:
    """Merge a flattened change batch (``debezium.flatten_changes`` shape:
    key cols + ``row`` after-image + ``op`` + order cols) into the state.

    ``state`` is None for the first batch, else a prior return value
    (row columns + ``__pos``/``__ts_ms``/``__deleted``). Returns the new
    state INCLUDING tombstones — use :func:`snapshot` for the live rows.
    """
    row_fields = changes.schema["row"].dataType.fields
    data_cols = [f.name for f in row_fields]
    batch = changes.select(*key_cols, "row", "op", *order_cols)
    if state is not None:
        # Align old-schema state to the CURRENT row schema — this is
        # BACKWARD compatibility applied to live state: columns the new
        # schema dropped are not selected; columns it added (nullable by
        # the SchemaStore gate) read as NULL from old rows. Existing
        # columns are CAST to the current type: under the NONE/FORWARD
        # modes a type can legally change (e.g. INT → VARCHAR), and
        # without the explicit cast the union's implicit coercion picks
        # its own winner (observed: string+int widened to BIGINT, which
        # then throws on non-numeric new data instead of widening old
        # ints to string).
        pseudo_row = F.struct(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in state.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in row_fields
            ]
        )
        pseudo = state.select(
            *key_cols,
            F.when(F.col("__deleted"), F.lit(None)).otherwise(pseudo_row).alias("row"),
            F.when(F.col("__deleted"), F.lit("d")).otherwise(F.lit("r")).alias("op"),
            F.col("__pos").alias(order_cols[0]),
            F.col("__ts_ms").alias(order_cols[1]),
        )
        batch = batch.unionByName(pseudo)
    winners = latest_change_per_key(batch, key_cols, order_cols)
    return winners.select(
        *key_cols,
        *[F.col(f"row.{c}").alias(c) for c in data_cols if c not in key_cols],
        F.col(order_cols[0]).alias("__pos"),
        F.col(order_cols[1]).alias("__ts_ms"),
        (F.col("op") == "d").alias("__deleted"),
    )


def snapshot(state: DataFrame) -> DataFrame:
    """User-facing view of the state: live rows, no merge metadata."""
    return state.filter(~F.col("__deleted")).drop(*META_COLS)


def expire_tombstones(state: DataFrame, min_pos: int) -> DataFrame:
    """GC tombstones whose sequence is older than the redelivery horizon
    (e.g. the checkpointed min offset across sources)."""
    return state.filter(~(F.col("__deleted") & (F.col("__pos") < min_pos)))

