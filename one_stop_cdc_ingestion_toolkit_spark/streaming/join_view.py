"""Incrementally-maintained DENORMALIZED join view over two CDC tables.

The reference lands change streams in lake tables
(`/root/reference/README.md:22-32`); the first thing analytics does with
a fact + dimension pair is join them. Recomputing the join per
micro-batch is O(state); this view maintains ``fact LEFT JOIN dim ON
fact.join_col = dim.<pk>`` in O(touched keys):

- a batch touching fact keys K_f upserts exactly those view rows
  (post-merge fact rows for K_f joined against the dim's current live
  state, restricted to their join keys);
- a batch touching dim keys K_d rewrites the dim columns of exactly the
  view rows whose join key ∈ K_d (the view itself is the lookup
  structure — no fact rescan, which is what makes late dim updates
  affordable at fact scale).

LEFT OUTER semantics are deliberate: every live fact row is always
present in the view (dim columns NULL until/unless the dim row exists),
so a late-arriving or deleted dim row only ever touches EXISTING view
rows. An inner-join view would need a fact-side lookup by join key to
resurrect unmatched facts — at 100 TB that demands the fact store be
bucketed by join key; readers who want inner semantics filter
``dim_pk IS NOT NULL`` (one codegen predicate) instead. Within one
micro-batch that changes both sides, per-table maintenance runs in
table order and converges at the batch boundary: whichever side runs
second re-reads the other's POST-merge state.

Consistency protocol (same as ``agg_view.AggView``): the view records
how many pointer states of EACH base table it reflects; a gap on either
side (crash between a base write and the view write, or a view declared
over existing tables) triggers a full rebuild from the two merged
snapshots. Both the upsert and the dim rewrite are idempotent, so a
replayed micro-batch converges.

Scale: view writes go through the TableStore swap (bucket the view by
join key via ``n_buckets`` on its own table for the 100 TB path); the
per-batch joins touch |K| keys on one side and the view rows sharing
those join keys on the other — never a full base scan outside the
rebuild repair path.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class JoinViewSpec:
    """fact LEFT JOIN dim ON fact.join_col = dim key (single-column)."""

    fact: str  # fact table name (view keyed by its key_cols)
    dim: str  # dimension table name (key_cols must be [join key])
    join_col: str  # fact column equated with the dim's single key col
    dim_cols: list[str]  # dim attribute columns copied into the view

    @property
    def view_table(self) -> str:
        return f"{self.fact}__joinview_{self.dim}"


class JoinView:
    """One standing fact⟕dim view, maintained from the change stream."""

    def __init__(
        self,
        store,
        spec: JoinViewSpec,
        fact_keys: list[str],
        dim_key: str,
        dim_schema=None,
    ):
        self.store = store
        self.spec = spec
        self.fact_keys = fact_keys
        self.dim_key = dim_key
        # view column names for the dim attributes (prefixed: a dim
        # attribute may collide with a fact column name)
        self.view_dim_cols = {c: f"{spec.dim}__{c}" for c in spec.dim_cols}
        # declared dim types: the no-dim-yet branch of _join_dim must
        # emit TYPED null columns — an untyped F.lit(None) is NullType,
        # which the parquet writer rejects, crashing the first view
        # materialization before any dim row exists (review r7)
        self.dim_types = (
            {f.name: f.dataType for f in dim_schema.fields}
            if dim_schema is not None
            else {}
        )

    # -- consistency metadata ---------------------------------------------

    def _meta_file(self):
        return self.store.root / self.spec.view_table / "_VIEW_BASE"

    def applied_upto(self) -> dict | None:
        """Torn/unparseable meta reads as None → the sync check repairs
        by rebuild instead of crash-looping (review r7)."""
        f = self._meta_file()
        if not f.exists():
            return None
        try:
            return json.loads(f.read_text())
        except json.JSONDecodeError:
            return None

    def _record(self, fact_upto: int, dim_upto: int) -> None:
        # atomic replace like the TableStore pointer flip (review r7)
        import os

        f = self._meta_file()
        f.parent.mkdir(parents=True, exist_ok=True)
        tmp = f.with_name("_VIEW_BASE.tmp")
        tmp.write_text(json.dumps({"fact_upto": fact_upto, "dim_upto": dim_upto}))
        os.replace(tmp, f)

    def in_sync(self, fact_upto: int, dim_upto: int) -> bool:
        meta = self.applied_upto()
        return meta is not None and meta == {
            "fact_upto": fact_upto,
            "dim_upto": dim_upto,
        }

    # -- shared pieces -----------------------------------------------------

    @staticmethod
    def _live(state: DataFrame | None) -> DataFrame | None:
        if state is None:
            return None
        if "__deleted" in state.columns:
            state = state.filter(~F.col("__deleted"))
        # __bucket is the bucketed store's internal partition column
        # (read / read_keys on a bucketed table) — leaking it into the
        # materialized view exposes a spurious column and breaks the
        # union with a view built pre-migration (review r7)
        return state.drop("__deleted", "__pos", "__ts_ms", "__bucket")

    def _join_dim(self, fact_rows: DataFrame, dim_live: DataFrame | None) -> DataFrame:
        """fact rows ⟕ dim attributes (prefixed), NULL when unmatched."""
        if dim_live is None:
            out = fact_rows
            for c, vc in self.view_dim_cols.items():
                out = out.withColumn(
                    vc, F.lit(None).cast(self.dim_types.get(c) or "string")
                )
            return out
        d = dim_live.select(
            F.col(self.dim_key).alias(self.spec.join_col),
            *[F.col(c).alias(vc) for c, vc in self.view_dim_cols.items()],
        )
        return fact_rows.join(d, self.spec.join_col, "left")

    # -- maintenance -------------------------------------------------------

    def rebuild(
        self,
        spark: SparkSession,
        fact_state: DataFrame | None,
        dim_state: DataFrame | None,
        fact_upto: int,
        dim_upto: int,
    ) -> None:
        """Full recompute — bootstrap and crash-gap repair path."""
        fact_live = self._live(fact_state)
        if fact_live is None:
            self.store.drop(self.spec.view_table)
        else:
            self.store.write(
                self._join_dim(fact_live, self._live(dim_state)),
                self.spec.view_table,
            )
        self._record(fact_upto, dim_upto)

    def on_fact_batch(
        self,
        spark: SparkSession,
        touched_keys: DataFrame,
        fact_state: DataFrame,
        dim_state: DataFrame | None,
        fact_upto: int,
        dim_upto: int,
    ) -> None:
        """Upsert the view rows for this batch's fact keys.

        ``touched_keys`` (fact key cols, distinct) bounds everything:
        post-merge fact rows for those keys are re-joined against the
        dim's current live rows for just their join keys. Deleted /
        absent fact keys simply do not re-enter the view."""
        view = self.store.read(spark, self.spec.view_table)
        touched_post = self._live(fact_state.join(touched_keys, self.fact_keys))
        dim_live = self._live(dim_state)
        if dim_live is not None:
            # restrict the dim side to the join keys this batch can
            # reference — at scale this is what lets the dim scan prune
            jks = touched_post.select(
                F.col(self.spec.join_col).alias(self.dim_key)
            ).distinct()
            dim_live = dim_live.join(jks, self.dim_key, "semi")
        fresh = self._join_dim(touched_post, dim_live)
        if view is None:
            merged = fresh
        else:
            # allowMissingColumns: after a DDL adds a fact column, fresh
            # carries it but the stored view does not (yet) — a strict
            # union crashed the batch once per schema evolution; the old
            # view rows read NULL for the new column until touched
            # (review r7)
            merged = view.join(
                touched_keys, self.fact_keys, "left_anti"
            ).unionByName(fresh, allowMissingColumns=True)
        self.store.write(merged, self.spec.view_table)
        self._record(fact_upto, dim_upto)

    def on_dim_batch(
        self,
        spark: SparkSession,
        touched_jks: DataFrame,
        dim_state: DataFrame,
        fact_upto: int,
        dim_upto: int,
    ) -> None:
        """Rewrite the dim columns of view rows whose join key changed.

        ``touched_jks`` is one column named after the fact's join_col.
        View rows outside those keys pass through untouched; rows inside
        re-join the dim's post-merge live state (a deleted dim row nulls
        them out — LEFT semantics)."""
        view = self.store.read(spark, self.spec.view_table)
        if view is None:  # no fact rows yet — nothing to denormalize
            self._record(fact_upto, dim_upto)
            return
        unaffected = view.join(touched_jks, self.spec.join_col, "left_anti")
        affected = view.join(touched_jks, self.spec.join_col, "semi").drop(
            *self.view_dim_cols.values()
        )
        refreshed = self._join_dim(
            affected, self._live(dim_state.join(
                touched_jks.select(
                    F.col(self.spec.join_col).alias(self.dim_key)
                ),
                self.dim_key,
            ))
        )
        self.store.write(
            unaffected.unionByName(refreshed, allowMissingColumns=True),
            self.spec.view_table,
        )
        self._record(fact_upto, dim_upto)

    # -- query side --------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read(spark, self.spec.view_table)


def recompute_reference(
    fact_state: DataFrame | None,
    dim_state: DataFrame | None,
    spec: JoinViewSpec,
    dim_key: str,
    dim_schema=None,
) -> DataFrame | None:
    """Batch recompute twin used by tests: what the view must equal."""
    if fact_state is None:
        return None
    fact_live = JoinView._live(fact_state)
    dim_live = JoinView._live(dim_state)
    if dim_live is None:
        types = (
            {f.name: f.dataType for f in dim_schema.fields}
            if dim_schema is not None
            else {}
        )
        out = fact_live
        for c in spec.dim_cols:
            out = out.withColumn(
                f"{spec.dim}__{c}", F.lit(None).cast(types.get(c) or "string")
            )
        return out
    d = dim_live.select(
        F.col(dim_key).alias(spec.join_col),
        *[F.col(c).alias(f"{spec.dim}__{c}") for c in spec.dim_cols],
    )
    return fact_live.join(d, spec.join_col, "left")
