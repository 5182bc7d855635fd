"""Shared maintenance for the per-document indexes over a CDC-ingested
table (``dedup_index.DedupIndex``, ``search_index.SearchIndex``).

Each index derives rows keyed by the document id (``_index_rows``); this
base folds a micro-batch in by anti-joining the touched ids out of the
current index and re-inserting the live documents' rows, through the
store's keyed read/replace — so the index follows whatever layout
(``n_buckets`` key buckets; 1 = the whole index) the store is asked for,
including a one-time whole rewrite when that count changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class KeyedIndex:
    """An index table ``<table>__<suffix>`` with one or more rows per
    live document, keyed by an ``id`` column."""

    suffix = ""

    def __init__(
        self,
        store,
        table: str,
        id_col: str | None = None,
        text_col: str | None = None,
        n_buckets: int = 1,
    ):
        """``id_col``/``text_col`` are required for maintenance; lookups
        over an existing index need only the store and table.
        ``n_buckets`` stores the index key-bucketed by id: an update then
        rewrites only the buckets the batch touched, making maintenance
        O(batch), not O(index). Use the data table's bucketing so the
        caller's bucket list carries over."""
        self.store = store
        self.table = table
        self.index_table = f"{table}__{self.suffix}"
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets

    def _index_rows(self, docs: DataFrame) -> DataFrame:
        raise NotImplementedError

    def update(
        self,
        spark: SparkSession,
        touched_state: DataFrame,
        affected: list[int] | None = None,
    ) -> None:
        """Fold one micro-batch into the index.

        ``touched_state`` is the post-merge state restricted to the keys
        the batch touched: data columns plus ``__deleted``. Touched ids
        are dropped from the index and live rows re-inserted — O(batch)
        index-row work plus one index rewrite. ``affected``: the touched
        ids' bucket list when the caller already collected it (same ids,
        same hash); None lets the store collect it."""
        touched = touched_state.select(
            F.col(self.id_col).alias("id"), self.text_col, "__deleted"
        )
        fresh = self._index_rows(
            touched.filter(~F.col("__deleted")).select(
                F.col("id").alias(self.id_col), self.text_col
            )
        )
        current, buckets = self.store.read_keys(
            spark, self.index_table, ["id"], self.n_buckets, touched, affected
        )
        new = fresh
        if current is not None:
            new = (
                current.drop("__bucket")
                .join(touched.select("id"), "id", "left_anti")
                .unionByName(fresh)
            )
        self.store.replace_keys(new, self.index_table, ["id"], self.n_buckets, buckets)

    def rebuild(self, spark: SparkSession, snapshot: DataFrame) -> None:
        """Recompute the whole index from a table snapshot and swap it in
        — the repair verb for index drift (e.g. a crash landed between
        the data write and the index write, leaving the index one batch
        behind; the atomic generation swap makes the repair itself safe
        to re-run)."""
        rows = self._index_rows(snapshot)
        self.store.replace_keys(rows, self.index_table, ["id"], self.n_buckets, None)

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read(spark, self.index_table)
