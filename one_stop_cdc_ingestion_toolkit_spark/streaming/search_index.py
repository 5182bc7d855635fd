"""Incrementally-maintained full-text (BM25) search index over a
CDC-ingested document table.

Same maintenance contract as ``dedup_index.DedupIndex``: each
micro-batch re-derives index rows ONLY for the keys the merge touched
(driven by post-merge state, so redelivery and cross-batch reordering
converge) and swaps them in with the store's atomic generation pointer —
O(batch) content work, idempotent under foreachBatch re-execution after
a crash.

Index layout — ONE table, two row kinds, so the whole index moves
atomically:

- term rows  ``(id, term, tf, dl)`` — one per distinct term of a live
  document (tf = term frequency, dl = document length in tokens);
- doc rows   ``(id, term=NULL, tf=0, dl)`` — one per live document, so
  corpus statistics (N, avgdl) are derivable from the index alone, and
  empty documents stay indexed.

Query path (:meth:`bm25`): filter term rows to the query terms (parquet
predicate pushdown prunes row groups — at scale, sort-within-bucket by
term makes this a range read), derive per-term document frequencies from
the slice, broadcast the 1-row corpus stats, score with the SAME
``bm25_partial`` expression the batch operator f106 uses, sum per doc,
TakeOrdered top-k. No corpus rescan anywhere. At 100 TB the N/avgdl
aggregate over doc rows should itself be cached per generation — noted,
not needed at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.operators.retrieval import (
    bm25_partial,
    tokenize,
)
from one_stop_cdc_ingestion_toolkit_spark.streaming.keyed_index import KeyedIndex


class SearchIndex(KeyedIndex):
    """BM25 search index for one document table, materialized in ``store``."""

    suffix = "search_idx"

    # -- maintenance -------------------------------------------------------

    def _index_rows(self, docs: DataFrame) -> DataFrame:
        """Term rows + doc rows for the given (id, text) documents.

        NULL text coalesces to an empty token array: ``size(NULL)`` is
        -1, which would otherwise flow into a doc row's dl and silently
        bias the corpus stats (N counts the doc, sum(dl) absorbs −1)
        for every BM25 query (review r7). A NULL-text doc indexes like
        an empty one: present in N, dl = 0, no term rows."""
        words = docs.select(
            F.col(self.id_col).alias("id"),
            F.coalesce(
                tokenize(F.col(self.text_col)),
                F.array().cast("array<string>"),
            ).alias("words"),
        )
        term_rows = (
            words.select("id", F.size("words").alias("dl"), F.explode("words").alias("term"))
            .groupBy("id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .select("id", "term", "tf", "dl")
        )
        doc_rows = words.select(
            "id",
            F.lit(None).cast("string").alias("term"),
            F.lit(0).cast("long").alias("tf"),
            F.size("words").cast("long").alias("dl"),
        )
        return term_rows.withColumn("dl", F.col("dl").cast("long")).unionByName(
            doc_rows
        )

    # -- queries (index-only: no corpus rescan) ----------------------------

    def bm25(self, spark: SparkSession, terms: list[str], k: int = 10) -> DataFrame:
        """Top-``k`` (id, score) for the bag-of-words query ``terms``,
        scored purely from the index."""
        idx = self.read(spark)
        if idx is None:
            raise ValueError(f"no search index for table: {self.table}")
        doc_rows = idx.filter(F.col("term").isNull())
        stats = doc_rows.agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
        sliced = idx.filter(F.col("term").isin(list(terms)))
        dfs = sliced.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        partial = bm25_partial(
            F.col("tf").cast("double"),
            F.col("dl").cast("double"),
            F.col("df").cast("double"),
            F.col("n").cast("double"),
            F.col("avgdl"),
        )
        return (
            sliced.join(F.broadcast(dfs), "term")
            .crossJoin(F.broadcast(stats))
            .select("id", partial.alias("p"))
            .groupBy("id")
            .agg(F.round(F.sum("p"), 4).alias("score"))
            .orderBy(F.desc("score"), "id")
            .limit(k)
        )
