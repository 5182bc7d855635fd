"""Batch sinks & file-compaction helpers (SURVEY §2.4, §4.4).

The reference's sink surface is Kafka topics + an implied Hudi lake
(`/root/reference/README.md:22-32`); the engine's is parquet directories
(TableStore for CDC state, these helpers for analytics outputs). The
100 TB concern addressed here is the small-files problem: a streaming
merge or a fine-grained partitionBy write produces thousands of tiny
files that destroy later scan performance; compaction rewrites a
directory at a target file size with one job.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024  # match maxPartitionBytes


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Analytics-table writer: partitioned parquet (partition pruning for
    downstream readers comes free from the directory layout)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a parquet directory."""
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet dir with ~target-sized files; returns the new
    file count. Uses coalesce (no shuffle) sized from the on-disk bytes.
    Swap discipline: write to a staging sibling, rename away the old dir,
    rename staging into place, drop the old dir. The two renames are NOT
    one atomic step — a crash between them leaves ``<path>._old`` holding
    the intact data, which the next call (or :func:`recover`) restores
    before doing anything else. Readers racing the swap should retry on
    ENOENT.
    """
    import shutil

    recover(path)
    staging = Path(path.rstrip("/") + "._compact")
    shutil.rmtree(staging, ignore_errors=True)  # stale staging from a crash
    n_files, total = dir_stats(path)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    if n_files <= n_out:
        return n_files
    df = spark.read.parquet(path)
    if partition_by:
        w = df.repartition(n_out, *partition_by).write.mode("overwrite").partitionBy(
            *partition_by
        )
    else:
        w = df.coalesce(n_out).write.mode("overwrite")
    w.parquet(str(staging))
    backup = Path(path.rstrip("/") + "._old")
    Path(path).rename(backup)
    staging.rename(path)
    shutil.rmtree(backup, ignore_errors=True)
    return dir_stats(path)[0]


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative ints, as a codegen
    column expression: bit i of ``x`` lands at position 2i, bit i of ``y``
    at 2i+1. Clusters 2-D locality into 1-D sort order so a range box on
    EITHER column touches few files — the standard lakehouse multi-column
    clustering trick, built purely from shifts/ands (whole-stage codegen,
    no UDF).

    PRECONDITION: inputs must already lie in [0, 2^bits) — bits above
    that are silently discarded. :func:`optimize_layout` min-max
    normalizes raw columns into that range before calling this."""
    from pyspark.sql import functions as F

    xx = F.col(x) if isinstance(x, str) else x
    yy = F.col(y) if isinstance(y, str) else y
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(xx.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(yy.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return out


def optimize_layout(
    spark: SparkSession,
    path: str,
    sort_cols: list[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    zorder_pair: tuple[str, str] | None = None,
) -> int:
    """Re-cluster a parquet dir so file-level min/max statistics prune
    range scans: ``repartitionByRange`` on the sort key gives files
    DISJOINT key ranges (parallel, sampled range boundaries — no single
    sorter), ``sortWithinPartitions`` tightens row-group stats inside
    each file. With ``zorder_pair=(x, y)`` the sort key is the Morton
    code of the two columns (see :func:`zorder_key`), trading perfect
    single-column clustering for good locality on both.

    At 100 TB this is the difference between a timestamp-range query
    reading every file and reading ~range/total of them: Spark's parquet
    reader (and any downstream engine) skips whole files/row-groups whose
    min/max cannot match the predicate. Same crash-safe staging swap as
    :func:`compact`. Returns the new file count."""
    import shutil

    recover(path)
    staging = Path(path.rstrip("/") + "._optimize")
    shutil.rmtree(staging, ignore_errors=True)
    _, total = dir_stats(path)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    if zorder_pair is not None:
        from pyspark.sql import functions as F

        # Min-max normalize both columns into [0, 2^bits) FIRST: the
        # Morton interleave only sees the low `bits` bits, so a
        # wide-range column (epoch millis ~1.7e12) fed in raw would
        # contribute pure noise — the z-code would cluster on a ~65 s
        # timestamp cycle and range queries would prune nothing
        # (review r7). One extra min/max agg over the frame being
        # rewritten anyway.
        zx, zy = zorder_pair
        bits = 16
        mm = df.agg(
            F.min(F.col(zx).cast("double")).alias("xlo"),
            F.max(F.col(zx).cast("double")).alias("xhi"),
            F.min(F.col(zy).cast("double")).alias("ylo"),
            F.max(F.col(zy).cast("double")).alias("yhi"),
        ).first()

        def _norm(c, lo_, hi_):
            span = (hi_ - lo_) if (lo_ is not None and hi_ is not None and hi_ > lo_) else 1.0
            base = lo_ if lo_ is not None else 0.0
            scaled = (c.cast("double") - F.lit(base)) / F.lit(span)
            return (scaled * F.lit((1 << bits) - 1)).cast("long")

        df = df.withColumn(
            "__z",
            zorder_key(
                _norm(F.col(zx), mm["xlo"], mm["xhi"]),
                _norm(F.col(zy), mm["ylo"], mm["yhi"]),
                bits=bits,
            ),
        )
        clustered = (
            df.repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        clustered = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    clustered.write.mode("overwrite").parquet(str(staging))
    backup = Path(path.rstrip("/") + "._old")
    Path(path).rename(backup)
    staging.rename(path)
    shutil.rmtree(backup, ignore_errors=True)
    return dir_stats(path)[0]


def layout_stats(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max of ``cols`` — the audit of what file skipping can
    prune. One scan grouped by ``input_file_name`` (file-count-sized
    output)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    )


def files_touched(stats_rows: list, col: str, lo, hi) -> int:
    """How many files a ``col BETWEEN lo AND hi`` scan must read, given
    :func:`layout_stats` output rows (driver-side; row count = #files).
    A file whose min/max is None (all-NULL column in that file) counts
    as touched — unknown stats cannot prune (review r7: the old strict
    comparison raised TypeError on None)."""
    def _touched(r) -> bool:
        mx, mn = r[f"max_{col}"], r[f"min_{col}"]
        if mx is None or mn is None:
            return True
        return not (mx < lo or mn > hi)

    return sum(1 for r in stats_rows if _touched(r))


def recover(path: str) -> bool:
    """Restore a dataset left mid-swap by a crashed :func:`compact`:
    if ``<path>._old`` exists and ``path`` is missing, the first rename
    completed but the second didn't — move the old data back. Returns
    True when a recovery happened."""
    import shutil

    backup = Path(path.rstrip("/") + "._old")
    if backup.exists():
        if not Path(path).exists():
            backup.rename(path)
            return True
        shutil.rmtree(backup, ignore_errors=True)
    return False
