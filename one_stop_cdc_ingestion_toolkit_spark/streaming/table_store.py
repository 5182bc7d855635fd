"""Materialized-table store: key-bucketed parquet generations behind one
atomic pointer.

The engine's analogue of the reference's tables-as-topics → lake tables
(the Hudi hint of the reference's README), without Delta. Every
table has one layout:

    <table>/gen-K/__bucket=i/...parquet   one generation per write
    <table>/_BUCKETS                      {bucket: generation} pointer
    <table>/_NBUCKETS                     count of the last whole rewrite
                                          with more than one bucket

A whole snapshot is the one-bucket map. Each write makes a NEW
generation and then flips the pointer file, so readers never see a
half-written generation, a batch re-run after a crash is safe (the
pointer still names the last complete generations), and generations no
retained state references are pruned after the flip. Tables of the
older snapshot layout (a ``_CURRENT`` pointer naming one generation
whose files sit at its root) are moved into the one-bucket map when a
store opens them.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession


def _parseable_lines(path: Path) -> list:
    """Complete JSON records of an append-only jsonl file. A crash mid-
    append leaves at most ONE torn line (single writer, O_APPEND) — it is
    skipped: the record never became durable, exactly like a crash one
    instruction earlier (crash-fuzz r8)."""
    if not path.exists():
        return []
    out = []
    with path.open() as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except ValueError:
                continue
    return out


def _tail_records(path: Path, n: int) -> list:
    """The last ``n`` complete records of an append-only jsonl file, oldest
    first, read back from EOF in chunks: the cost follows ``n`` and the
    record size, not the file's length. Unparseable lines (a torn last
    append) are skipped, as in `_parseable_lines`."""
    if n <= 0 or not path.exists():
        return []
    out: list = []
    with path.open("rb") as f:
        pos = f.seek(0, 2)
        tail = b""
        while pos > 0 and len(out) < n:
            step = min(pos, 1 << 16)
            pos -= step
            f.seek(pos)
            lines = (f.read(step) + tail).split(b"\n")
            # the first piece may continue a line that starts further back
            tail = lines.pop(0) if pos > 0 else b""
            for line in reversed(lines):
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except ValueError:
                    continue
                if len(out) == n:
                    break
    return out[::-1]


def _truncate_torn_tail(path: Path) -> None:
    """When the file's existing content does not end in a newline (a torn
    append), REMOVE the fragment — equivalent to crashing one instruction
    earlier, since the torn record never became durable. Truncation (not
    sealing with a newline, ADVICE r9) keeps the next seq/epoch exact: a
    sealed fragment became a newline-terminated junk line that counted as
    a complete record once it was no longer last, so seq/epoch numbers
    silently skipped values after the first repair."""
    if not path.exists() or not path.stat().st_size:
        return
    with path.open("rb+") as f:
        f.seek(0, 2)
        size = f.tell()
        f.seek(-1, 2)
        if f.read(1) == b"\n":
            return
        # scan backwards in chunks for the last newline; everything
        # after it is the torn fragment
        pos, chunk = size, 4096
        while pos > 0:
            lo = max(0, pos - chunk)
            f.seek(lo)
            buf = f.read(pos - lo)
            nl = buf.rfind(b"\n")
            if nl != -1:
                f.truncate(lo + nl + 1)
                return
            pos = lo
        f.truncate(0)


def _state(rec: dict) -> dict:
    """The bucket map of one _HISTORY record. A record of the older
    snapshot layout names its one generation, which is bucket 0 once
    the store has adopted the table."""
    state = rec["state"]
    return state if isinstance(state, dict) else {"0": state}


def key_bucket(n_buckets: int, *cols) -> Column:
    """THE key→bucket hash: ``pmod(xxhash64(cols...), n)`` as int.

    Bucket pruning is only correct because every read and write of a
    bucketed table agrees on this exact function; a drifted copy would
    silently mis-prune buckets and drop rows from reads (review r7).
    Only :class:`TableStore` calls it (``bucket_of`` /
    ``replace_keys``); tests use it to build bucketed frames by hand."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


class TableStore:
    """Key-bucketed snapshots: the 100 TB CDC state layout, and the one
    place that decides how a table is laid out.

    State is hash-partitioned into ``n_buckets`` by key; each merge batch
    rewrites ONLY the buckets its changes touch (a micro-batch touching
    0.1% of keys rewrites ~0.1% of the table, not all of it). The pointer
    maps every bucket to the generation holding its current state; a
    batch flips only the affected buckets' entries (atomic file replace),
    then prunes generations no retained state references. Readers union
    the per-bucket paths.

    Keyed-state writers (pipeline merge, tombstone GC, the dedup/search
    indexes) go through :meth:`read_keys` and :meth:`replace_keys` only,
    naming the bucket count they want (``n_buckets``; 1 = the whole
    snapshot, rewritten by :meth:`write`). When the stored count differs
    from the requested one, the table is read whole and rewritten whole,
    once, under the requested count.
    """

    def __init__(self, root: str | Path, retain: int = 0):
        """``retain``: how many PRIOR pointer states keep their data on
        disk (time travel depth). 0 = prune immediately (default; the
        CDC state tables don't need history). Every pointer flip is
        recorded in ``_HISTORY`` regardless, so lineage is auditable
        even where the data itself is pruned."""
        self.root = Path(root)
        self.retain = retain
        self.root.mkdir(parents=True, exist_ok=True)
        self._adopt_snapshots()

    def _adopt_snapshots(self) -> None:
        """Move tables of the older snapshot layout into the one-bucket
        map: a generation's loose files go into its ``__bucket=0``
        directory, and a ``_CURRENT`` pointer becomes ``_BUCKETS`` =
        {0: its generation}, unless a ``_BUCKETS`` already governs (a
        crash ended that table's migration after its flip). Every step
        repeats safely, so a crash midway is finished at the next open.
        History records of that layout are read by `_state`."""
        for gen in {f.parent for f in self.root.glob("*/gen-*/*.parquet")}:
            (gen / "__bucket=0").mkdir(exist_ok=True)
            for p in gen.iterdir():
                if not p.name.startswith("__bucket="):
                    p.rename(gen / "__bucket=0" / p.name)
        for cur in self.root.glob("*/_CURRENT"):
            if not (cur.parent / "_BUCKETS").exists():
                self._write_pointer(cur.parent, {"0": cur.read_text().strip()})
            cur.unlink()

    def _table_dir(self, table: str) -> Path:
        return self.root / table

    def _bucket_pointer(self, table: str) -> Path:
        return self._table_dir(table) / "_BUCKETS"

    def _count_file(self, table: str) -> Path:
        return self._table_dir(table) / "_NBUCKETS"

    def _history_file(self, table: str) -> Path:
        return self._table_dir(table) / "_HISTORY"

    def _log_state(self, table: str, state: dict) -> None:
        """Append one pointer state to the table's _HISTORY jsonl.

        The seq is the last complete record's seq + 1, read from the
        file's tail, so an append's cost does not grow with the table's
        age. Torn-tail safe (crash-fuzz r8): a kill mid-append can leave
        a PARTIAL last line with no trailing newline — the fragment is
        truncated away first (the torn record never became readable, so
        its seq is legitimately reused), so seqs run with no gaps
        (ADVICE r9)."""
        hf = self._history_file(table)
        _truncate_torn_tail(hf)
        last = self._last_seq(table)
        seq = 0 if last is None else last + 1
        with hf.open("a") as f:
            f.write(json.dumps({"seq": seq, "kind": "bucketed", "state": state}) + "\n")

    def history(self, table: str) -> list[dict]:
        """Pointer-flip history, oldest first: [{seq, kind, state, live}].
        ``live`` = the referenced data still exists (within ``retain``)."""
        tdir = self._table_dir(table)
        out = []
        for rec in _parseable_lines(self._history_file(table)):
            rec["state"] = _state(rec)
            rec["live"] = all((tdir / g).exists() for g in set(rec["state"].values()))
            out.append(rec)
        return out

    def read_as_of(
        self, spark: SparkSession, table: str, seq: int
    ) -> DataFrame | None:
        """Time-travel read: the table exactly as pointer state ``seq``
        (from :meth:`history`) saw it. Raises if that state's data has
        been pruned (older than ``retain``)."""
        recs = {r["seq"]: r for r in self.history(table)}
        if seq not in recs:
            return None
        rec = recs[seq]
        if not rec["live"]:
            raise ValueError(
                f"generation data for {table}@{seq} was pruned "
                f"(store retain={self.retain}); re-create the store with a "
                "larger retain to keep time-travel depth"
            )
        return self._read_map(
            spark, table, {int(b): g for b, g in rec["state"].items()}
        )

    def _live_states(self, table: str) -> list:
        """The pointer states whose data must survive pruning: the last
        ``retain + 1`` history entries (current + retained history), read
        from the file's tail so a write's cost does not grow with the
        table's age."""
        recs = _tail_records(self._history_file(table), self.retain + 1)
        return [_state(r) for r in recs]

    def _last_seq(self, table: str) -> int | None:
        """Seq of the most recent pointer flip: the last complete _HISTORY
        record, read from the file's tail. ``history()`` would also stat()
        every generation of every record to compute liveness — a
        per-micro-batch caller (log_epoch) doing that accumulates
        O(batches²) filesystem work (review r7). Torn-tail safe: only the
        final line can be torn (single writer, O_APPEND); an unparseable
        line is skipped for the one before it."""
        recs = _tail_records(self._history_file(table), 1)
        return recs[0]["seq"] if recs else None

    def history_len(self, table: str) -> int:
        """``len(self.history(table))`` read from the file's tail:
        `_log_state` numbers seqs gap-free from 0, so the count is the last
        seq + 1 (0 with no history). The view sync asks for it several
        times per batch, where parsing and stat()ing the whole history
        would grow with the table's age."""
        last = self._last_seq(table)
        return 0 if last is None else last + 1

    # -- cross-table consistent snapshots (epochs) ------------------------

    def _epoch_file(self) -> Path:
        return self.root / "_EPOCHS"

    def log_epoch(self, tables: list[str]) -> int:
        """Record a consistency point: the current pointer seq of every
        given table, as one epoch. A CDC pipeline calls this after a
        micro-batch has merged into ALL its tables, so an epoch is a
        cross-table-consistent view (no torn reads of a half-applied
        batch when reading via :meth:`read_epoch`)."""
        seqs = {}
        for t in tables:
            seq = self._last_seq(t)
            if seq is not None:
                seqs[t] = seq
        ef = self._epoch_file()
        _truncate_torn_tail(ef)
        last = _tail_records(ef, 1)
        epoch = last[0]["epoch"] + 1 if last else 0
        with ef.open("a") as f:
            f.write(json.dumps({"epoch": epoch, "tables": seqs}) + "\n")
        return epoch

    def epochs(self) -> list[dict]:
        return _parseable_lines(self._epoch_file())

    def read_epoch(
        self, spark: SparkSession, epoch: int
    ) -> dict[str, DataFrame] | None:
        """All tables of one epoch, each exactly as that epoch saw it —
        the cross-table time-travel read. Raises (via read_as_of) if the
        epoch is older than the store's ``retain`` depth."""
        recs = {e["epoch"]: e for e in self.epochs()}
        if epoch not in recs:
            return None
        return {
            t: self.read_as_of(spark, t, seq)
            for t, seq in sorted(recs[epoch]["tables"].items())
        }

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def drop_tables(self, pattern: str) -> list[str]:
        """Drop every table whose name matches the regex — the engine
        analogue of the reference's regex topic deletion
        (`/root/reference/bin/mskc-connector.sh:97-114`,
        `bin/kafka-client.sh:50-68`). Best-effort idempotent."""
        import re

        rx = re.compile(pattern)
        dropped = [t for t in self.list_tables() if rx.fullmatch(t)]
        for t in dropped:
            self.drop(t)
        return dropped

    def list_tables(self) -> list[str]:
        return sorted(
            p.name
            for p in self.root.iterdir()
            if p.is_dir() and (p / "_BUCKETS").exists()
        )

    def bucket_map(self, table: str) -> dict[int, str]:
        ptr = self._bucket_pointer(table)
        if not ptr.exists():
            return {}
        return {int(k): v for k, v in json.loads(ptr.read_text()).items()}

    def bucket_dir(self, table: str, bucket: int, gen: str) -> Path:
        """The directory holding one bucket's rows in one generation."""
        return self._table_dir(table) / gen / f"__bucket={bucket}"

    def _read_map(
        self, spark: SparkSession, table: str, bmap: dict[int, str]
    ) -> DataFrame | None:
        """The union of the mapped bucket directories; None for an empty
        map (a batch that deleted every row pops every entry), instead of
        handing spark.read.parquet() zero paths."""
        if not bmap:
            return None
        paths = [str(self.bucket_dir(table, b, g)) for b, g in sorted(bmap.items())]
        # mergeSchema: buckets can sit at different generations that span a
        # compatible schema evolution; taking the schema from one file
        # would silently drop evolved columns from the others
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_buckets(
        self, spark: SparkSession, table: str, buckets: list[int] | None = None
    ) -> DataFrame | None:
        bmap = self.bucket_map(table)
        if buckets is not None:
            bmap = {b: g for b, g in bmap.items() if b in buckets}
        return self._read_map(spark, table, bmap)

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        return self.read_buckets(spark, table)

    def _bucket_count(self, table: str) -> int | None:
        """The bucket count of the table's last whole rewrite; None for an
        absent or one-bucket table, or an unknown count. Only a map
        written under the requested count may be pruned by it: under
        another count the same key sits in a different bucket, and the
        pruned read would miss its old row."""
        cf = self._count_file(table)
        return int(cf.read_text()) if cf.exists() else None

    def read_keys(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        n_buckets: int,
        keys: DataFrame | None = None,
        buckets: list[int] | None = None,
    ) -> tuple[DataFrame | None, list[int] | None]:
        """(state, buckets): the current state covering ``keys`` (any
        frame carrying ``key_cols``; duplicates are fine), and the bucket
        list to hand back to :meth:`replace_keys`.

        Under the requested count (above 1) only the buckets holding
        ``keys`` are read — the O(batch) maintenance read. ``buckets``
        reuses a list already collected for the same keys (the collect
        is bounded by n_buckets, never rows). Otherwise — one bucket,
        ``keys=None``, or a stored count that differs from the requested
        one — the whole table is read and the bucket list is None, which
        makes replace_keys rewrite the whole table."""
        bucket = None if keys is None else self.bucket_of(table, key_cols, n_buckets)
        if bucket is None:
            return self.read(spark, table), None
        if buckets is None:
            buckets = sorted(
                r[0] for r in keys.select(bucket.alias("__b")).distinct().collect()
            )
        return self.read_buckets(spark, table, buckets), buckets

    def bucket_of(self, table: str, key_cols: list, n_buckets: int) -> Column | None:
        """The bucket of each key, over key columns (names or Columns of
        the key types) — what :meth:`read_keys` prunes by; None when it
        would read the whole table instead (one bucket, or a stored count
        that differs from the requested one). A caller that computes the
        distinct buckets of a batch's keys in a pass of its own hands them
        to ``read_keys`` as ``buckets``."""
        if n_buckets == 1 or self._bucket_count(table) != n_buckets:
            return None
        return key_bucket(n_buckets, *key_cols)

    def write(self, df: DataFrame, table: str) -> Path:
        """Replace the whole table by ``df``: the one-bucket rewrite.
        ``df`` lands unpartitioned in ``gen-K/__bucket=0`` and the map
        becomes ``{0: gen-K}``, whatever count the table had before."""
        tdir = self._table_dir(table)
        gen = self._next_gen(tdir)
        df.write.mode("overwrite").parquet(str(self.bucket_dir(table, 0, gen)))
        # a count left from a many-bucket map would prune this one by the
        # old count's ids
        self._set_count(table, None)
        self._flip(table, {0: gen})
        return tdir / gen

    def replace_keys(
        self,
        df: DataFrame,
        table: str,
        key_cols: list[str],
        n_buckets: int,
        buckets: list[int] | None,
    ) -> None:
        """Write ``df`` — the new state of exactly what :meth:`read_keys`
        returned, with the ``buckets`` it returned — under the requested
        count: a rewrite of the listed buckets, or (``buckets`` None) a
        whole-table rewrite that also drops any bucket of a previous
        count. One bucket is a :meth:`write`."""
        if n_buckets == 1:
            self.write(df, table)
            return
        df = df.withColumn("__bucket", key_bucket(n_buckets, *key_cols))
        if buckets is not None:
            self.write_buckets(df, table, buckets)
            return
        self._set_count(table, None)
        every = set(range(n_buckets)) | set(self.bucket_map(table))
        self.write_buckets(df, table, sorted(every))
        self._set_count(table, n_buckets)

    def write_buckets(self, df: DataFrame, table: str, buckets: list[int]) -> Path:
        """Write a new generation holding ONLY the given buckets (df must
        carry a ``__bucket`` column) and flip their pointer entries."""
        tdir = self._table_dir(table)
        bmap = self.bucket_map(table)
        gen = self._next_gen(tdir)
        df.write.mode("overwrite").partitionBy("__bucket").parquet(str(tdir / gen))
        # a bucket whose rows all vanished in this batch (e.g. every index
        # entry deleted) produces no partition dir — it must leave the map,
        # not point at a path that doesn't exist.
        written = {
            int(p.name.split("=")[1]) for p in (tdir / gen).glob("__bucket=*")
        }
        for b in buckets:
            if b in written:
                bmap[b] = gen
            else:
                bmap.pop(b, None)
        self._flip(table, bmap)
        return tdir / gen

    @staticmethod
    def _next_gen(tdir: Path) -> str:
        """The next generation name, numbered from ALL on-disk generations
        (not just referenced ones), so a retained one is never reused."""
        tdir.mkdir(parents=True, exist_ok=True)
        gens = [int(p.name.split("-")[1]) for p in tdir.glob("gen-*")] or [-1]
        return f"gen-{max(gens) + 1:06d}"

    def _set_count(self, table: str, n_buckets: int | None) -> None:
        """Record the count of a whole many-bucket rewrite (None clears
        it). Such a rewrite clears the count before its flip and sets it
        after: a crash in between leaves it absent, which reads as a count
        mismatch and repeats the (idempotent) whole rewrite."""
        cf = self._count_file(table)
        if n_buckets is None:
            cf.unlink(missing_ok=True)
            return
        tmp = cf.with_name("_NBUCKETS.tmp")
        tmp.write_text(str(n_buckets))
        tmp.replace(cf)

    @staticmethod
    def _write_pointer(tdir: Path, state: dict) -> None:
        tmp = tdir / "_BUCKETS.tmp"
        tmp.write_text(json.dumps(state))
        tmp.replace(tdir / "_BUCKETS")  # atomic on POSIX

    def _flip(self, table: str, bmap: dict[int, str]) -> None:
        """Point the table at ``bmap`` (atomic replace), record the state
        in _HISTORY, then prune the generations referenced by neither the
        current map nor the retained history depth."""
        tdir = self._table_dir(table)
        state = {str(b): g for b, g in sorted(bmap.items())}
        self._write_pointer(tdir, state)
        self._log_state(table, state)
        live = set(bmap.values())
        for s in self._live_states(table):
            live |= set(s.values())
        for p in tdir.glob("gen-*"):
            if p.name not in live:
                shutil.rmtree(p, ignore_errors=True)


# perfbench/tracing.py imports this name and wraps read, read_buckets and
# write_buckets on it; retire the alias together with that import.
BucketedTableStore = TableStore
