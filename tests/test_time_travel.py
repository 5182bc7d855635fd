"""Time travel over the table store's pointer history: whole-table and
per-bucket writes, retention-driven pruning, and the CLI surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore


def _df(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in vals], "id long, v string")


def test_snapshot_history_and_read_as_of(spark, tmp_path):
    store = TableStore(tmp_path / "lake", retain=2)
    store.write(_df(spark, [(1, "a")]), "t")
    store.write(_df(spark, [(1, "b"), (2, "b")]), "t")
    store.write(_df(spark, [(3, "c")]), "t")
    hist = store.history("t")
    assert [r["seq"] for r in hist] == [0, 1, 2]
    assert all(r["live"] for r in hist)
    assert store.read_as_of(spark, "t", 0).count() == 1
    assert store.read_as_of(spark, "t", 1).count() == 2
    got = {r["v"] for r in store.read_as_of(spark, "t", 2).collect()}
    assert got == {"c"}
    # current read unchanged
    assert store.read(spark, "t").count() == 1


def test_retention_prunes_beyond_depth(spark, tmp_path):
    store = TableStore(tmp_path / "lake", retain=1)
    for i in range(4):
        store.write(_df(spark, [(i, f"g{i}")]), "t")
    hist = store.history("t")
    assert [r["live"] for r in hist] == [False, False, True, True]
    with pytest.raises(ValueError, match="pruned"):
        store.read_as_of(spark, "t", 0)
    assert store.read_as_of(spark, "t", 2).collect()[0]["v"] == "g2"


def test_default_retain_prunes_immediately(spark, tmp_path):
    """retain=0 keeps today's behavior: one generation on disk."""
    store = TableStore(tmp_path / "lake")
    store.write(_df(spark, [(1, "a")]), "t")
    store.write(_df(spark, [(2, "b")]), "t")
    gens = list((tmp_path / "lake" / "t").glob("gen-*"))
    assert len(gens) == 1
    assert [r["live"] for r in store.history("t")] == [False, True]


def test_bucketed_read_as_of(spark, tmp_path):
    store = TableStore(tmp_path / "lake", retain=2)
    d1 = _df(spark, [(1, "a"), (2, "a")]).withColumn(
        "__bucket", (F.col("id") % 2).cast("int")
    )
    store.write_buckets(d1, "t", buckets=[0, 1])
    d2 = _df(spark, [(2, "b")]).withColumn("__bucket", F.lit(0).cast("int"))
    store.write_buckets(d2, "t", buckets=[0])
    hist = store.history("t")
    assert [r["kind"] for r in hist] == ["bucketed", "bucketed"]
    # state 0: both rows original; state 1: bucket 0 rewritten
    v0 = {r["id"]: r["v"] for r in store.read_as_of(spark, "t", 0).collect()}
    assert v0 == {1: "a", 2: "a"}
    v1 = {r["id"]: r["v"] for r in store.read_as_of(spark, "t", 1).collect()}
    assert v1 == {1: "a", 2: "b"}


def test_cli_history_and_as_of(spark, tmp_path, capsys):
    from one_stop_cdc_ingestion_toolkit_spark.cli import main

    store = TableStore(tmp_path / "lake", retain=2)
    store.write(_df(spark, [(1, "a")]), "t")
    store.write(_df(spark, [(2, "b")]), "t")
    rc = main(["history", str(tmp_path / "lake"), "t"])
    out = capsys.readouterr().out
    assert rc == 0 and '"seq": 0' in out and '"seq": 1' in out
    rc = main(["show-table", str(tmp_path / "lake"), "t", "--raw", "--as-of", "0"])
    out = capsys.readouterr().out
    assert rc == 0 and "a" in out


def test_migration_keeps_retained_snapshot_history(spark, tmp_path):
    """A bucket-count change must honor retain: the first bucketed write
    after a whole-table write used to prune the retained generation,
    breaking read_as_of across the change."""
    store = TableStore(tmp_path / "lake", retain=2)
    store.write(_df(spark, [(1, "a"), (2, "a")]), "t")  # seq 0, one bucket
    d = _df(spark, [(1, "b"), (2, "b")]).withColumn(
        "__bucket", (F.col("id") % 2).cast("int")
    )
    store.write_buckets(d, "t", buckets=[0, 1])  # seq 1, two buckets
    hist = store.history("t")
    assert [r["kind"] for r in hist] == ["bucketed", "bucketed"]
    assert all(r["live"] for r in hist), hist
    v0 = {r["id"]: r["v"] for r in store.read_as_of(spark, "t", 0).collect()}
    assert v0 == {1: "a", 2: "a"}
    v1 = {r["id"]: r["v"] for r in store.read_as_of(spark, "t", 1).collect()}
    assert v1 == {1: "b", 2: "b"}


def test_read_as_of_empty_bucket_state_returns_none(spark, tmp_path):
    """A batch that deletes every remaining row logs an EMPTY bucketed
    state; read_as_of must mirror read_buckets' None contract instead of
    handing spark.read.parquet() zero paths (review r7)."""
    store = TableStore(tmp_path / "lake", retain=2)
    d = _df(spark, [(1, "a")]).withColumn("__bucket", F.lit(0).cast("int"))
    store.write_buckets(d, "t", buckets=[0])
    # rewrite bucket 0 with no rows for it => bucket leaves the map
    empty = _df(spark, []).withColumn("__bucket", F.lit(0).cast("int"))
    store.write_buckets(empty, "t", buckets=[0])
    assert store.bucket_map("t") == {}
    assert store.read_as_of(spark, "t", 1) is None
    # seq 0 (pre-delete) still reads within retain
    assert store.read_as_of(spark, "t", 0).count() == 1


def test_write_parses_only_history_tail(spark, tmp_path, monkeypatch):
    """A write's metadata step parses at most ``retain + 2`` _HISTORY
    records (the tail it keeps, plus the last line's torn-tail check),
    however long the history is: counted on a 100k-line file."""
    import json

    from one_stop_cdc_ingestion_toolkit_spark.streaming import table_store

    store = TableStore(tmp_path / "lake", retain=2)
    store.write(_df(spark, [(1, "a")]), "t")
    hf = tmp_path / "lake" / "t" / "_HISTORY"
    n = 100_000
    with hf.open("w") as f:
        for i in range(n - 1):
            rec = {"seq": i, "kind": "bucketed", "state": {"0": f"gen-old{i}"}}
            f.write(json.dumps(rec) + "\n")
        rec = {"seq": n - 1, "kind": "bucketed", "state": {"0": "gen-000000"}}
        f.write(json.dumps(rec) + "\n")

    parses = []

    class CountingJson:
        dumps = staticmethod(json.dumps)

        @staticmethod
        def loads(s):
            parses.append(1)
            return json.loads(s)

    monkeypatch.setattr(table_store, "json", CountingJson)
    store.write(_df(spark, [(2, "b")]), "t")
    monkeypatch.undo()

    assert len(parses) <= store.retain + 2
    hist = store.history("t")
    assert len(hist) == n + 1 and hist[-1]["seq"] == n
    # the current and the previous generation survive the prune
    gens = sorted(p.name for p in (tmp_path / "lake" / "t").glob("gen-*"))
    assert gens == ["gen-000000", "gen-000001"]
    assert store.read(spark, "t").collect()[0]["v"] == "b"


class _CountingFile:
    """File proxy that records how many bytes (or characters) each read
    returns."""

    def __init__(self, f, counts: list):
        self._f, self._counts = f, counts

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return self._f.__exit__(*exc)

    def __iter__(self):
        for line in self._f:
            self._counts.append(len(line))
            yield line

    def read(self, *a):
        data = self._f.read(*a)
        self._counts.append(len(data))
        return data

    def __getattr__(self, name):
        return getattr(self._f, name)


def _log_bytes_read(spark, tmp_path, monkeypatch, n: int) -> tuple[int, int]:
    """(bytes read from the metadata logs by one ``write``, by one
    ``log_epoch``) on a store whose ``_HISTORY`` and ``_EPOCHS`` already
    hold ``n`` records each. Records are padded to ~250 bytes, so even
    the 1k-line files span several of the tail reader's 64 KB chunks."""
    import json
    import pathlib

    store = TableStore(tmp_path / "lake", retain=2)
    store.write(_df(spark, [(1, "a")]), "t")
    pad = "x" * 200
    with (tmp_path / "lake" / "t" / "_HISTORY").open("w") as f:
        for i in range(n):
            gen = "gen-000000" if i == n - 1 else f"gen-old{i}-{pad}"
            rec = {"seq": i, "kind": "bucketed", "state": {"0": gen}}
            f.write(json.dumps(rec) + "\n")
    with (tmp_path / "lake" / "_EPOCHS").open("w") as f:
        for i in range(n):
            f.write(json.dumps({"epoch": i, "tables": {"t": i}, "pad": pad}) + "\n")

    real_open = pathlib.Path.open
    counts: list = []

    def counting_open(self, *a, **kw):
        f = real_open(self, *a, **kw)
        return _CountingFile(f, counts) if self.name in ("_HISTORY", "_EPOCHS") else f

    with monkeypatch.context() as m:
        m.setattr(pathlib.Path, "open", counting_open)
        store.write(_df(spark, [(2, "b")]), "t")
        write_bytes = sum(counts)
        counts.clear()
        epoch = store.log_epoch(["t"])
        epoch_bytes = sum(counts)
    # numbering continues from the existing logs
    assert store._last_seq("t") == n
    assert epoch == n
    return write_bytes, epoch_bytes


def test_metadata_log_reads_do_not_grow_with_log_length(spark, tmp_path, monkeypatch):
    """A ``write`` reads the same number of bytes from ``_HISTORY``, and
    a ``log_epoch`` from ``_HISTORY`` and ``_EPOCHS``, whether the logs
    hold 1k or 100k records: the next seq and epoch come from the last
    record of the tail, not from a count of every line."""
    small = _log_bytes_read(spark, tmp_path / "small", monkeypatch, 1_000)
    big = _log_bytes_read(spark, tmp_path / "big", monkeypatch, 100_000)
    assert small == big, (small, big)
