"""Seeded Debezium-JSON changelog and its Python latest-wins oracle.

The changelog has the shape of the repository's streaming soak: an
``accounts`` table kept in the snapshot layout and an ``events_tbl``
table kept in 16 key buckets; an ``r`` snapshot of ``accounts`` in file
0, then c/u/d churn; about 1% duplicate redelivery into a later file and
about 1% in-file reordering; one BACKWARD-compatible DDL (``accounts``
gains a nullable ``note`` column) at the head of file 1; one three-row
transaction whose rows sit in file 1 and whose END boundary sits in
file 2 (the pipeline runs with ``tx_atomic`` on).

Records are built with the soak's own envelope, DDL and transaction
boundary helpers (``tools/soak.py``); this module keeps only the
benchmark's file layout (one snapshot file, then equal churn files) and
an oracle that replays the written files. Files are JSON lines of
``{"key", "value"}`` records, the raw form the pipeline's file source
reads. The oracle replays the files themselves, latest-wins by
``source.pos`` per key, without any engine code.
"""

from __future__ import annotations

import json
import os
import random

from tools.soak import TX_ID, boundary, ddl_event, envelope

N_BUCKETS = 16


def generate(
    seed: int, n_snapshot: int, n_churn_files: int, events_per_file: int
) -> list[list[dict]]:
    """File 0 holds the ``r`` snapshot of ``n_snapshot`` accounts; files
    1..n_churn_files hold ``events_per_file`` churn events each (plus
    duplicates), 35% of them on ``events_tbl``."""
    if n_churn_files < 2:
        raise ValueError("the DDL and the transaction need two churn files")
    rng = random.Random(seed)
    files: list[list[dict]] = [[] for _ in range(n_churn_files + 1)]
    pos = 0
    for i in range(n_snapshot):
        pos += 1
        row = {"id": i, "name": f"acct-{i}", "balance": i * 10}
        files[0].append(envelope("r", pos, "accounts", after=row))

    files[1].append(ddl_event())
    for j in range(3):
        pos += 1
        row = {"id": 10_000_000 + j, "name": f"tx-{j}", "balance": 777, "note": "txn"}
        files[1].append(envelope("c", pos, "accounts", after=row, tx=TX_ID))
    files[2].append(boundary(TX_ID, event_count=3))

    next_acct, next_ev = n_snapshot, 0
    for fidx in range(1, n_churn_files + 1):
        lo = 1 if fidx == 1 else 0  # the DDL stays at the head of file 1
        for _ in range(events_per_file):
            pos += 1
            r = rng.random()
            if rng.random() < 0.35:
                if r < 0.5 or next_ev == 0:
                    op, key = "c", next_ev
                    next_ev += 1
                    row = {"ev_id": key, "kind": rng.choice(["click", "view", "buy"]),
                           "amount": rng.randrange(1000)}
                elif r < 0.85:
                    op, key = "u", rng.randrange(next_ev)
                    row = {"ev_id": key, "kind": "upd", "amount": rng.randrange(1000)}
                else:
                    op, key, row = "d", rng.randrange(next_ev), None
                before = {"ev_id": key, "kind": "x", "amount": 0} if op == "d" else None
                rec = envelope(op, pos, "events_tbl", before=before, after=row)
            else:
                if r < 0.25:
                    op, key = "c", next_acct
                    next_acct += 1
                elif r < 0.85:
                    op, key = "u", rng.randrange(next_acct)
                else:
                    op, key = "d", rng.randrange(next_acct)
                row = None
                if op != "d":
                    row = {"id": key, "name": f"acct-{key}", "balance": rng.randrange(10_000),
                           "note": rng.choice(["", "vip", "flag", "ok"]) or None}
                before = {"id": key, "name": "x", "balance": 0} if op == "d" else None
                rec = envelope(op, pos, "accounts", before=before, after=row)
            files[fidx].append(rec)
            if rng.random() < 0.01:  # at-least-once redelivery, later file
                files[rng.randrange(fidx, n_churn_files + 1)].append(rec)
            if len(files[fidx]) > lo + 2 and rng.random() < 0.01:
                i = rng.randrange(lo, len(files[fidx]) - 1)
                files[fidx][i], files[fidx][-1] = files[fidx][-1], files[fidx][i]
    return files


def cached(cache_dir: str, n_files: int, make) -> list[str]:
    """Paths of the ``n_files`` changelog files in ``cache_dir``; the
    first call writes ``make()``'s files as JSON lines, and a ``_DONE``
    marker makes later runs with the same inputs reuse them."""
    paths = [os.path.join(cache_dir, f"batch-{i:05d}.json") for i in range(n_files)]
    done = os.path.join(cache_dir, "_DONE")
    if os.path.exists(done):
        return paths
    files = make()
    if len(files) != n_files:
        raise ValueError(f"expected {n_files} files, made {len(files)}")
    os.makedirs(cache_dir, exist_ok=True)
    for p, recs in zip(paths, files):
        with open(p, "w") as fh:
            for rec in recs:
                fh.write(json.dumps(rec) + "\n")
    open(done, "w").close()
    return paths


class Oracle:
    """Latest-wins-by-pos replica of both tables, built by replaying the
    changelog files in order. A transaction's rows count only once its
    END boundary has been replayed, as under ``tx_atomic``."""

    def __init__(self):
        self.state: dict[str, dict] = {"accounts": {}, "events_tbl": {}}
        self._held: list[dict] = []
        self.bytes = 0  # changelog bytes replayed
        self.events = 0  # change envelopes replayed, duplicates included

    def replay(self, path: str) -> list[tuple[str, object]]:
        """Apply one file; returns the (table, key) pairs it changed."""
        touched = []
        with open(path) as fh:
            for line in fh:
                self.bytes += len(line)
                v = json.loads(json.loads(line)["value"])
                if "tableChanges" in v:
                    continue
                if "status" in v:  # transaction boundary
                    for held in self._held:
                        touched.append(self._apply(held))
                    self._held = []
                    continue
                self.events += 1
                if "transaction" in v:
                    self._held.append(v)
                    continue
                touched.append(self._apply(v))
        return touched

    def _apply(self, v: dict) -> tuple[str, object]:
        table = v["source"]["table"]
        key_col = "id" if table == "accounts" else "ev_id"
        row = v["after"] if v["op"] != "d" else None
        key = (v["after"] if row is not None else v["before"])[key_col]
        cur = self.state[table].get(key)
        pos = v["source"]["pos"]
        if cur is None or pos > cur[0]:
            self.state[table][key] = (pos, row)
        return table, key

    def live(self, table: str) -> dict:
        cols = ("name", "balance", "note") if table == "accounts" else ("kind", "amount")
        return {
            k: tuple(row.get(c) for c in cols)
            for k, (_, row) in self.state[table].items()
            if row is not None
        }

    def tombstones(self, table: str) -> int:
        return sum(1 for _, row in self.state[table].values() if row is None)

    def open_transactions(self) -> int:
        return 1 if self._held else 0
