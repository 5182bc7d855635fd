"""Versioned schema store with BACKWARD-compatibility enforcement.

Re-expresses the reference's registry behavior: schemas auto-register on
first sight (`/root/reference/bin/mskc-connector.sh:444`) and evolve under
a compatibility mode, default BACKWARD (`bin/osci.sh:21`, applied at
`bin/mskc-connector.sh:445`). The exact BACKWARD semantics are fixed by
the reference's manual test (`README.md:466-479`):

- drop a column                         → compatible
- add a nullable column                 → compatible
- add a NOT NULL column without default → **incompatible**

The store is an append-only JSON log per subject (one subject per table,
mirroring the registry's subject-per-topic), like the reference's schema
history topic (`bin/mskc-connector.sh:407-408`).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import types as T


class IncompatibleSchemaError(Exception):
    """Raised when a schema evolution violates the compatibility mode."""


def check_backward(old: T.StructType, new: T.StructType) -> list[str]:
    """Problems making ``new`` backward-incompatible with ``old``.

    BACKWARD = a reader using ``new`` must read data written with ``old``:
    columns present only in ``new`` have no value in old data, so they
    must be nullable (Debezium/MySQL "NOT NULL without default" maps to a
    non-nullable field with no default — rejected).
    Type changes are rejected outright (no promotion rules in scope).
    """
    problems = []
    old_fields = {f.name: f for f in old.fields}
    for f in new.fields:
        if f.name not in old_fields:
            if not f.nullable and (f.metadata or {}).get("default") is None:
                problems.append(
                    f"added NOT NULL column without default: {f.name}"
                )
        elif old_fields[f.name].dataType != f.dataType:
            problems.append(
                f"type change for {f.name}: "
                f"{old_fields[f.name].dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
        elif old_fields[f.name].nullable and not f.nullable:
            # old data may hold NULLs the tightened schema forbids
            problems.append(f"nullable column tightened to NOT NULL: {f.name}")
    return problems


def check_forward(old: T.StructType, new: T.StructType) -> list[str]:
    """Problems making ``new`` forward-incompatible with ``old``.

    FORWARD = a reader using ``old`` must read data written with ``new``
    — the exact dual of BACKWARD (writer and reader swap roles), so the
    check is ``check_backward`` with the arguments reversed: a column
    DROPPED by ``new`` leaves the old reader without values, which is
    only legal if the old reader's column was nullable (or defaulted);
    additions are always fine (the old reader ignores them)."""
    return check_backward(new, old)


def check_full(old: T.StructType, new: T.StructType) -> list[str]:
    """FULL = BACKWARD and FORWARD simultaneously (additions and drops
    both restricted to nullable/defaulted columns; no type changes)."""
    return check_backward(old, new) + check_forward(old, new)


COMPAT_CHECKS = {
    "BACKWARD": check_backward,
    "FORWARD": check_forward,
    "FULL": check_full,
    "NONE": lambda old, new: [],
}


class SchemaStore:
    """Directory-backed registry: one ``<subject>.json`` per subject holding
    the append-only version list. Save → reload → validate round-trip, the
    reference's config-integrity invariant (`bin/mskc-connector.sh:571-575`)."""

    def __init__(self, root: str | Path, compatibility: str = "BACKWARD"):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        if compatibility not in COMPAT_CHECKS:
            raise ValueError(f"unknown compatibility mode: {compatibility}")
        self.compatibility = compatibility

    def _path(self, subject: str) -> Path:
        return self.root / f"{subject}.json"

    def versions(self, subject: str) -> list[T.StructType]:
        p = self._path(subject)
        if not p.exists():
            return []
        doc = json.loads(p.read_text())
        return [T.StructType.fromJson(v) for v in doc["versions"]]

    def register(self, subject: str, schema: T.StructType) -> int:
        """Register a schema version (auto-registration, SURVEY §2.1 A10).

        Identical schemas dedup to the EARLIEST matching version with no
        compatibility check — Confluent's per-subject contract: an A→B→A
        history returns version 1, not a rejected/_appended_ version 3
        (ADVICE r8). Otherwise raises :class:`IncompatibleSchemaError`
        when the compatibility check fails, else appends and returns the
        new 1-based version.
        """
        versions = self.versions(subject)
        for i, v in enumerate(versions):
            if v == schema:
                return i + 1
        problems = versions and COMPAT_CHECKS[self.compatibility](versions[-1], schema)
        if problems:
            raise IncompatibleSchemaError(f"{subject}: {'; '.join(problems)}")
        versions.append(schema)
        doc = {
            "subject": subject,
            "compatibility": self.compatibility,
            "versions": [v.jsonValue() for v in versions],
        }
        # atomic replace: a crash mid-write must never leave partial JSON
        # behind — a torn subject file would brick versions()/latest()
        # (and the pipeline's per-batch lookup) until manually repaired
        # (review r7)
        tmp = self._path(subject).with_suffix(".json.tmp")
        tmp.write_text(json.dumps(doc, indent=2))
        os.replace(tmp, self._path(subject))
        # save -> reload -> validate (reference invariant)
        reloaded = self.versions(subject)
        if reloaded[-1] != schema:
            raise RuntimeError(f"{subject}: schema store round-trip failed")
        return len(reloaded)

    def list_subjects(self) -> list[str]:
        return sorted(p.stem for p in self.root.glob("*.json"))

    def latest(self, subject: str) -> T.StructType | None:
        vs = self.versions(subject)
        return vs[-1] if vs else None

