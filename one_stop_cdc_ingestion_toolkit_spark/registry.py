"""Pipeline registry: the engine's control-plane state.

Re-expresses the reference's single JSON config document
``cnf/osci-conf.json`` (`/root/reference/bin/constants.sh:7`) and its
CRUD+validation discipline (`bin/mskc-connector.sh:509-727`): every save
immediately reloads and re-validates (`:571-575`), entries are looked up
by name, removal is idempotent.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import types as T

from one_stop_cdc_ingestion_toolkit_spark.streaming.join_view import JoinViewSpec
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    PipelineSpec,
    TableSpec,
)


def spec_to_json(spec: PipelineSpec) -> dict:
    return {
        "name": spec.name,
        "source_dir": spec.source_dir,
        "tables": [
            {
                "name": t.name,
                "key_cols": t.key_cols,
                "row_schema": t.row_schema.jsonValue(),
                "n_buckets": t.n_buckets,
                "index_text_col": t.index_text_col,
                "search_text_col": t.search_text_col,
                "agg_group_cols": t.agg_group_cols,
                "agg_sum_cols": t.agg_sum_cols,
            }
            for t in spec.tables
        ],
        "sink_dir": spec.sink_dir,
        "checkpoint_dir": spec.checkpoint_dir,
        "compatibility": spec.compatibility,
        "max_files_per_trigger": spec.max_files_per_trigger,
        "database_include": spec.database_include,
        "snapshot_retain": spec.snapshot_retain,
        "join_views": [
            {
                "fact": jv.fact,
                "dim": jv.dim,
                "join_col": jv.join_col,
                "dim_cols": jv.dim_cols,
            }
            for jv in spec.join_views
        ],
        "options": spec.options,
    }


def spec_from_json(doc: dict) -> PipelineSpec:
    return PipelineSpec(
        name=doc["name"],
        source_dir=doc["source_dir"],
        tables=[
            TableSpec(
                name=t["name"],
                key_cols=t["key_cols"],
                row_schema=T.StructType.fromJson(t["row_schema"]),
                n_buckets=1 if t.get("n_buckets") is None else t["n_buckets"],
                index_text_col=t.get("index_text_col"),
                search_text_col=t.get("search_text_col"),
                agg_group_cols=t.get("agg_group_cols"),
                agg_sum_cols=t.get("agg_sum_cols"),
            )
            for t in doc["tables"]
        ],
        sink_dir=doc["sink_dir"],
        checkpoint_dir=doc["checkpoint_dir"],
        compatibility=doc.get("compatibility", "BACKWARD"),
        max_files_per_trigger=doc.get("max_files_per_trigger"),
        database_include=doc.get("database_include"),
        snapshot_retain=doc.get("snapshot_retain", 0),
        join_views=[
            JoinViewSpec(
                fact=jv["fact"],
                dim=jv["dim"],
                join_col=jv["join_col"],
                dim_cols=jv["dim_cols"],
            )
            for jv in doc.get("join_views", [])
        ],
        options=doc.get("options", {}),
    )


class PipelineRegistry:
    def __init__(self, path: str | Path):
        self.path = Path(path)

    def _load_doc(self) -> dict:
        if not self.path.exists():
            return {"pipelines": []}
        return json.loads(self.path.read_text())

    def _lock(self):
        """Advisory exclusive lock serializing read-modify-write cycles:
        two concurrent save()s of DIFFERENT pipelines each read the same
        base document and the second replace silently dropped the first
        one's upsert (review r7). flock on a sidecar lockfile — same
        single-host scope as the registry file itself."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _held():
            self.path.parent.mkdir(parents=True, exist_ok=True)
            lockfile = self.path.with_suffix(".lock")
            with open(lockfile, "w") as fh:
                fcntl.flock(fh, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(fh, fcntl.LOCK_UN)

        return _held()

    def list_pipelines(self) -> list[str]:
        return [p["name"] for p in self._load_doc()["pipelines"]]

    def get(self, name: str) -> PipelineSpec | None:
        for p in self._load_doc()["pipelines"]:
            if p["name"] == name:
                return spec_from_json(p)
        return None

    def save(self, spec: PipelineSpec) -> None:
        """Upsert + save → reload → validate (reference invariant)."""
        spec.validate()
        with self._lock():
            doc = self._load_doc()
            doc["pipelines"] = [
                p for p in doc["pipelines"] if p["name"] != spec.name
            ]
            doc["pipelines"].append(spec_to_json(spec))
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(doc, indent=2))
            tmp.replace(self.path)
        reloaded = self.get(spec.name)
        if reloaded is None:
            raise RuntimeError(f"{spec.name}: registry round-trip failed")
        reloaded.validate()

    def remove(self, name: str) -> bool:
        # atomic replace like save() — a direct write_text could tear the
        # whole registry on a crash mid-write (review r7)
        with self._lock():
            doc = self._load_doc()
            before = len(doc["pipelines"])
            doc["pipelines"] = [p for p in doc["pipelines"] if p["name"] != name]
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(doc, indent=2))
            tmp.replace(self.path)
        return len(doc["pipelines"]) < before
