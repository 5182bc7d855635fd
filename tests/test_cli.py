"""CLI verb coverage: the reference's operational surface end-to-end
(`/root/reference/bin/osci.sh:193-269` dispatch → osci-spark verbs).

Drives quickstart (A29 composite), registry listing (A19), status (A16),
show-table/sql inspection (A20/A30), regex table removal (A18), and
remove-pipeline cascade (A17) through ``cli.main`` with a file-source
change stream over the person fixture.
"""

from __future__ import annotations

import json

from one_stop_cdc_ingestion_toolkit_spark.cli import main
from one_stop_cdc_ingestion_toolkit_spark.registry import spec_to_json
from one_stop_cdc_ingestion_toolkit_spark.streaming.pipeline import (
    PipelineSpec,
    TableSpec,
)
from tests.cdc_fixtures import (
    CANONICAL_EVENTS,
    GOLDEN_STATE,
    PERSON_SCHEMA,
    write_stream_files,
)


def _setup(tmp_path):
    spec = PipelineSpec(
        name="p1",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=2)
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    registry = str(tmp_path / "pipelines.json")
    return spec, str(spec_file), registry


def test_cli_quickstart_inspect_remove(spark, tmp_path, capsys):
    spec, spec_file, registry = _setup(tmp_path)

    assert main(["--registry", registry, "quickstart", spec_file]) == 0
    out = capsys.readouterr().out
    assert "p1" in out and "person" in out

    assert main(["--registry", registry, "list-pipelines"]) == 0
    assert capsys.readouterr().out.strip() == "p1"

    assert main(["--registry", registry, "pipeline-status", "p1"]) == 0
    status = json.loads(capsys.readouterr().out)
    assert status["pipeline"] == "p1" if "pipeline" in status else status

    assert main(["--registry", registry, "list-tables", spec.sink_dir]) == 0
    assert capsys.readouterr().out.strip() == "person"

    # A20 console-consumer analogue: golden row visible, tombstones hidden
    assert main(["--registry", registry, "show-table", spec.sink_dir, "person"]) == 0
    out = capsys.readouterr().out
    for key in GOLDEN_STATE:
        assert key in out

    # A30 exec escape hatch: SQL over the materialized lake
    assert (
        main(
            [
                "--registry",
                registry,
                "sql",
                spec.sink_dir,
                "SELECT COUNT(*) AS n FROM person",
            ]
        )
        == 0
    )
    assert str(len(GOLDEN_STATE)) in capsys.readouterr().out

    # the engine function surface is pre-registered for the verb: scalar
    # SQL UDFs and the text_chunks table function both resolve
    assert (
        main(
            [
                "--registry",
                registry,
                "sql",
                spec.sink_dir,
                "SELECT token_count(firstName) AS tc, c.chunk "
                "FROM person, LATERAL text_chunks(firstName, 1, 0) c "
                "LIMIT 1",
            ]
        )
        == 0
    )
    capsys.readouterr()

    # plan-audit verb: formatted physical plan, no execution
    assert (
        main(
            [
                "--registry",
                registry,
                "explain",
                spec.sink_dir,
                "SELECT firstName FROM person WHERE age > 0",
            ]
        )
        == 0
    )
    plan_out = capsys.readouterr().out
    assert "Physical Plan" in plan_out
    assert "PushedFilters" in plan_out or "Filter" in plan_out

    # unknown table / unknown pipeline are clean failures, not tracebacks
    assert main(["--registry", registry, "show-table", spec.sink_dir, "nope"]) == 1
    assert main(["--registry", registry, "pipeline-status", "ghost"]) == 1
    capsys.readouterr()

    # A17 cascade removal deregisters and drops data
    assert (
        main(["--registry", registry, "remove-pipeline", "p1", "--drop-data"]) == 0
    )
    capsys.readouterr()
    assert main(["--registry", registry, "list-pipelines"]) == 0
    assert capsys.readouterr().out.strip() == ""
    assert main(["--registry", registry, "list-tables", spec.sink_dir]) == 0
    assert capsys.readouterr().out.strip() == ""


def test_cli_setup_start_drain_and_remove_tables(spark, tmp_path, capsys):
    spec, spec_file, registry = _setup(tmp_path)

    assert main(["--registry", registry, "setup-pipeline", spec_file]) == 0
    assert main(["--registry", registry, "start-pipeline", "p1", "--drain"]) == 0
    capsys.readouterr()

    # A18: regex-scoped table removal (reference deletes topics by regex)
    assert main(["--registry", registry, "remove-tables", spec.sink_dir, "pers.*"]) == 0
    assert "dropped person" in capsys.readouterr().out
    assert main(["--registry", registry, "list-tables", spec.sink_dir]) == 0
    assert capsys.readouterr().out.strip() == ""


def test_cli_gc_tombstones(spark, tmp_path, capsys):
    spec, spec_file, registry = _setup(tmp_path)
    assert main(["--registry", registry, "quickstart", spec_file]) == 0
    capsys.readouterr()
    assert main(
        ["--registry", registry, "gc-tombstones", "p1", "--min-pos", "7"]
    ) == 0
    assert json.loads(capsys.readouterr().out) == {"person": 1}
    assert main(
        ["--registry", registry, "gc-tombstones", "nope", "--min-pos", "7"]
    ) == 1


def test_cli_dlq_verbs(spark, tmp_path, capsys):
    """show-dlq surfaces quarantined records; replay-dlq reports how many
    were repaired (0 here — the records are truly malformed)."""
    spec = PipelineSpec(
        name="pdlq",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    broken = [{"key": "x1", "value": "{not json"}]
    write_stream_files(spec.source_dir, CANONICAL_EVENTS + broken, files=1)
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    registry = str(tmp_path / "pipelines.json")

    assert main(["--registry", registry, "quickstart", str(spec_file)]) == 0
    capsys.readouterr()
    assert main(["--registry", registry, "show-dlq", "pdlq"]) == 0
    out = capsys.readouterr().out
    assert "not_an_envelope" in out
    assert main(["--registry", registry, "replay-dlq", "pdlq"]) == 0
    assert json.loads(capsys.readouterr().out)["replayed"] == 0
    assert main(["--registry", registry, "show-dlq", "pdlq"]) == 0
    assert "not_an_envelope" in capsys.readouterr().out


def test_cli_diff_table(spark, tmp_path, capsys):
    """Time-travel CDF: diff two generations of the person table."""
    spec = PipelineSpec(
        name="pdiff",
        source_dir=str(tmp_path / "stream"),
        tables=[TableSpec("person", ["firstName"], PERSON_SCHEMA)],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot_retain=5,
    )
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=2)
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    registry = str(tmp_path / "pipelines.json")
    # one file per trigger → one generation per file (two total)
    spec.max_files_per_trigger = 1
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    assert main(["--registry", registry, "quickstart", str(spec_file)]) == 0
    capsys.readouterr()

    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore

    seqs = [r["seq"] for r in TableStore(spec.sink_dir).history("person")]
    assert len(seqs) >= 2
    assert (
        main(
            [
                "--registry", registry, "diff-table", spec.sink_dir, "person",
                "--keys", "firstName",
                "--from-seq", str(seqs[0]), "--to-seq", str(seqs[-1]),
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    # batch 2 of CANONICAL_EVENTS changes state between the generations
    assert "insert" in out or "update" in out or "delete" in out

    assert (
        main(
            [
                "--registry", registry, "diff-table", spec.sink_dir, "person",
                "--keys", "firstName", "--from-seq", "0", "--to-seq", "99",
            ]
        )
        == 1
    )


def test_cli_optimize_table_and_agg_view(spark, tmp_path, capsys):
    spec = PipelineSpec(
        name="popt",
        source_dir=str(tmp_path / "stream"),
        tables=[
            TableSpec(
                "person",
                ["firstName"],
                PERSON_SCHEMA,
                agg_group_cols=["lastName"],
                agg_sum_cols=["age"],
            )
        ],
        sink_dir=str(tmp_path / "lake"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_stream_files(spec.source_dir, CANONICAL_EVENTS, files=1)
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps(spec_to_json(spec)))
    registry = str(tmp_path / "pipelines.json")
    assert main(["--registry", registry, "quickstart", str(spec_file)]) == 0
    capsys.readouterr()

    assert (
        main(
            [
                "--registry", registry, "optimize-table", spec.sink_dir,
                "person", "--sort-cols", "age",
            ]
        )
        == 0
    )
    assert json.loads(capsys.readouterr().out)["table"] == "person"
    # table still readable after the in-place swap
    assert main(["--registry", registry, "show-table", spec.sink_dir, "person"]) == 0
    capsys.readouterr()

    assert main(["--registry", registry, "agg-view", spec.sink_dir, "person"]) == 0
    out = capsys.readouterr().out
    assert "sum_age" in out and "avg_age" in out

    assert main(["--registry", registry, "agg-view", spec.sink_dir, "nope"]) == 1


def test_cli_freshness_verb(spark, tmp_path, capsys):
    """CLI `freshness`: one JSON line per table against a fixed clock."""
    import json as _json

    from one_stop_cdc_ingestion_toolkit_spark.cli import main as cli_main
    from one_stop_cdc_ingestion_toolkit_spark.streaming.table_store import TableStore

    lake = tmp_path / "lake"
    store = TableStore(lake)
    store.write(
        spark.createDataFrame(
            [(1, 0, 2_000, False)], "id long, __pos long, __ts_ms long, __deleted boolean"
        ),
        "t",
    )
    rc = cli_main(["freshness", str(lake), "--now-ms", "5000"])
    assert rc == 0
    lines = [
        _json.loads(x) for x in capsys.readouterr().out.splitlines() if x.startswith("{")
    ]
    assert lines and lines[0]["table"] == "t" and lines[0]["lag_ms"] == 3_000


def test_cli_capacity_verb(tmp_path, capsys):
    import json as _json

    from one_stop_cdc_ingestion_toolkit_spark.cli import main as cli_main

    log = tmp_path / "ev.jsonl"
    log.write_text(
        "\n".join(
            _json.dumps(
                {"ts": 100.0 + 10 * i, "event": "progress", "id": "1",
                 "name": "q", "numInputRows": 100, "triggerMs": 2000}
            )
            for i in range(2)
        )
        + "\n"
    )
    assert cli_main(["capacity", str(log)]) == 0
    rows = [
        _json.loads(x) for x in capsys.readouterr().out.splitlines() if x.startswith("{")
    ]
    assert rows[0]["name"] == "q" and rows[0]["busy_fraction"] == 0.2
