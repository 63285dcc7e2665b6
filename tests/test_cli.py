"""CLI surface parity (--init / --version; build/run/validate are
exercised end-to-end by the sql-emitter and oracle suites)."""

import os
import tempfile

from dataforge_core_spark.cli import main


def test_version(capsys):
    assert main(["--version"]) == 0
    from dataforge_core_spark import __version__

    assert capsys.readouterr().out.strip() == __version__


def test_init_scaffolds_sample_project(capsys):
    target = os.path.join(tempfile.mkdtemp(prefix="dfspark_cli_"), "proj")
    assert main(["--init", target]) == 0
    assert os.path.exists(os.path.join(target, "meta.yaml"))
    assert os.path.isdir(os.path.join(target, "sources"))
    # refuses to clobber a non-empty directory
    assert main(["--init", target]) == 1


def test_configure_writes_profile_from_env(tmp_path, monkeypatch):
    """--configure (non-TTY) builds the profile from env vars and saves
    the reference's profile.yaml shape; --run-sql --backend databricks
    loads it (validated structurally — no warehouse in this container)."""
    import yaml

    from dataforge_core_spark.cli import main

    prof = tmp_path / "profile.yaml"
    for k, v in {
        "HOSTNAME": "dbc.example.com",
        "HTTP_PATH": "/sql/1.0/warehouses/abc",
        "ACCESS_TOKEN": "tok",
        "SCHEMA": "demo",
    }.items():
        monkeypatch.setenv(f"DATAFORGE_DATABRICKS_{k}", v)
    rc = main(["--configure", "--profile", str(prof)])
    assert rc == 0
    cfg = yaml.safe_load(prof.read_text())["databricks"]
    assert cfg["hostname"] == "dbc.example.com"
    assert cfg["catalog"] == "hive_metastore"  # reference default
    assert cfg["schema"] == "demo"


def test_seed_initializes_and_resets_state(tmp_path, monkeypatch, capsys):
    """--seed creates a fresh MetaStore (no prompt on an empty dir),
    prompts before wiping an existing one (reference pg.py:42-44), and
    a 'y' reply drops every imported object."""
    import json

    from dataforge_core_spark.cli import main

    state = str(tmp_path / "state")
    assert main(["--seed", "--state", state]) == 0
    out = capsys.readouterr().out
    assert "Initializing database.." in out
    assert "Database initialized" in out
    ms = json.load(open(f"{state}/metastore.json"))
    assert ms["sources"] == {}

    # put an object in, then refuse the prompt -> untouched
    from dataforge_core_spark.imports import MetaStore, import_project
    from dataforge_core_spark.loader import parse_source_dict
    from dataforge_core_spark.model import Project

    proj = Project(
        sources=[
            parse_source_dict(
                {
                    "source_name": "s1",
                    "source_table": "t",
                    "raw_attributes": ["a long"],
                }
            )
        ]
    )
    assert "error" not in import_project(MetaStore(state), proj)
    monkeypatch.setattr("builtins.input", lambda *_: "n")
    assert main(["--seed", "--state", state]) == 1
    assert "s1" in json.load(open(f"{state}/metastore.json"))["sources"]

    # accept -> state reset to empty
    monkeypatch.setattr("builtins.input", lambda *_: "y")
    assert main(["--seed", "--state", state]) == 0
    assert json.load(open(f"{state}/metastore.json"))["sources"] == {}


def test_cli_build_matches_emitter(spark, sf_dir, tmp_path):
    """`--build` (probe types from its state dir's ProbeStore, or new
    probes) writes the run.sql the emitter gives on the live session."""
    from dataforge_core_spark import probe
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.sql_emitter import SqlEmitter

    data = sf_dir
    prev = probe.set_probe_store(None)
    try:
        for _ in range(2):  # the second build reads the stored probes
            probe._probe_cache.pop(spark, None)
            assert main([
                "--build", "projects/tpch_demo",
                "--target", str(tmp_path / "cli"),
                "--state", str(tmp_path / "state"),
                "--data-dir", data,
            ]) == 0
    finally:
        probe.set_probe_store(prev)
    want = SqlEmitter(
        load_project("projects/tpch_demo"), {"DATA_DIR": data}, spark=spark
    ).emit_all(str(tmp_path / "api"))
    assert (tmp_path / "cli" / "run.sql").read_text() == want
    assert "AS decimal(38,12)) AS `" in want
