"""Warehouse backend parity (databricks_sql.py:20-81): run.sql execution
statement-at-a-time, failing-statement logging, connection validation,
and the preserved Databricks config surface."""

from __future__ import annotations

import os
import shutil

import pytest


def test_spark_backend_runs_built_artifact(spark, sf_dir, tmp_path):
    from dataforge_core_spark.backends import SparkWarehouse
    from dataforge_core_spark.loader import load_project
    from dataforge_core_spark.model import Project
    from dataforge_core_spark.sql_emitter import SqlEmitter

    shutil.rmtree("spark-warehouse", ignore_errors=True)
    full = load_project("projects/tpch_demo")
    orders = full.source_by_name()["tpch_orders"]
    project = Project(sources=[orders], relations=[], outputs=[])
    SqlEmitter(project, {"DATA_DIR": sf_dir}, spark=spark).emit_all(
        str(tmp_path)
    )
    backend = SparkWarehouse(spark, log_path=str(tmp_path))
    backend.run(os.path.join(str(tmp_path), "run.sql"))
    assert spark.table(orders.target_table).count() > 0


def test_spark_backend_missing_run_file(spark, tmp_path):
    from dataforge_core_spark.backends import BackendError, SparkWarehouse

    backend = SparkWarehouse(spark, log_path=str(tmp_path))
    with pytest.raises(BackendError, match="Run dataforge --build first"):
        backend.run(str(tmp_path / "nope" / "run.sql"))


def test_spark_backend_logs_failing_statement(spark, tmp_path):
    from dataforge_core_spark.backends import BackendError, SparkWarehouse

    backend = SparkWarehouse(spark, log_path=str(tmp_path))
    with pytest.raises(BackendError, match="run.log"):
        backend.execute("SELECT 1 as i; SELECT * FROM table_that_is_missing")
    log = (tmp_path / "run.log").read_text()
    # reference format: "Error {e} while executing statement {statement}"
    assert log.startswith("Error ")
    assert "while executing statement" in log
    assert "table_that_is_missing" in log


def test_spark_backend_validate_and_quoted_semicolons(spark, tmp_path):
    from dataforge_core_spark.backends import SparkWarehouse

    backend = SparkWarehouse(spark, log_path=str(tmp_path))
    backend.validate()  # SELECT 1 as i
    # unquoted ';' splits, quoted ';' does not (databricks_sql.py:48-49)
    backend.execute(
        "CREATE OR REPLACE TEMP VIEW semi_t AS SELECT 'a;b' AS v; "
        "SELECT v FROM semi_t"
    )
    assert spark.sql("SELECT v FROM semi_t").collect()[0][0] == "a;b"
    # run_statements splits with the same pattern, '' escapes included
    from dataforge_core_spark.sql_emitter import run_statements

    n = run_statements(
        spark,
        "CREATE OR REPLACE TEMP VIEW semi_t AS SELECT 'it''s;x' AS v;\n"
        "SELECT v FROM semi_t;",
    )
    assert n == 2
    assert spark.sql("SELECT v FROM semi_t").collect()[0][0] == "it's;x"


def test_databricks_backend_config_surface(tmp_path):
    from dataforge_core_spark.backends import (
        BackendError,
        DatabricksWarehouse,
    )

    good = {
        "hostname": "h",
        "http_path": "p",
        "access_token": "t",
        "catalog": "c",
        "schema": "s",
    }
    backend = DatabricksWarehouse(good, log_path=str(tmp_path))
    # connector not installed in this container -> clean gated error
    with pytest.raises(BackendError, match="databricks-sql-connector"):
        backend.execute("SELECT 1 as i")

    for missing in DatabricksWarehouse.REQUIRED:
        cfg = {k: v for k, v in good.items() if k != missing}
        with pytest.raises(BackendError, match=f"{missing} is required"):
            DatabricksWarehouse(cfg, log_path=str(tmp_path))


def test_cli_run_sql(tmp_path):
    from dataforge_core_spark.cli import main

    rc = main(
        [
            "--build",
            "projects/tpch_demo",
            "--target",
            str(tmp_path / "target"),
            "--data-dir",
            "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    rc = main(["--run-sql", str(tmp_path / "target")])
    assert rc == 0


def _fake_databricks(recorder, fail_on=None):
    """A connector double for the optional ``databricks.sql`` package:
    records connect kwargs, executed statements and close ordering, and
    optionally raises on a chosen statement — so the FULL execute path
    (reference databricks_sql.py:33-67: per-statement loop, run.log
    write on failure, cursor/connection teardown) is exercised without
    the wire dependency."""
    import sys
    import types

    class _Cursor:
        def execute(self, stmt):
            recorder["statements"].append(stmt)
            if fail_on is not None and fail_on in stmt:
                raise RuntimeError("boom")

        def close(self):
            recorder["closed"].append("cursor")

    class _Connection:
        def cursor(self):
            return _Cursor()

        def close(self):
            recorder["closed"].append("connection")

    sql_mod = types.ModuleType("databricks.sql")

    def connect(**kwargs):
        recorder["connect"] = kwargs
        return _Connection()

    sql_mod.connect = connect
    pkg = types.ModuleType("databricks")
    pkg.sql = sql_mod
    sys.modules["databricks"] = pkg
    sys.modules["databricks.sql"] = sql_mod


@pytest.fixture
def databricks_double():
    import sys

    rec = {"statements": [], "closed": []}
    saved = {
        k: sys.modules.get(k) for k in ("databricks", "databricks.sql")
    }
    yield rec
    for k, v in saved.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


def test_databricks_execute_path_against_double(
    databricks_double, tmp_path
):
    """Statement-at-a-time execution with the reference splitter,
    quoted-';' preservation, connect kwargs from the config surface,
    and cursor-before-connection teardown."""
    from dataforge_core_spark.backends import DatabricksWarehouse

    _fake_databricks(databricks_double)
    backend = DatabricksWarehouse(
        {
            "hostname": "h",
            "http_path": "p",
            "access_token": "t",
            "catalog": "c",
            "schema": "s",
        },
        log_path=str(tmp_path),
    )
    backend.execute(
        "CREATE TABLE t AS SELECT 'a;b' AS v; SELECT v FROM t;"
    )
    assert databricks_double["connect"] == {
        "server_hostname": "h",
        "http_path": "p",
        "access_token": "t",
        "catalog": "c",
        "schema": "s",
    }
    stmts = [s.strip() for s in databricks_double["statements"]]
    assert stmts == [
        "CREATE TABLE t AS SELECT 'a;b' AS v",
        "SELECT v FROM t",
    ]
    assert databricks_double["closed"] == ["cursor", "connection"]
    # validate() sends the reference's probe (databricks_sql.py:81)
    backend.validate()
    assert databricks_double["statements"][-1] == "SELECT 1 as i"


def test_databricks_failing_statement_logs_and_raises(
    databricks_double, tmp_path
):
    """A failing statement writes run.log in the reference's format and
    raises BackendError; the connection still tears down."""
    import os

    from dataforge_core_spark.backends import (
        BackendError,
        DatabricksWarehouse,
    )

    _fake_databricks(databricks_double, fail_on="SELECT bad")
    backend = DatabricksWarehouse(
        {
            "hostname": "h",
            "http_path": "p",
            "access_token": "t",
            "catalog": "c",
            "schema": "s",
        },
        log_path=str(tmp_path),
    )
    with pytest.raises(BackendError, match="run log file"):
        backend.execute("SELECT 1 as i; SELECT bad FROM nowhere;")
    log = open(os.path.join(str(tmp_path), "run.log")).read()
    assert "while executing statement" in log and "SELECT bad" in log
    assert databricks_double["closed"] == ["cursor", "connection"]
