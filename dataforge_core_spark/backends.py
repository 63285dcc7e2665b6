"""Warehouse execution backends — the reference's run path made pluggable.

The reference executes built artifacts against exactly one target, a
Databricks SQL warehouse (``cli/dataforge/databricks_sql.py:33-67``:
connect, split the script on unquoted ';', execute per statement, log
the failing statement to ``run.log``; ``:74-81`` validates the
connection config and runs ``SELECT 1 as i``).  This module keeps that
contract behind an interface so the same built ``run.sql`` runs on:

- ``SparkWarehouse`` — the in-process SparkSession (the default here;
  on a cluster this is a Spark Connect / Thrift session handle);
- ``DatabricksWarehouse`` — the reference's remote target, config
  surface preserved verbatim (hostname / http_path / access_token /
  catalog / schema — ``util.py:43-46``); the actual connector import is
  gated, since the ``databricks-sql-connector`` package is optional.

Library semantics differ from the reference CLI in one deliberate way:
errors raise ``BackendError`` instead of ``sys.exit(1)`` so callers
(CLI, tests, orchestration) choose the process behavior.
"""

from __future__ import annotations

import os
import re
from typing import Iterator, Protocol

# statement splitter, verbatim pattern from databricks_sql.py:48-49
# ("Databricks driver only allows one statement at a time. Split query
#  into multiple statements by ;, ignoring single-quoted ;")
STMT_SPLIT = re.compile(r"((?:[^;']|'[^']*')+)")


def statements(query: str) -> Iterator[str]:
    """The non-blank statements of ``query``, split with STMT_SPLIT."""
    return (s for s in STMT_SPLIT.findall(query) if s.strip())


VALIDATION_QUERY = "SELECT 1 as i"  # databricks_sql.py:81


class BackendError(RuntimeError):
    pass


def validate_value(config: dict, value: str) -> None:
    """util.py:43-46, raising instead of sys.exit."""
    if config.get(value) is None:
        raise BackendError(f"{value} is required")


class WarehouseBackend(Protocol):
    def execute(self, query: str, mode: str = "run") -> None: ...

    def run(self, path: str) -> None: ...

    def validate(self) -> None: ...


class _RunFileMixin:
    def run(self, path: str) -> None:
        """Load a built run.sql and execute it (databricks_sql.py:20-31)."""
        if not os.path.exists(path):
            raise BackendError(
                f"Run file {path} does not exist. Run dataforge --build first"
            )
        with open(path) as f:
            self.execute(f.read())

    def validate(self) -> None:
        self.execute(VALIDATION_QUERY, mode="test")


class SparkWarehouse(_RunFileMixin):
    """Execute built artifacts on a SparkSession.

    Statement-at-a-time with the reference's splitter; a failing
    statement is appended to ``run.log`` under ``log_path`` in the
    reference's format before the error propagates."""

    def __init__(
        self,
        spark,
        log_path: str = ".",
        catalog: str | None = None,
        schema: str | None = None,
    ):
        self.spark = spark
        self.log_path = log_path
        self.catalog = catalog
        self.schema = schema

    def execute(self, query: str, mode: str = "run") -> None:
        if self.catalog:
            self.spark.sql(f"USE CATALOG {self.catalog}")
        if self.schema:
            self.spark.sql(f"USE SCHEMA {self.schema}")
        for statement in statements(query):
            try:
                self.spark.sql(statement)
            except Exception as e:
                log_file_path = os.path.join(self.log_path, "run.log")
                with open(log_file_path, "w") as f:
                    f.write(
                        f"Error {e} while executing statement {statement}"
                    )
                raise BackendError(
                    "execution error. See details in run log file "
                    f"{log_file_path}"
                ) from e


class DatabricksWarehouse(_RunFileMixin):
    """The reference's remote target; config surface preserved.

    The connector import is deferred to ``execute`` so projects can be
    configured/validated structurally without the optional
    ``databricks-sql-connector`` dependency installed."""

    REQUIRED = ("hostname", "http_path", "access_token", "catalog", "schema")

    def __init__(self, config: dict, log_path: str = "."):
        self.config = config
        self.log_path = log_path
        for key in self.REQUIRED:
            validate_value(config, key)

    def execute(self, query: str, mode: str = "run") -> None:
        try:
            from databricks import sql  # optional dependency
        except ImportError as e:
            raise BackendError(
                "databricks-sql-connector is not installed; install it or "
                "use SparkWarehouse"
            ) from e
        connection = sql.connect(
            server_hostname=self.config["hostname"],
            http_path=self.config["http_path"],
            access_token=self.config["access_token"],
            catalog=self.config["catalog"],
            schema=self.config["schema"],
        )
        cursor = connection.cursor()
        try:
            for statement in statements(query):
                try:
                    cursor.execute(statement)
                except Exception as e:
                    log_file_path = os.path.join(self.log_path, "run.log")
                    with open(log_file_path, "w") as f:
                        f.write(
                            f"Error {e} while executing statement {statement}"
                        )
                    raise BackendError(
                        "Databricks execution error. See details in run "
                        f"log file {log_file_path}"
                    ) from e
        finally:
            cursor.close()
            connection.close()
