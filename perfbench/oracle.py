"""Reference checks run outside the timed region.

Spark results are pulled as Arrow and compared with their reference in
DuckDB by multiset difference (``EXCEPT ALL`` both ways), so row order
does not matter and every differing row counts once.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from datagen import CORPUS_TABLES, TPCH_TABLES


def connect(data_dir: str):
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TPCH_TABLES + CORPUS_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _naive(table: pa.Table) -> pa.Table:
    """Spark's Arrow export tags timestamps UTC; DuckDB oracles return
    naive timestamps.  The session runs in UTC, so dropping the zone
    keeps the instant."""
    cols = []
    for f in table.schema:
        col = table.column(f.name)
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def diff_rows(con, left: pa.Table, right_sql: str) -> int:
    """Rows of ``left`` and of the query ``right_sql`` that the other
    side lacks (multiset), or every row when the column sets differ."""
    con.register("bench_left", _naive(left))
    try:
        right_cols = [d[0] for d in con.execute(
            f"SELECT * FROM ({right_sql}) LIMIT 0"
        ).description]
        if sorted(right_cols) != sorted(left.column_names):
            return max(1, left.num_rows)
        cols = ", ".join(f'"{c}"' for c in sorted(right_cols))
        con.execute(f"CREATE OR REPLACE TEMP TABLE bench_right AS {right_sql}")
        (n,) = con.execute(
            f"""SELECT
                 (SELECT count(*) FROM (SELECT {cols} FROM bench_left
                   EXCEPT ALL SELECT {cols} FROM bench_right))
               + (SELECT count(*) FROM (SELECT {cols} FROM bench_right
                   EXCEPT ALL SELECT {cols} FROM bench_left))"""
        ).fetchone()
        return int(n)
    finally:
        con.unregister("bench_left")
        con.execute("DROP TABLE IF EXISTS bench_right")


def diff_tables(left: pa.Table, right: pa.Table) -> int:
    """``diff_rows`` between two Arrow tables."""
    con = duckdb.connect()
    try:
        con.register("bench_other", _naive(right))
        return diff_rows(con, left, "SELECT * FROM bench_other")
    finally:
        con.close()
