"""Scale-out extension operators beyond the reference's surface.

The reference compiles ELT rules; a 100 TB training-data pipeline also
needs dedup, similarity search, text analysis and multimodal handling.
Each operator module exposes plain (spark, sf_dir) -> DataFrame callables
plus a DuckDB oracle where the semantics are SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    from dataforge_core_spark.operators import (
        dedup,
        engine_rows,
        events,
        multimodal,
        nested,
        similarity,
        simhash,
        sketches,
        streaming_rows,
        text,
        training,
    )

    return [
        engine_rows,
        streaming_rows,
        nested,
        sketches,
        events,
        text,
        dedup,
        training,
        simhash,
        similarity,
        multimodal,
    ]


def extension_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _modules():
        q.update(m.queries())
    return q


def extension_oracles() -> dict[str, str]:
    o: dict[str, str] = {}
    for m in _modules():
        o.update(m.oracles())
    return o
