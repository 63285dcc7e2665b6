"""Source readers + output writers.

The reference reads catalog-qualified tables only
(u_get_source_table_name.sql; sample ``samples.tpch.*``) and writes hubs /
outputs with ``DROP TABLE IF EXISTS …; CREATE TABLE … AS`` wrappers
(u_enr_query_generate_query.sql:121-142, u_output_generate_query.sql:152-155).
Output sub-types table/virtual/file(parquet|avro|text) are validated in
u_validate_output.sql:21-76.

This module keeps those semantics but adds direct-path reading (parquet /
csv / json / orc) so the engine also runs without a metastore.  All reads
go through ``spark.read`` — scans are DataSource-v2, so Catalyst pushes
filters and prunes columns into the file format.  A local parquet read
passes the schema read from its footer, so Spark runs no
schema-inference job (:func:`footer_schema`).
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataforge_core_spark.model import ProjectError, Source


def resolve_table_ref(ref: str, substitutions: dict[str, str] | None) -> str:
    out = ref
    for k, v in (substitutions or {}).items():
        out = out.replace("${" + k + "}", v)
    return out


# Arrow types whose Spark parquet inference is unambiguous; decimal128
# and timestamps are mapped in _footer_field, every other type leaves
# the inference to Spark.
_ARROW_TO_SPARK = {
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.bool_(): T.BooleanType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.date32(): T.DateType(),
}
# Spark stores its own schema under this footer key and prefers it to
# the parquet types when inferring.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_field(f: pa.Field, column, ntz: bool) -> T.DataType | None:
    """Spark's inferred type for one flat parquet column, or None."""
    if f.metadata:  # field ids and the like carry into Spark's schema
        return None
    if pa.types.is_decimal128(f.type):
        return T.DecimalType(f.type.precision, f.type.scale)
    if pa.types.is_timestamp(f.type):
        # the footer decides, not the Arrow type: INT96 always reads as
        # timestamp, and nanoseconds do not read at all
        lt = json.loads(column.logical_type.to_json())
        if column.physical_type != "INT64" or lt["Type"] != "Timestamp":
            return None
        if lt["timeUnit"] == "nanoseconds":
            return None
        if lt["isAdjustedToUTC"] or not ntz:
            return T.TimestampType()
        return T.TimestampNTZType()
    return _ARROW_TO_SPARK.get(f.type)


def _file_schema(path: str, ntz: bool) -> T.StructType | None:
    pf = pq.ParquetFile(path)
    if _SPARK_SCHEMA_KEY in (pf.metadata.metadata or {}):
        return None
    arrow = pf.schema_arrow
    if pf.metadata.num_columns != len(arrow):  # nested columns
        return None
    fields = []
    for i, f in enumerate(arrow):
        dt = _footer_field(f, pf.schema.column(i), ntz)
        if dt is None:
            return None
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def footer_schema(spark: SparkSession, ref: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(ref)`` infers, read in-process
    from the footer of a local parquet file or directory, or None when
    Spark's own inference must decide: a URI or a non-local default
    file system, a type outside the fixed mapping, an unreadable footer,
    a Spark-written file, or a directory with subdirectories, summary
    files or part files whose schemas differ.  File sources read every
    column as nullable, so every field here is nullable."""
    if urlparse(ref).scheme or not str(
        spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    ).startswith("file:"):
        return None
    if os.path.isdir(ref):
        # Spark skips names starting with "_" or "." except its summary
        # files, which it reads in place of the part files
        names = os.listdir(ref)
        if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
            return None
        paths = [
            os.path.join(ref, n) for n in sorted(names)
            if not n.startswith((".", "_"))
        ]
        if not paths or not all(map(os.path.isfile, paths)):
            return None
    elif os.path.isfile(ref):
        paths = [ref]
    else:
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        schemas = [_file_schema(p, ntz == "true") for p in paths]
    except (OSError, pa.ArrowException):
        return None
    if schemas[0] is None or any(s != schemas[0] for s in schemas[1:]):
        return None
    return schemas[0]


def _read_parquet(spark: SparkSession, ref: str) -> DataFrame:
    schema = footer_schema(spark, ref)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(ref)


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    lower = ref.lower()
    if lower.endswith(".parquet") or lower.endswith(".pq"):
        return _read_parquet(spark, ref)
    if lower.endswith(".csv"):
        return spark.read.option("header", "true").csv(ref)
    if lower.endswith(".json") or lower.endswith(".jsonl"):
        return spark.read.json(ref)
    if lower.endswith(".orc"):
        return spark.read.orc(ref)
    if lower.endswith(".avro"):
        return spark.read.format("avro").load(ref)
    if os.path.sep in ref and os.path.isdir(ref):
        return _read_parquet(spark, ref)
    return spark.table(ref)


def parse_datatype_json(schema_json):
    """Spark DataType from its JSON form, via the public
    StructType.fromJson one-field round-trip (datatype_schema columns
    store field.dataType.json() — miniSparky.py:63)."""
    from pyspark.sql import types as T

    return (
        T.StructType.fromJson(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "f",
                        "type": schema_json,
                        "nullable": True,
                        "metadata": {},
                    }
                ],
            }
        )
        .fields[0]
        .dataType
    )


def read_source(
    spark: SparkSession,
    source: Source,
    substitutions: dict[str, str] | None = None,
) -> DataFrame:
    """Read + project + cast a source to its declared raw attributes.

    Emits only declared columns (ReadSchema pruning reaches the scan) and
    casts each to the declared type — the reference trusts the catalog
    schema instead; the explicit cast makes local files behave the same.
    A local parquet source is read with the schema from its footer
    (:func:`footer_schema`), so the read starts no Spark job.  The
    declared types cannot replace the file's: a declared ``timestamp``
    is often ``timestamp_ntz`` in the file (the tpch sources are), so
    the scan reads the file's type and the cast converts it.
    """
    from pyspark.sql import types as T

    df = read_table(spark, resolve_table_ref(source.source_table, substitutions))
    cols = []
    have = {c.lower() for c in df.columns}
    for attr in source.raw_attributes:
        if attr.name.lower() not in have:
            raise ProjectError(
                f"Source {source.source_name!r}: column {attr.name!r} not "
                f"present in {source.source_table!r}"
            )
        if attr.schema_json is not None:
            cols.append(
                F.col(attr.name)
                .cast(parse_datatype_json(attr.schema_json))
                .alias(attr.name)
            )
        else:
            cols.append(F.col(attr.name).cast(attr.spark_ddl).alias(attr.name))
    return df.select(*cols)


def write_output(
    df: DataFrame,
    name: str,
    output_type: str = "table",
    file_format: str | None = None,
    base_dir: str | None = None,
    partition_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> None:
    """table -> saveAsTable (overwrite, CREATE-TABLE-AS parity);
    virtual -> temp view; file -> parquet/avro/text under base_dir.

    Hint scope: ``partition_by`` and ``zorder_by`` are WRITE-side
    layout hints — they shape files on disk.  A ``virtual`` output is a
    temp view with no storage, so both hints are no-ops there (declared
    ordinals are accepted for project portability but nothing is
    clustered); they take effect when the same output is re-declared as
    ``table``/``file``.

    ``zorder_by``: output columns with a ``zorder_ordinal`` hint
    (Output.zorder_columns) — rows are clustered within each write task
    via ``sortWithinPartitions`` on (partition keys, then zorder keys),
    which is a LOCAL sort (no extra shuffle): per-file min/max column
    statistics on the hinted keys become tight, so point/range scans
    skip whole files at the footer — the parquet-native approximation
    of Z-ordering at 100 TB (bit-interleaved multi-column clustering
    needs a table format's OPTIMIZE pass; on one hinted column the two
    are identical).  Prefixing the partition keys also caps open
    writers at one file per directory per task.

    ``partition_by``: output columns with a ``partition_ordinal`` hint
    (Output.partition_columns) — written as hive-style directory
    partitions, so downstream reads with a filter on the key prune at
    the directory level (the 100 TB reason the hint exists).  Hive
    directory caveat for parquet/avro path reads: readers re-infer
    partition-column types from the directory strings (a numeric-looking
    ``day=20240101`` string column reads back as INT unless
    ``spark.sql.sources.partitionColumnTypeInference.enabled`` is off)
    and partition columns re-appear LAST in the schema — select by name,
    not position.  Delta/catalog reads keep the declared schema."""

    def _w(writer):
        return writer.partitionBy(*partition_by) if partition_by else writer

    if zorder_by and output_type in ("table", "file"):
        if (file_format or "parquet").lower() == "text":
            raise ProjectError("text outputs cannot be zordered")
        df = df.sortWithinPartitions(*((partition_by or []) + zorder_by))

    if partition_by and output_type == "file" and (
        (file_format or "parquet").lower() == "text"
    ):
        # a text output is single-column; partitioning it by that column
        # would leave empty files — reject rather than silently ignore
        raise ProjectError("text outputs cannot be partitioned")

    if output_type == "table":
        if base_dir:
            _w(df.write.mode("overwrite")).parquet(
                os.path.join(base_dir, name)
            )
        else:
            _w(df.write.mode("overwrite")).saveAsTable(name)
    elif output_type == "virtual":
        df.createOrReplaceTempView(name)
    elif output_type == "file":
        fmt = (file_format or "parquet").lower()
        if base_dir is None:
            raise ProjectError("file outputs need base_dir")
        path = os.path.join(base_dir, name)
        if fmt == "parquet":
            _w(df.write.mode("overwrite")).parquet(path)
        elif fmt == "avro":
            _w(df.write.mode("overwrite").format("avro")).save(path)
        elif fmt == "text":
            # text outputs must be single-column (u_validate_output.sql:39-41)
            if len(df.columns) != 1:
                raise ProjectError("text output must have exactly one column")
            df.write.mode("overwrite").text(path)
        elif fmt == "csv":
            # extension beyond the reference's parquet/avro/text: header
            # row for interchange; complex columns rejected by Spark's
            # CSV writer itself (arrays/structs have no CSV encoding)
            _w(df.write.mode("overwrite").option("header", "true")).csv(path)
        elif fmt == "json":
            # extension: JSON-lines — the interchange format most
            # downstream training-data tooling ingests directly
            _w(df.write.mode("overwrite")).json(path)
        elif fmt == "delta":
            # lakehouse target (classpath-gated — sources/merge_targets):
            # enables storage-level MERGE for the incremental upsert path
            from dataforge_core_spark.sources.merge_targets import (
                write_delta,
            )

            write_delta(df, path, partition_by=partition_by)
        else:
            raise ProjectError(f"Unknown file format {fmt!r}")
    else:
        raise ProjectError(f"Unknown output type {output_type!r}")
