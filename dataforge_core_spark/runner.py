"""Project runner: topologically-ordered hub + output builds.

Replaces the reference's run.sql orchestration
(svc_generate_queries.sql:18-53,85-127 — sources leveled so that every
query reads already-materialized hubs; "Circular dependencies in sources"
on cycles) and the sequential statement runner
(cli/dataforge/databricks_sql.py:47-60).

Two execution modes:

- ``build()``         : hubs as *lazy* DataFrames — downstream reads compose
                        into one Catalyst plan (best for correctness tests
                        and for letting AQE see the whole pipeline)
- ``materialize(dir)``: hubs written to parquet level-by-level and re-read
                        (the reference's hub-table semantics — hubs are
                        reusable assets; at 100 TB this bounds any single
                        plan's size and makes each hub's stats available to
                        downstream joins)
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dataforge_core_spark.compiler import SourceCompiler
from dataforge_core_spark.model import Project, Source
from dataforge_core_spark.paths import derive_bucket_keys
from dataforge_core_spark.plans.planner import build_levels
from dataforge_core_spark.sources.readers import read_source, write_output


class ProjectRunner:
    def __init__(
        self,
        spark: SparkSession,
        project: Project,
        substitutions: dict[str, str] | None = None,
        persist_hubs: bool = True,
    ):
        self.spark = spark
        self.project = project
        self.substitutions = substitutions or {}
        self.compiler = SourceCompiler(spark, project)
        # Hubs are reusable assets in the reference (always materialized
        # tables).  In lazy build mode, downstream hubs re-expand every
        # referenced hub's plan per reference — persisting each hub keeps
        # one copy per hub (Catalyst does not dedup identical subtrees).
        # materialize() is the full parquet-checkpoint equivalent.
        self.persist_hubs = persist_hubs

    # ------------------------------------------------------------------
    def _walk(
        self, finish: Callable[[Source, DataFrame], DataFrame]
    ) -> dict[str, DataFrame]:
        """Read and compile every hub level by level
        (:func:`build_levels`); ``finish(source, df)`` turns a compiled
        hub into the frame later levels read.  Hubs within a level are
        independent, so they run on a thread pool (Spark's scheduler
        interleaves their jobs; svc_generate_queries.sql orders only
        across levels)."""
        by_name = self.project.source_by_name()
        hubs: dict[str, DataFrame] = {}

        def one(name: str) -> tuple[str, DataFrame]:
            src = by_name[name]
            base = read_source(self.spark, src, self.substitutions)
            return name, finish(src, self.compiler.compile_source(src, base, hubs))

        for level in build_levels(self.project, self.compiler.graph):
            if len(level) == 1:
                done = [one(level[0])]
            else:
                with ThreadPoolExecutor(max_workers=len(level)) as pool:
                    done = list(pool.map(one, level))
            hubs.update(done)
        return hubs

    def build(self) -> dict[str, DataFrame]:
        """Compile all hubs as lazy DataFrames, in dependency order."""
        return self._walk(
            lambda src, df: df.persist() if self.persist_hubs else df
        )

    def build_checkpointed(self) -> dict[str, DataFrame]:
        """Compile AND materialize every hub as an eager local
        checkpoint, level-parallel, measuring each hub as it is stored.

        Downstream hubs compile against the already-checkpointed
        upstream frames (plain ``LogicalRDD`` scans), so each hub's
        materialization job runs exactly its own pipeline, and hubs
        within a topological level checkpoint concurrently.  A
        checkpoint keeps Catalyst's estimate of the plan it came from,
        which multiplies across joins (about 1e89 bytes for a 60k-row
        lineitem hub), so every downstream lookup would shuffle its fact
        side.  :meth:`materialize` avoids that through real file sizes;
        here each checkpoint job also counts its rows through an
        ``Observation`` (no extra job), and the compiler sizes later
        lookup and aggregate joins from those counts
        (``SourceCompiler.record_hub_size``).  This is the in-session
        equivalent of :meth:`materialize`'s parquet writes, for callers
        that want hot frames instead of files.
        """

        def checkpoint(src: Source, df: DataFrame) -> DataFrame:
            rows = Observation()
            hub = df.observe(rows, F.count(F.lit(1)).alias("n"))
            hub = hub.localCheckpoint(eager=True)
            self.compiler.record_hub_size(src.source_name, hub, rows.get["n"])
            return hub

        return self._walk(checkpoint)

    def build_outputs(
        self, hubs: dict[str, DataFrame] | None = None
    ) -> dict[str, DataFrame]:
        hubs = hubs if hubs is not None else self.build()
        return {
            out.output_name: self.compiler.compile_output(out, hubs)
            for out in self.project.outputs
        }

    # ------------------------------------------------------------------
    def bucket_keys(self) -> dict[str, list[str]]:
        """Per-source bucket keys from the relation graph — at 100 TB the
        difference between a scan-local join and a full-network exchange
        per query (see paths.derive_bucket_keys)."""
        return derive_bucket_keys(self.project.relations)

    # ------------------------------------------------------------------
    def materialize(
        self,
        base_dir: str,
        bucket_by: dict[str, list[str]] | str | None = None,
        n_buckets: int = 32,
    ) -> dict[str, str]:
        """Write hubs level-by-level (each level's hubs are independent),
        re-reading parquet for downstream levels; then write outputs.

        Returns {name: path}.  At scale each write is a natural pipeline
        checkpoint: downstream plans start from compact columnar files
        with accurate size stats (broadcast decisions stay correct).

        ``bucket_by`` — ``"auto"`` derives per-hub bucket keys from the
        relation graph (:meth:`bucket_keys`), or pass
        ``{source_name: [cols]}`` explicitly.  Bucketed hubs are written
        with ``bucketBy(n_buckets).sortBy`` as catalog tables (Spark only
        records bucket specs in the catalog) and re-read via
        ``spark.table`` so downstream joins/groupBys on the key reuse the
        write-time partitioning without an exchange.
        """
        if bucket_by == "auto":
            bucket_by = self.bucket_keys()
        bucket_by = bucket_by or {}
        os.makedirs(base_dir, exist_ok=True)

        def write(src: Source, df: DataFrame) -> DataFrame:
            path = os.path.join(base_dir, src.target_table)
            keys = bucket_by.get(src.source_name)
            if keys and set(keys) <= set(df.columns):
                self.spark.sql(f"DROP TABLE IF EXISTS `{src.target_table}`")
                (
                    df.write.mode("overwrite")
                    .option("path", path)
                    .bucketBy(n_buckets, *keys)
                    .sortBy(*keys)
                    .saveAsTable(src.target_table)
                )
                return self.spark.table(src.target_table)
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)

        hubs = self._walk(write)
        by_name = self.project.source_by_name()
        tables = [by_name[name].target_table for name in hubs]
        paths = {t: os.path.join(base_dir, t) for t in tables}
        for out in self.project.outputs:
            df = self.compiler.compile_output(out, hubs)
            write_output(
                df,
                out.output_name,
                out.output_type,
                out.file_format,
                base_dir=base_dir,
                partition_by=out.partition_columns() or None,
                zorder_by=out.zorder_columns() or None,
            )
            if out.output_type in ("table", "file"):
                paths[out.output_name] = os.path.join(base_dir, out.output_name)
        return paths
