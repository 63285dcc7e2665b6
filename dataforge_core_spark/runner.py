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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dataforge_core_spark.compiler import SourceCompiler
from dataforge_core_spark.model import Project, ProjectError
from dataforge_core_spark.paths import derive_bucket_keys
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
    def topo_order(self) -> list[list[str]]:
        """Source build levels (svc_generate_queries.sql:18-53).

        Sub-sources are not standalone hubs — their element rules compile
        into the parent hub's array enrichment (§2.11)."""
        deps: dict[str, set[str]] = {}
        for s in self.project.sources:
            if s.sub_source_parent:
                continue
            if s.processing_type == "stream":
                # stream sources run via streaming/, not the batch runner
                # (the reference routes them to meta.process, outside
                # run.sql — u_enr_query_generate_query.sql:101-104)
                continue
            plan = self.compiler.plan(s)
            deps[s.source_name] = set(plan.hub_deps)
        placed: set[str] = set()
        levels: list[list[str]] = []
        remaining = set(deps)
        while remaining:
            level = sorted(
                n for n in remaining if deps[n] <= placed
            )
            if not level:
                raise ProjectError(
                    "Circular dependencies in sources: "
                    + ", ".join(sorted(remaining))
                )
            levels.append(level)
            placed |= set(level)
            remaining -= set(level)
        return levels

    # ------------------------------------------------------------------
    def build(self) -> dict[str, DataFrame]:
        """Compile all hubs as lazy DataFrames, in dependency order."""
        by_name = self.project.source_by_name()
        hubs: dict[str, DataFrame] = {}
        for level in self.topo_order():
            for name in level:
                src = by_name[name]
                base = read_source(self.spark, src, self.substitutions)
                df = self.compiler.compile_source(src, base, hubs)
                hubs[name] = df.persist() if self.persist_hubs else df
        return hubs

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
        from concurrent.futures import ThreadPoolExecutor

        by_name = self.project.source_by_name()
        hubs: dict[str, DataFrame] = {}
        for level in self.topo_order():
            def _ckpt(name: str) -> tuple[str, DataFrame]:
                src = by_name[name]
                base = read_source(self.spark, src, self.substitutions)
                df = self.compiler.compile_source(src, base, hubs)
                rows = Observation()
                hub = df.observe(rows, F.count(F.lit(1)).alias("n"))
                hub = hub.localCheckpoint(eager=True)
                self.compiler.record_hub_size(name, hub, rows.get["n"])
                return name, hub

            if len(level) == 1:
                done = [_ckpt(level[0])]
            else:
                with ThreadPoolExecutor(max_workers=len(level)) as pool:
                    done = list(pool.map(_ckpt, level))
            hubs.update(done)
        return hubs

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
        from concurrent.futures import ThreadPoolExecutor

        if bucket_by == "auto":
            bucket_by = self.bucket_keys()
        bucket_by = bucket_by or {}

        by_name = self.project.source_by_name()
        paths: dict[str, str] = {}
        hubs: dict[str, DataFrame] = {}
        bucketed: set[str] = set()
        os.makedirs(base_dir, exist_ok=True)
        for level in self.topo_order():
            # hubs within a topological level are independent — submit
            # their writes concurrently (Spark's scheduler interleaves
            # the jobs; svc_generate_queries.sql orders only across
            # levels)
            def _write(name: str) -> None:
                src = by_name[name]
                base = read_source(self.spark, src, self.substitutions)
                df = self.compiler.compile_source(src, base, hubs)
                path = os.path.join(base_dir, src.target_table)
                keys = bucket_by.get(name)
                if keys and set(keys) <= set(df.columns):
                    self.spark.sql(
                        f"DROP TABLE IF EXISTS `{src.target_table}`"
                    )
                    (
                        df.write.mode("overwrite")
                        .option("path", path)
                        .bucketBy(n_buckets, *keys)
                        .sortBy(*keys)
                        .saveAsTable(src.target_table)
                    )
                    bucketed.add(name)
                else:
                    df.write.mode("overwrite").parquet(path)

            if len(level) == 1:
                _write(level[0])
            else:
                with ThreadPoolExecutor(max_workers=len(level)) as pool:
                    list(pool.map(_write, level))
            for name in level:
                src = by_name[name]
                path = os.path.join(base_dir, src.target_table)
                paths[src.target_table] = path
                hubs[name] = (
                    self.spark.table(src.target_table)
                    if name in bucketed
                    else self.spark.read.parquet(path)
                )
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
