"""Benchmark entry point.

    python3 perfbench/run.py --workload refresh_lanes --seed 1 --seconds 5 \
        --trace 0

Run from the repository root.  Prints a detail line (every step's
median and sample count, the failure ratio, the host stamps) and, last,
one JSON result line: with ``--trace 0`` it holds the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run of the
same inputs.  Everything the run writes lives in a temporary directory
under ``perfbench/`` that is removed at exit; the traced run's spans and
the per-run summaries are kept in ``perfbench/out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import host  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class OpFailed(Exception):
    """An operation raised; it is counted and its iteration abandoned."""


class Context:
    """State of one benchmark run, passed to the workload function."""

    def __init__(self, args, run_dir: str):
        from spans import Tracer

        self.root = ROOT
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracing = bool(args.trace)
        self.tracer = Tracer(self.tracing)
        self.run_dir = run_dir
        self.spark = None
        self.jvm = None  # the driver JVM's pid
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s = None  # CPU seconds, see host.app_cpu_seconds
        self.setup_wall_s = None
        self.loop_wall_s = None
        self.peak_rss_mb = 0.0
        self._loop_t0 = None
        self._label: str | None = None
        self._record = False
        self._steps: dict[tuple[str, str], float] = {}
        self._cpu: dict[tuple[str, str], float] = {}
        self.notes: dict[str, dict[str, float]] = {}
        self.recorded: list[str] = []
        self.stamp = {
            "nproc": host.nproc(),
            "driver_heap": host.driver_heap(),
            "loadavg_start": host.loadavg(),
        }
        self._ticks = host.cpu_ticks()

    # -- set-up ------------------------------------------------------------
    def path(self, rel: str) -> str:
        p = os.path.join(self.run_dir, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def session(self):
        import pyspark

        os.environ["SPARK_GRAFT_CPUS"] = str(self.stamp["nproc"])
        os.environ["SPARK_DRIVER_MEM"] = self.stamp["driver_heap"]
        self.stamp["pyspark"] = pyspark.__version__
        from dataforge_core_spark.session import get_spark

        tmp = self.path("spark-tmp")
        os.makedirs(tmp, exist_ok=True)
        with self.iteration("setup", record=False):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.local.dir": tmp,
                    # compiler threads live as long as the JVM, so that
                    # host.jit_cpu_seconds sees all their time
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={tmp} "
                        "-XX:-UseDynamicNumberOfCompilerThreads"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
        self.spark.sparkContext.setCheckpointDir(self.path("checkpoints"))
        self.jvm = host.jvm_pid(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.setup_wall_s = time.perf_counter() - T0
        self.setup_s = host.app_cpu_seconds(self.jvm)
        self._loop_t0 = time.perf_counter()

    def more(self, done: int) -> bool:
        """Start another loop iteration?  Yes until ``seconds`` are
        spent, and always a first one."""
        return not done or time.perf_counter() - self._loop_t0 < self.seconds

    def loop_done(self) -> None:
        self.loop_wall_s = time.perf_counter() - self._loop_t0
        self.peak_rss_mb = host.vm_hwm_mb() + (
            host.vm_hwm_mb(self.jvm) if self.jvm else 0.0
        )

    # -- timing ------------------------------------------------------------
    @contextlib.contextmanager
    def iteration(self, label: str, record: bool = True):
        """Scope of one loop iteration.  With ``record``, its steps count
        toward the medians and, traced, its Spark job, task and GC
        deltas are noted.  An ``OpFailed`` inside ends it early."""
        it = SimpleNamespace(ok=False, wall=0.0)
        prev = (self._label, self._record)
        self._label, self._record = label, record
        self.tracer.iteration = label
        counters = record and self.tracing and self.spark is not None
        if counters:
            jobs0, gc0 = host.job_ids(self.spark), host.gc_seconds(self.spark)
        t0 = time.perf_counter()
        try:
            yield it
            it.ok = True
        except OpFailed:
            pass
        finally:
            it.wall = time.perf_counter() - t0
            if counters:
                jobs = host.job_ids(self.spark) - jobs0
                self.note(label, "spark.jobs", len(jobs))
                self.note(label, "spark.tasks", host.tasks_of(self.spark, jobs))
                self.note(label, "jvm.gc_s", host.gc_seconds(self.spark) - gc0)
            if record and it.ok:
                self.recorded.append(label)
            self._label, self._record = prev
            self.tracer.iteration = prev[0]

    @contextlib.contextmanager
    def step(self, name: str):
        """Time a step, in wall and in CPU seconds; repeated steps in
        one iteration add up."""
        t0, c0 = time.perf_counter(), host.app_cpu_seconds(self.jvm)
        try:
            with self.tracer.span(f"bench.{name}"):
                yield
        finally:
            if self._record:
                key = (self._label, name)
                self._steps[key] = (
                    self._steps.get(key, 0.0) + time.perf_counter() - t0
                )
                self._cpu[key] = (
                    self._cpu.get(key, 0.0)
                    + host.app_cpu_seconds(self.jvm) - c0
                )

    def span(self, name: str):
        return self.tracer.span(name)

    def op(self, name: str, fn, *args):
        """Run one counted operation as step ``name``."""
        self.attempted += 1
        try:
            with self.step(name):
                return fn(*args)
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{name}: {e!r}"[:300])
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from e

    def note(self, label: str, metric: str, value: float) -> None:
        self.notes.setdefault(label, {})[metric] = value

    # -- correctness -------------------------------------------------------
    def check(self, what: str, mismatches: int) -> None:
        """A reference check.  It counts as one more attempted operation,
        failed when any row differs."""
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.problems.append(f"{what}: {mismatches} rows differ")

    # -- results -----------------------------------------------------------
    def iteration_sums(self, names) -> list[float]:
        """Per recorded iteration, the CPU seconds of the steps ``names``
        added up; iterations without all of them are left out."""
        return [
            sum(self._cpu[(label, n)] for n in names)
            for label in self.recorded
            if all((label, n) in self._cpu for n in names)
        ]

    def step_samples(self, cpu: bool = False) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for (label, name), secs in (self._cpu if cpu else self._steps).items():
            if label in self.recorded:
                out.setdefault(name, []).append(secs)
        return out

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.stamp["steal_pct"] = host.steal_pct(self._ticks, host.cpu_ticks())
        self.stamp["loadavg_end"] = host.loadavg()
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def end_to_end(ctx: Context) -> tuple[dict, dict]:
    """(metrics for the result line, every step as median and count)."""
    from metrics import E2E
    from workloads import STEPS

    steps, cpu = ctx.step_samples(), ctx.step_samples(cpu=True)
    detail = {
        k: {"median": _median(v), "cpu": _median(cpu[k]), "n": len(v)}
        for k, v in sorted(steps.items())
    }
    values = {"setup_s": ctx.setup_s, "peak_rss_mb": ctx.peak_rss_mb}
    for k, names in enumerate(STEPS[ctx.workload], 1):
        values[f"step{k}_cpu_s"] = _median(ctx.iteration_sums(names))
    metrics = {n: {"value": values[n], "unit": u} for n, u, *_ in E2E}
    return metrics, detail


# per-layer metric -> span names whose inclusive time it sums
SPAN_LAYERS = {
    "loader.load_s": ["loader.load_project"],
    "parser.parse_s": ["parser.parse_expression"],
    "paths.resolve_s": ["paths.graph", "paths.resolve"],
    "plans.plan_s": ["plans.plan_source"],
    "compiler.upsert_s": ["bench.upsert"],
    "sources.read_s": ["sources.read_source"],
    "runner.build_checkpointed_s": ["runner.build_checkpointed"],
    "runner.outputs_s": ["bench.outputs"],
    "imports.import_s": ["imports.import_project", "imports.to_project"],
    "probe.validate_s": ["probe.validate_project"],
    "sql_emitter.emit_s": ["sql_emitter.emit_all"],
    "backends.execute_s": ["backends.execute"],
}


def per_layer(ctx: Context) -> tuple[dict, dict]:
    """(metrics for the result line, per-iteration span summary)."""
    from metrics import LAYERS, OPERATOR_MODULES
    from spans import totals

    spans = ctx.tracer.spans
    by_iter = {}
    per_metric: dict[str, list[float]] = {}

    def incl(tot: dict, name: str) -> float:
        return tot.get(name, (0.0,))[0]

    for label in ctx.recorded:
        tot = totals(spans, label)
        by_iter[label] = {k: {"incl": v[0], "self": v[1], "calls": v[2]}
                          for k, v in sorted(tot.items())}
        if label == "cold":  # the cold lane pass, before the loop
            vals = {f"operators.{m}.cold_s": incl(tot, f"operators.{m}")
                    for m in OPERATOR_MODULES}
        else:
            vals = dict(ctx.notes.get(label, {}))
            for metric, names in SPAN_LAYERS.items():
                vals[metric] = sum(incl(tot, n) for n in names)
            for m in OPERATOR_MODULES:
                vals[f"operators.{m}.warm_s"] = incl(tot, f"operators.{m}")
            # the lazy build inside the iteration (the emitter's), else
            # the traced-only one after it
            vals["compiler.compile_s"] = incl(tot, "runner.build") or incl(
                totals(spans, "x" + label), "runner.build")
        for metric, v in vals.items():
            per_metric.setdefault(metric, []).append(v)
    per_metric["session.start_s"] = [
        incl(totals(spans, "setup"), "session.get_spark")
    ]
    metrics = {
        n: {"value": _median(per_metric.get(n, [])), "unit": u}
        for n, u, *_ in LAYERS
    }
    return metrics, by_iter


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("dataforge_core_spark", "projects/tpch_demo",
                 "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS

    run_dir = tempfile.mkdtemp(prefix=".run-", dir=BENCH_DIR)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR
    ctx = Context(args, run_dir)
    # before the workload binds any of the package's functions
    ctx.tracer.instrument()
    try:
        WORKLOADS[args.workload](ctx)
    finally:
        try:
            ctx.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    e2e, steps = end_to_end(ctx)
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": ctx.tracing,
        "setup_wall_s": ctx.setup_wall_s,
        "loop_wall_s": ctx.loop_wall_s,
        "total_wall_s": time.perf_counter() - T0,
        "steps": steps,
        "failed_ratio": ctx.failed / max(1, ctx.attempted),
        "problems": ctx.problems[:20],
        "host": ctx.stamp,
    }
    if ctx.tracing:
        layers, by_iter = per_layer(ctx)
        untraced = os.path.join(out_dir, f"e2e-{tag}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            detail["trace_overhead"] = {
                k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base
            }
        ctx.tracer.dump(os.path.join(out_dir, f"spans-{tag}.json"))
        with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as f:
            json.dump({"metrics": layers, "traced_e2e": e2e,
                       "iterations": by_iter, **detail}, f, indent=1)
        metrics = layers
    else:
        with open(os.path.join(out_dir, f"e2e-{tag}.json"), "w") as f:
            json.dump({"metrics": e2e, **detail}, f, indent=1)
        metrics = e2e
    print(json.dumps(detail))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
