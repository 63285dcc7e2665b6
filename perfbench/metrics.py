"""Every metric the benchmark reports, with its unit and direction.

End-to-end metrics are printed by every workload with ``--trace 0``.
Each workload's loop iteration runs its steps in order; the two step
metrics add them up as a user waits for them:

| workload         | step1_cpu_s                                  | step2_cpu_s              |
|------------------|----------------------------------------------|--------------------------|
| refresh_lanes    | refresh (7 hubs + 2 outputs), 2 upserts      | warm pass over the lanes |
| elt_compile_wide | import, to_project, validate, emit (compile) | run.sql                  |

``stepN_cpu_s`` is the median over the run's iterations of the CPU time
spent during those steps by the benchmark process and the Spark driver JVM,
leaving out the JVM's JIT compiler threads (``host.app_cpu_seconds``).
It leaves out time the hypervisor stole, which on shared hosts swings by
a fifth from minute to minute, and the compilers' background work, whose
share of a step depends on how far the JIT had got; both made wall time
and whole-machine CPU time too noisy for a single sample.  The steps'
wall-clock medians are printed in the detail line.

``setup_s`` is the same CPU time from process start to the first timed
step: session, input generation, the unrecorded warm-up round and, in
refresh_lanes, the cold lane pass whose first calls build the
operators' indexes.  Its wall time, and each step's own name
(``refresh_s``, ``validate_s``, ``cold_pass_s`` ...) with its wall and
CPU medians and sample count, are printed in the detail line.

Per-layer metrics come from the traced run (``--trace 1``); their times
are wall time.  ``moves`` names the end-to-end metric and workload each
should move.
"""

from __future__ import annotations

import re

E2E = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("step1_cpu_s", "s", "lower", 0.25),
    ("step2_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

OPERATOR_MODULES = (
    "dedup",
    "simhash",
    "similarity",
    "sketches",
    "text",
    "training",
    "multimodal",
    "events",
    "nested",
    "streaming_rows",
)

_ALL = "all workloads"
_R, _C = "refresh_lanes", "elt_compile_wide"

# name, unit, better, moves
LAYERS = [
    ("session.start_s", "s", "lower", f"setup_s on {_ALL}"),
    ("loader.load_s", "s", "lower",
     f"step1_cpu_s on {_R}; no step on {_C} (it runs before step1)"),
    ("parser.parse_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("paths.resolve_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("plans.plan_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("plans.joins", "count", "lower", f"step1_cpu_s on {_R} and {_C}"),
    ("compiler.compile_s", "s", "lower",
     f"step1_cpu_s on {_R}; step1_cpu_s on {_C} (the emitter builds these "
     "DataFrames to infer types)"),
    ("compiler.plan_nodes", "count", "lower",
     f"step1_cpu_s on {_R} and {_C}"),
    ("compiler.exchanges", "count", "lower", f"step1_cpu_s on {_R}"),
    ("compiler.upsert_s", "s", "lower", f"step1_cpu_s on {_R}"),
    ("sources.read_s", "s", "lower", f"step1_cpu_s on {_R}"),
    ("runner.build_checkpointed_s", "s", "lower",
     f"step1_cpu_s on {_R}; about zero on {_C}"),
    ("runner.outputs_s", "s", "lower", f"step1_cpu_s on {_R}"),
    ("imports.import_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("probe.validate_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("probe.runs", "count", "lower", f"step1_cpu_s on {_C}"),
    ("probe.hit_ratio", "ratio", "higher", f"step1_cpu_s on {_C}"),
    ("sql_emitter.emit_s", "s", "lower", f"step1_cpu_s on {_C}"),
    ("sql_emitter.sql_bytes", "bytes", "lower",
     f"step1_cpu_s and step2_cpu_s on {_C}"),
    ("sql_emitter.statements", "count", "lower",
     f"step1_cpu_s and step2_cpu_s on {_C}"),
    ("backends.execute_s", "s", "lower", f"step2_cpu_s on {_C}"),
    ("spark.jobs", "count", "lower", f"every step on {_ALL}"),
    ("spark.tasks", "count", "lower", f"every step on {_ALL}"),
    ("jvm.gc_s", "s", "lower", f"every step on {_ALL}"),
]
for _m in OPERATOR_MODULES:
    LAYERS.append((f"operators.{_m}.cold_s", "s", "lower",
                   f"setup_s on {_R} (the cold pass); zero on {_C}"))
    LAYERS.append((f"operators.{_m}.warm_s", "s", "lower",
                   f"step2_cpu_s on {_R}; zero on {_C}"))

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
