#!/usr/bin/env python
"""Isolate bench lanes: replicate bench.py's warmup, run each requested
lane once untimed (which builds the stored indexes that lane reads, and
no others), then time the lanes N times each (noop sink), printing
per-run seconds, Spark jobs started, and the CPU of the JVM's reaped
child processes (cutime + cstime in /proc/<jvm>/stat: the chmod and
readlink forks Hadoop's local file system makes without libhadoop).
For adjudicating whether a lane's bench number is a lane property or a
phase/position artifact, and for spotting a schema-inference job or a
fork cost without a custom harness.

Usage: python scripts/lane_probe.py [--runs N] [--sleep S] lane [lane ...]
  --runs N    runs per lane (default 6)
  --sleep S   seconds to sleep between the untimed calls and the timed
              runs (default 0; use e.g. 60 to let JIT/cleaner churn
              settle)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    runs, settle = 6, 0.0
    lanes: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sleep":
            settle = float(args[i + 1]); i += 2
        else:
            lanes.append(args[i]); i += 1

    import bench
    import __spark_entry__ as entry
    from dataforge_core_spark.operators import _store
    from dataforge_core_spark.session import get_spark

    sf_dir = bench.SF_DIR
    spark = get_spark(app_name="lane_probe")
    qs = entry.queries()

    def run(name: str) -> None:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # bench.py's warmup, then one untimed call per lane in place of
    # bench's whole index phase
    spark.read.parquet(f"{sf_dir}/region.parquet").write.format(
        "noop"
    ).mode("overwrite").save()
    _store.clear_all(spark)
    t0 = time.perf_counter()
    for name in lanes:
        run(name)
    print(f"untimed first calls wall {time.perf_counter() - t0:.1f}s", flush=True)
    if settle:
        time.sleep(settle)

    tracker = spark.sparkContext.statusTracker()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_stat = f"/proc/{jvm_pid}/stat"
    tick = os.sysconf("SC_CLK_TCK")

    def reaped_child_cpu() -> float:
        with open(jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[13]) + int(fields[14])) / tick  # cutime, cstime

    out = {}
    for name in lanes:
        rs, jobs, child = [], [], []
        for _ in range(runs):
            ids, c = set(tracker.getJobIdsForGroup()), reaped_child_cpu()
            t = time.perf_counter()
            run(name)
            rs.append(round(time.perf_counter() - t, 3))
            jobs.append(len(set(tracker.getJobIdsForGroup()) - ids))
            child.append(round(reaped_child_cpu() - c, 2))
        out[name] = {"s": rs, "jobs": jobs, "child_cpu_s": child}
        print(name, rs, "jobs", jobs, "child_cpu_s", child, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
