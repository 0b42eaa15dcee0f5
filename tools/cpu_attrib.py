#!/usr/bin/env python3
"""Where a perfbench workload's CPU goes, per op kind.

    python3 tools/cpu_attrib.py --workload lakehouse_cdc --seed 1 --passes 3

Run from the root of a source checkout. Drives perfbench's own workload
classes in-process (same inputs, targets and op order as
``perfbench/run.py``; perfbench itself is not changed): one untimed
warm-up pass, then ``--passes`` measured passes, each on a fresh target.
For each op kind it prints, per op, averaged over the measured passes:

* ``cpu_s``: CPU seconds of this process tree (driver, JVM, Python
  workers) — what perfbench's ``cpu_s_per_op`` sums;
* ``jit_s``: JIT compile seconds the JVM reports
  (``CompilationMXBean.getTotalCompilationTime``). Compiler threads run
  inside the JVM, so this is part of ``cpu_s``;
* ``codegen``: classes Janino compiled (Spark's
  ``CodegenMetrics.METRIC_COMPILATION_TIME`` count). A generated-code
  cache too small for the workload shows here as compiles on every
  warm pass, and as the JIT time that re-compiling their classes costs;
* ``jobs`` and ``tasks``: Spark jobs the op ran, streaming micro-batch
  jobs included (they run in the query's run-id job group), and the
  tasks they ran.

The last line is the same table as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)

import run as perfbench  # noqa: E402  (perfbench/run.py)
import tracing  # noqa: E402
import workloads  # noqa: E402


def _workload(name: str, work: str, seed: int, ncpu: int):
    if name == "lakehouse_cdc":
        return workloads.LakehouseWorkload(work, seed, perfbench.PASS_S[name])
    tpch = name == "analytics_tpch"
    names = workloads.TPCH if tpch else workloads.LLM
    return workloads.QueryWorkload(
        work, seed, names, perfbench.PASS_S[name], not tpch, ncpu
    )


COLS = ("cpu_s", "jit_s", "codegen", "jobs", "tasks")


def attribute(spark, wl, targets: list) -> dict[str, dict[str, float]]:
    """Per op kind: the summed COLS and the op count."""
    sc = spark.sparkContext
    jit = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tracker = sc.statusTracker()
    progress = tracing.StreamProgress()
    spark.streams.addListener(progress)
    out: dict[str, dict[str, float]] = {}
    for p, target in enumerate(targets):
        for i, op in enumerate(wl.ops()):
            group = f"cpu-attrib-{p}-{i}"
            runs = len(progress.run_ids)
            sc.setJobGroup(group, str(wl.kind(op)))
            c0, j0, g0 = perfbench.tree_cpu_s(), jit.getTotalCompilationTime(), compiles.getCount()
            wl.run_op(op, target)
            c1, j1, g1 = perfbench.tree_cpu_s(), jit.getTotalCompilationTime(), compiles.getCount()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = [
                j
                for g in (group, *progress.run_ids[runs:])
                for j in tracker.getJobIdsForGroup(g)
            ]
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numCompletedTasks if st else 0
            row = out.setdefault(
                str(wl.kind(op)),
                {"ops": 0, **dict.fromkeys(COLS, 0.0)},
            )
            row["ops"] += 1
            row["cpu_s"] += c1 - c0
            row["jit_s"] += (j1 - j0) / 1e3
            row["codegen"] += g1 - g0
            row["jobs"] += len(jobs)
            row["tasks"] += tasks
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=perfbench.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    ncpu = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="cpu-attrib-")
    try:
        perfbench.prepare_env(work, ncpu)
        from iceberg_poc_spark.session import get_spark

        wl = _workload(args.workload, work, args.seed, ncpu)
        wl.prepare()
        spark = get_spark(app_name=f"cpu-attrib-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        jvm = spark.sparkContext._gateway.proc
        try:
            wl.setup(spark)
            perfbench.measure(wl, [wl.target("warmup")])
            targets = [wl.target(f"pass{p}") for p in range(args.passes)]
            t0 = time.perf_counter()
            rows = attribute(spark, wl, targets)
            wall = time.perf_counter() - t0
        finally:
            spark.stop()
            perfbench.stop_jvm(jvm)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    table = {
        kind: {
            "ops": int(r["ops"]),
            **{k: r[k] / r["ops"] for k in COLS},
        }
        for kind, r in rows.items()
    }
    print(f"{'op':<12}{'ops':>5}{'cpu_s':>9}{'jit_s':>9}{'jit%':>7}{'codegen':>9}{'jobs':>7}{'tasks':>7}")
    n = sum(r["ops"] for r in table.values())
    total = {k: sum(r[k] * r["ops"] for r in table.values()) / n for k in COLS}
    for kind, r in [*table.items(), ("all", {"ops": n, **total})]:
        share = 100 * r["jit_s"] / r["cpu_s"] if r["cpu_s"] else 0.0
        print(
            f"{kind:<12}{r['ops']:>5}{r['cpu_s']:>9.3f}{r['jit_s']:>9.3f}"
            f"{share:>6.0f}%{r['codegen']:>9.2f}{r['jobs']:>7.2f}{r['tasks']:>7.1f}"
        )
    print(json.dumps({"workload": args.workload, "seed": args.seed, "passes": args.passes, "wall_s": wall, "per_op": table}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
