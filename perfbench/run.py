#!/usr/bin/env python3
"""spark-graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Workloads (see ``workloads.py``):

* ``analytics_tpch``: the 22 ``q_tpch_q*`` registry queries;
* ``llm_corpus``: 18 dedup / similarity / text / multimodal / pipeline
  queries over ``documents`` and ``embeddings``;
* ``lakehouse_cdc``: one bucketed ``events`` table under batch appends,
  streamed merge-on-read CDC upserts, point lookups, dashboard reads and
  delete compaction.

One client, closed loop, one process, Spark on ``local[<nproc>]``. The seed
makes every input and the operation order. Set-up (session start, input
generation, the correctness check and one untimed warm-up pass) is timed as
``setup_s``. A run then measures the same pass ``round(--seconds / PASS_S)``
times (at least twice), each on a fresh target, and reports each op's
fastest latency and the fastest pass: load from other tenants of a shared
host only ever adds time. ``cpu_s_per_op`` is the CPU time of the
benchmark's own process tree (driver, JVM, Python workers) over the
cheapest pass, per op; it moves far less than wall time when the
hypervisor gives the box's CPUs to other guests.
``--trace 1`` measures one pass untraced, replays it with per-layer tracing
on and once more untraced, and reports the per-layer metrics and the
tracing overhead.

All scratch files live in a temporary directory inside the checkout that is
removed at exit; the run fails its correctness check if any other file of
the checkout changed. Standard output ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (every metric with unit and sample count, and the
environment record).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analytics_tpch", "llm_corpus", "lakehouse_cdc")
WORK_PREFIX = ".perfbench-"
BENCH_JSON = os.path.join(ROOT, "BENCHMARK.json")
# Nominal seconds of one warm pass on a 4-core box: a run measures
# round(--seconds / PASS_S) whole passes (at least two), a fixed amount of
# work per --seconds, so a faster engine finishes sooner rather than
# measuring a different mix.
PASS_S = {"analytics_tpch": 10.0, "llm_corpus": 15.0, "lakehouse_cdc": 6.0}


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``root``, except git metadata
    and benchmark work dirs."""
    out = {}
    for d, dirs, files in os.walk(root):
        if d == root:
            dirs[:] = [x for x in dirs if x != ".git" and not x.startswith(WORK_PREFIX)]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included. The kernel
    charges time the hypervisor gives to other guests as steal, not here."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        parent[int(d)] = int(st[1])
        used[int(d)] = sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    me, total = os.getpid(), 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str, ncpu: int) -> list[str]:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work``; run with the engine's defaults. Returns the engine
    knobs that were set in the environment (and are now removed)."""
    flagged = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    for k in flagged:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(work, d))
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}".strip(),
        SPARK_LAUNCHER_OPTS=f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}".strip(),
    )
    tempfile.tempdir = tmp
    # Spark's relative paths (spark-warehouse/, derby.log) land here
    os.chdir(os.path.join(work, "cwd"))
    return flagged


def run_ops(wl, ops, target, tracer=None, spark=None) -> list[tuple[object, float | None]]:
    """Execute ``ops`` one after another; latency is None for a failed op."""
    out = []
    for i, op in enumerate(ops):
        if tracer is not None:
            tracer.op = i
            spark.sparkContext.setJobGroup(f"perfbench-{i}", wl.kind(op))
        t0 = time.perf_counter()
        try:
            wl.run_op(op, target, tracer)
            out.append((op, time.perf_counter() - t0))
        except Exception:  # noqa: BLE001 - counted as a failed op
            traceback.print_exc()
            out.append((op, None))
    if tracer is not None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return out


def measure(wl, targets: list) -> tuple[list[list], list[float], list[float]]:
    """Run the workload's pass once on each target. Returns each pass's
    ``(op, latency)`` list, wall time and ``tree_cpu_s``."""
    runs, walls, cpus = [], [], []
    for target in targets:
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        runs.append(run_ops(wl, wl.ops(), target))
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
    return runs, walls, cpus


def best_of(runs: list[list]) -> list[tuple[object, float]]:
    """Each op of the pass with its fastest successful latency over the
    passes: load from other tenants of a shared host only adds time."""
    out = []
    for col in zip(*runs):
        ok = [s for _, s in col if s is not None]
        if ok:
            out.append((col[0][0], min(ok)))
    return out


def per_layer(spark, tracer, progress, results, wall, untraced_wall, get_spark_s, ncpu, target):
    """Per-layer metrics of the traced phase."""
    import tracing
    from workloads import FAMILIES, metric

    def span_mean(name: str) -> dict:
        return metric(tracer.mean(name), "s", tracer.total(name)[1])

    n = max(1, len(results))
    m: dict[str, dict] = {"session.get_spark_s": metric(get_spark_s, "s", 1)}
    m["operators.plan_build_s"] = span_mean("operators.plan_build")
    for fam in FAMILIES:
        m[f"operators.{fam}.op_s"] = span_mean(f"operators.{fam}.op")

    time.sleep(1.0)  # let the status store see the last job end
    groups = tracing.job_group_totals(spark) or {}
    mine = {g for g in groups if g.startswith("perfbench-")} | set(progress.run_ids)
    tot: dict[str, float] = {}
    for g in mine:
        for k, v in groups.get(g, {}).items():
            tot[k] = tot.get(k, 0.0) + v
    busy = sum(s for _, s in results if s is not None)
    m["exec.jobs_per_op"] = metric(tot.get("jobs", 0) / n, "count", n)
    m["exec.stages_per_op"] = metric(tot.get("stages", 0) / n, "count", n)
    m["exec.tasks_per_op"] = metric(tot.get("numTasks", 0) / n, "count", n)
    m["exec.busy_ratio"] = metric(tot.get("executorRunTime", 0) / 1e3 / max(1e-9, busy * ncpu), "ratio", n)
    for name, field in (
        ("shuffle_write_mb", "shuffleWriteBytes"),
        ("shuffle_read_mb", "shuffleReadBytes"),
        ("spill_mb", "diskBytesSpilled"),
        ("input_mb", "inputBytes"),
    ):
        m[f"exec.{name}"] = metric(tot.get(field, 0) / 1e6 / n, "MB/op", n)
    m["exec.gc_s"] = metric(tot.get("jvmGcTime", 0) / 1e3 / n, "s/op", n)
    m["exec.failed_tasks"] = metric(tot.get("numFailedTasks", 0), "count", n)

    lt_s, lt_n = tracer.total("sources.load_table")
    m["sources.load_table_s"] = metric(lt_s / n, "s/op", lt_n)
    m["sources.load_table_calls"] = metric(lt_n / n, "count/op", lt_n)
    repeats = tracer.counts["load_table_repeats"]
    m["sources.plan_cache_hit_ratio"] = metric(tracer.counts["load_table_hits"] / max(1, repeats), "ratio", int(repeats))

    for f in ("scan", "read", "append", "upsert_equality", "compact_deletes"):
        m[f"tables.{f}_s"] = span_mean(f"tables.{f}")
    c = tracer.counts
    m["tables.scan_planned_ratio"] = metric(c["files_planned"] / max(1, c["files_total"]), "ratio", tracer.total("tables.scan")[1])
    reads = tracer.total("tables.read")[1]
    m["tables.delete_files_outstanding"] = metric(c["delete_files"] / max(1, reads), "count", reads)
    commits = sum(tracer.total(f"tables.{f}")[1] for f in ("append", "upsert_equality", "compact_deletes"))
    meta = target.bytes(meta_only=True) - target.meta0 if target is not None else 0
    m["tables.meta_bytes_per_commit"] = metric(meta / max(1, commits), "B", commits)

    m["streaming.run_to_table_upsert_s"] = span_mean("streaming.run_to_table_upsert")
    for name, key in (
        ("trigger_ms", "triggerExecution"),
        ("add_batch_ms", "addBatch"),
        ("planning_ms", "queryPlanning"),
        ("wal_commit_ms", "walCommit"),
    ):
        m[f"streaming.{name}"] = metric(progress.mean_ms(key), "ms", len(progress.batches))
    m["trace.overhead_ratio"] = metric(wall / untraced_wall, "ratio", n)
    return m


def run(args, work: str, ncpu: int) -> dict:
    t_setup = time.perf_counter()
    flagged = prepare_env(work, ncpu)
    sys.path.insert(0, ROOT)
    import duckdb
    import pyarrow
    import pyspark

    import tracing
    import workloads
    from iceberg_poc_spark.session import get_spark

    if args.workload == "lakehouse_cdc":
        wl = workloads.LakehouseWorkload(work, args.seed, PASS_S[args.workload])
    else:
        tpch = args.workload == "analytics_tpch"
        names = workloads.TPCH if tpch else workloads.LLM
        wl = workloads.QueryWorkload(work, args.seed, names, PASS_S[args.workload], not tpch, ncpu)
    # inputs and oracle answers need no Spark: make them while it starts
    with ThreadPoolExecutor(1) as ex:
        prepared = ex.submit(wl.prepare)
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        prepared.result()
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        t2 = time.perf_counter()
        wl.setup(spark)
        t3 = time.perf_counter()
        # one untimed pass: the first passes after start run up to 2x slower
        measure(wl, [wl.target("warmup")])
        t4 = time.perf_counter()
        # every pass starts from its own fresh target; a traced run measures
        # one pass, replays it traced, then untraced again (the mean of both
        # untraced walls is the base)
        passes = 1 if args.trace else max(2, round(args.seconds / wl.pass_s))
        mains = [wl.target(f"main{p}") for p in range(passes)]
        replays = [wl.target("traced"), wl.target("again")] if args.trace else []
        setup_s = time.perf_counter() - t_setup
        phases = {
            "start": t0 - t_setup,
            "get_spark": get_spark_s,
            "inputs_after_get_spark": t2 - t1,
            "check": t3 - t2,
            "warmup_pass": t4 - t3,
            "targets": time.perf_counter() - t4,
        }

        ticks0 = steal_ticks()
        runs, walls, cpus = measure(wl, mains)
        ticks1 = steal_ticks()
        results = [r for run_ in runs for r in run_]
        best = best_of(runs)
        report = {
            "setup_s": workloads.metric(setup_s, "s", 1),
        }
        failed = sum(1 for _, s in results if s is None)
        lat = [s for _, s in best]
        report["latency_p50_s"] = workloads.pct(lat, 50, "s")
        report["latency_p90_s"] = workloads.pct(lat, 90, "s")
        rates = [sum(1 for _, s in r if s is not None) / w for r, w in zip(runs, walls)]
        report["ops_per_s"] = workloads.metric(max(rates), "1/s", len(results))
        report["cpu_s_per_op"] = workloads.metric(min(cpus) / len(wl.ops()), "s", len(results))
        report["fail_ratio"] = workloads.metric(failed / max(1, len(results)), "ratio", len(results))
        report.update(wl.report(best, mains[0]))

        layers = None
        attempted = len(results)
        if args.trace:
            ops = wl.ops()
            traced_t, again_t = replays
            tracer = tracing.Tracer()
            progress = tracing.StreamProgress()
            install(tracer)
            if traced_t is not None:
                traced_t.meta0 = traced_t.bytes(meta_only=True)
            spark.streams.addListener(progress)
            t1 = time.perf_counter()
            traced = run_ops(wl, ops, traced_t, tracer, spark)
            traced_wall = time.perf_counter() - t1
            tracer.uninstall()
            spark.streams.removeListener(progress)
            (again,), (again_wall,), _ = measure(wl, [again_t])
            untraced_wall = (walls[0] + again_wall) / 2
            layers = per_layer(
                spark, tracer, progress, traced, traced_wall, untraced_wall, get_spark_s, ncpu, traced_t
            )
            for res in (traced, again):
                attempted += len(res)
                failed += sum(1 for _, s in res if s is None)

        wl.finish([t for t in (*mains, *replays) if t is not None])
        report["wrong_results"] = workloads.metric(len(wl.wrong), "count", attempted)
        conf = spark.conf
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "nproc": ncpu,
            "master": spark.sparkContext.master,
            "versions": {
                "python": sys.version.split()[0],
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "duckdb": duckdb.__version__,
            },
            "conf": {
                k: conf.get(k, None)
                for k in (
                    "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled",
                    "spark.sql.adaptive.coalescePartitions.enabled",
                )
            },
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
            "flagged_env_knobs": flagged,
            "closed_loop_clients": 1,
            "setup_phases_s": phases,
            "pass_walls_s": walls,
            "pass_cpu_s": cpus,
            # share of CPU time the hypervisor gave to other guests while measuring
            "steal_ratio": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            "wrong": wl.wrong,
            **wl.env,
        }
        rss = {"python": vm_hwm_kb("self") / 1024.0, "jvm": vm_hwm_kb(jvm.pid) / 1024.0}
        env["peak_rss_mb"] = rss
        report["peak_rss_mb"] = workloads.metric(sum(rss.values()), "MB", 1)
        per_op: dict[str, list] = {}
        for op, s in results:
            per_op.setdefault(str(wl.kind(op)), []).append(s)
    finally:
        spark.stop()
        stop_jvm(jvm)
    return {
        "env": env,
        "metrics": report,
        "per_layer": layers,
        "per_op_s": per_op,
        "attempted": attempted,
        "failed": failed,
    }


def install(tracer) -> None:
    """Wrap each layer's public functions for the traced phase."""
    from iceberg_poc_spark.sources import tables as sources_tables
    from iceberg_poc_spark.streaming import pipelines
    from iceberg_poc_spark.tables import ParquetTableManager

    last: dict[tuple, object] = {}

    def on_load(a, k, out):
        key = tuple(a[1:]) + tuple(sorted(k.items()))
        if key in last:
            tracer.counts["load_table_repeats"] += 1
            tracer.counts["load_table_hits"] += last[key] is out
        last[key] = out

    def on_scan(a, k, out):
        tracer.counts["files_planned"] += out[1]
        tracer.counts["files_total"] += out[2]

    def on_read(a, k, out):
        tracer.counts["delete_files"] += outstanding_deletes(a[0], a[1])

    tracer.wrap_everywhere(sources_tables.load_table, "sources.load_table", on_load)
    tracer.wrap(ParquetTableManager, "scan", "tables.scan", on_scan)
    tracer.wrap(ParquetTableManager, "read", "tables.read", on_read)
    for f in ("append", "upsert_equality", "compact_deletes"):
        tracer.wrap(ParquetTableManager, f, f"tables.{f}")
    tracer.wrap_everywhere(pipelines.run_to_table_upsert, "streaming.run_to_table_upsert")


def outstanding_deletes(mgr, name: str) -> int:
    """Delete files the current snapshot of ``name`` still applies."""
    m = mgr._load_manifest(name)
    paths = set()
    for e in m["files"]:
        for d in (*e.get("eq_deletes", ()), *e.get("pos_deletes", ())):
            paths.add(d.get("path") if isinstance(d, dict) else json.dumps(d, sort_keys=True))
    for key in ("global_eq_deletes", "global_pos_deletes"):
        for g in m.get(key, ()):
            paths.add(g.get("path") if isinstance(g, dict) else json.dumps(g, sort_keys=True))
    return len(paths)


def stop_jvm(proc) -> None:
    """The gateway JVM exits when its stdin closes; wait for it."""
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "iceberg_poc_spark", "__init__.py")):
        print(f"no iceberg_poc_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(BENCH_JSON) as f:
        spec = json.load(f)
    ncpu = len(os.sched_getaffinity(0))
    before = tree_state(ROOT)
    work = tempfile.mkdtemp(prefix=WORK_PREFIX, dir=ROOT)
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # anything else written to stdout, by us or a child, goes to stderr
    try:
        res = run(args, work, ncpu)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    changed = sorted(set(before.items()) ^ set(tree_state(ROOT).items()))
    res["env"]["checkout_changed"] = sorted({p for p, _ in changed})
    m = res["metrics"]
    correct = m["wrong_results"]["value"] == 0 and not changed
    print(json.dumps({"report": res}), file=out)
    names = [x["name"] for x in spec["per_layer" if args.trace else "end_to_end"]]
    source = res["per_layer"] if args.trace else m
    final = {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": source[k]["value"], "unit": source[k]["unit"]} for k in names},
    }
    print(json.dumps(final), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
