"""The benchmark's workloads: one client, closed loop, one process.

A workload turns its seed into inputs in ``prepare`` (no Spark needed) and
hands out its *pass*: one seeded list of operations that ``run_op``
executes one at a time against a *target*. A run repeats the same pass, so
every pass measures the same operations. Query workloads check their
answers in ``setup`` and have no target; the lakehouse workload gives each
pass its own freshly loaded table, so every pass starts from the same
state, and checks those tables in ``finish``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import random
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from iceberg_poc_spark.registry import load_all
from iceberg_poc_spark.sources import load_table
from iceberg_poc_spark.streaming import pipelines
from iceberg_poc_spark.tables import ParquetTableManager, bucket

TPCH = [f"q_tpch_q{i}" for i in range(1, 23)]
LLM = [
    "q_dedup_exact",
    "q_dedup_near",
    "q_dedup_simhash",
    "q_dedup_clusters",
    "q_dedup_embedding",
    "q_sim_topk",
    "q_sim_ann_ivf",
    "q_sim_knn_join",
    "q_text_tfidf",
    "q_text_quality",
    "q_text_redact_pii",
    "q_decontaminate",
    "q_vocab_topk",
    "q_chunk_documents",
    "q_multimodal_features",
    "q_multimodal_dedup",
    "q_udf_pandas_scalar",
    "q_pipeline_corpus_prep",
]
# operator module -> family reported as operators.<family>.op_s
FAMILIES = ("relational", "dedup", "similarity", "text", "multimodal", "udfs")
QUERY_SF = 0.01


def _norm(v):
    """A value as both engines agree on it: floats to 9 significant
    digits (summation order moves the last ulp), containers recursively."""
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return f if math.isnan(f) or math.isinf(f) else float(f"{f:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _strip_floats(v):
    if isinstance(v, float):
        return None
    if isinstance(v, tuple):
        return tuple(_strip_floats(x) for x in v)
    return v


def _canon(rows: list[dict]) -> list[tuple]:
    """Rows as tuples over name-sorted columns, ordered by their non-float
    values first, so a last-digit float difference cannot reorder them."""
    out = [tuple((c, _norm(r[c])) for c in sorted(r)) for r in rows]
    return sorted(out, key=lambda row: (repr(_strip_floats(row)), repr(row)))


def _decimals(f: float) -> int:
    r = repr(f)
    return len(r) - r.index(".") - 1 if "." in r and "e" not in r else 0


def same(a, b) -> bool:
    """Canonical results agree. Each engine rounds its own unrounded
    value, and those differ in the last bits (summation order, float32
    vs float64 kernels), so a result rounded to d decimals may differ by
    one unit in its last place; other floats may differ by 1e-7
    relative."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        d = max(_decimals(a), _decimals(b))
        return math.isclose(a, b, rel_tol=1e-7) or (0 < d <= 6 and abs(a - b) <= 1.01 * 10.0**-d)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


class QueryWorkload:
    """Registry queries over a generated corpus, each materialized with a
    noop write."""

    def __init__(self, work: str, seed: int, names: list[str], pass_s: float, isolate_modules: bool, ncpu: int):
        self.spark = None
        self.seed = seed
        self.pass_s = pass_s
        self.names = names
        self.isolate_modules = isolate_modules
        self.ncpu = ncpu
        self.corpus = os.path.join(work, "corpus")
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        reg = load_all()
        self.queries = {n: reg[n] for n in names}
        self.family = {}
        for n, q in self.queries.items():
            mod = q.fn.__module__.rsplit(".", 1)[-1]
            self.family[n] = mod if mod in FAMILIES else "relational"
        self.env: dict = {}
        self.wrong: list[str] = []

    def prepare(self) -> None:
        """Generate the corpus and the oracle answers (no Spark needed)."""
        self.rows = datagen.make_corpus(self.corpus, self.seed, QUERY_SF)
        self.env["sf"] = QUERY_SF
        self.env["dataset_rows"] = self.rows
        self.env["dataset_bytes"] = sum(
            os.path.getsize(os.path.join(self.corpus, f)) for f in os.listdir(self.corpus)
        )
        t0 = time.perf_counter()
        # two threads: this runs while the Spark session starts
        con = duckdb.connect(config={"threads": 2})
        for t in self.rows:
            path = os.path.join(self.corpus, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {
            n: _canon(con.execute(q.oracle).arrow().to_pylist())
            for n, q in self.queries.items()
        }
        con.close()
        self.env["setup_oracle_s"] = time.perf_counter() - t0

    def setup(self, spark) -> None:
        self.spark = spark
        t1 = time.perf_counter()
        for t in self.rows:
            load_table(self.spark, self.corpus, t)
        groups: dict[str, list[str]] = {}
        for n in self.names:
            key = self.queries[n].fn.__module__ if self.isolate_modules else n
            groups.setdefault(key, []).append(n)

        def check(group: list[str]) -> list[str]:
            return [n for n in group if not self._matches(n, self.expected[n])]

        with ThreadPoolExecutor(self.ncpu) as ex:
            for wrong in ex.map(check, groups.values()):
                self.wrong += wrong
        self.env["setup_check_s"] = time.perf_counter() - t1

    def _matches(self, name: str, expected: list[tuple]) -> bool:
        try:
            rows = self.queries[name].fn(self.spark, self.corpus).collect()
        except Exception:  # noqa: BLE001 - a failing query is a wrong result
            traceback.print_exc()
            return False
        return same(_canon([r.asDict(recursive=True) for r in rows]), expected)

    def ops(self) -> list[str]:
        return self.order

    def target(self, label: str) -> None:
        return None

    def run_op(self, op: str, target, tracer=None) -> None:
        t0 = time.perf_counter()
        df = self.queries[op].fn(self.spark, self.corpus)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if tracer is not None:
            t2 = time.perf_counter()
            tracer.spans.append(("operators.plan_build", t0, t1, tracer.op))
            tracer.spans.append((f"operators.{self.family[op]}.op", t0, t2, tracer.op))

    def kind(self, op: str) -> str:
        return op

    def finish(self, targets: list) -> None:
        pass

    def report(self, results, target) -> dict:
        return {}


class _Table:
    """One lakehouse table with its own warehouse, landing dir and stream
    checkpoint."""

    def __init__(self, spark, root: str):
        self.root = root
        self.mgr = ParquetTableManager(spark, os.path.join(root, "warehouse"))
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing)
        self.epochs: list[int] = []

    def bytes(self, meta_only: bool = False) -> int:
        base = os.path.join(self.mgr.warehouse, LakehouseWorkload.TABLE)
        total = 0
        for d, dirs, files in os.walk(base):
            if meta_only and d == base:
                dirs[:] = [x for x in dirs if x not in ("data", "deletes", "_staging")]
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total


class LakehouseWorkload:
    """One ``events`` table, bucketed by user, under a mix of batch
    appends, streamed CDC upserts, point lookups and dashboard reads."""

    TABLE = "events"
    BASE_ROWS = 20_000
    APPEND_ROWS = 2_000
    CDC_ROWS = 500
    LOOKUPS = 2
    EPOCHS = 2  # per pass; compact_deletes closes each pass
    N_USERS = 1_000

    def __init__(self, work: str, seed: int, pass_s: float):
        self.spark = None
        self.seed = seed
        self.pass_s = pass_s
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        rng = random.Random(seed)
        self.pass_ops: list[tuple] = []
        for e in range(self.EPOCHS):
            self.pass_ops += [("append", e), ("upsert", e)]
            self.pass_ops += [("lookup", e, rng.randrange(self.N_USERS)) for _ in range(self.LOOKUPS)]
            self.pass_ops.append(("aggregate", e))
        self.pass_ops.append(("compact", 0))
        self.env: dict = {}
        self.wrong: list[str] = []

    def _slice(self, e: int) -> str:
        return os.path.join(self.inputs, f"slice-{e:03d}.parquet")

    def _cdc(self, e: int) -> str:
        return os.path.join(self.inputs, f"cdc-{e:03d}.parquet")

    def prepare(self) -> None:
        """Generate the base slice and every epoch's inputs."""
        os.makedirs(self.inputs)
        feed = datagen.EventFeed(self.seed, self.N_USERS)
        pq.write_table(feed.slice(self.BASE_ROWS), os.path.join(self.inputs, "base.parquet"))
        for e in range(self.EPOCHS):
            pq.write_table(feed.slice(self.APPEND_ROWS), self._slice(e))
            pq.write_table(feed.cdc(self.CDC_ROWS), self._cdc(e))
        self.env["dataset_rows"] = {
            "base": self.BASE_ROWS,
            "append_per_epoch": self.APPEND_ROWS,
            "cdc_per_epoch": self.CDC_ROWS,
        }
        self.env["dataset_bytes"] = sum(
            os.path.getsize(os.path.join(self.inputs, f)) for f in os.listdir(self.inputs)
        )

    def setup(self, spark) -> None:
        self.spark = spark

    def target(self, label: str) -> _Table:
        t = _Table(self.spark, os.path.join(self.work, label))
        base = self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        t.mgr.create_table(self.TABLE, base.schema, partition_by=[bucket("user_id", 8)])
        t.mgr.append(self.TABLE, base)
        t.bytes0 = t.bytes()
        return t

    def ops(self) -> list[tuple]:
        return self.pass_ops

    def kind(self, op: tuple) -> str:
        return op[0]

    def run_op(self, op: tuple, t: _Table, tracer=None) -> None:
        kind, e = op[0], op[1]
        if kind == "append":
            t.mgr.append(self.TABLE, self.spark.read.parquet(self._slice(e)))
            t.epochs.append(e)
        elif kind == "upsert":
            shutil.copyfile(self._cdc(e), os.path.join(t.landing, f"cdc-{e:03d}.parquet"))
            stream = pipelines.load_events_stream(self.spark, t.landing)
            pipelines.run_to_table_upsert(
                stream, t.mgr, self.TABLE, ["event_id"], ["ts"], t.checkpoint
            )
        elif kind == "lookup":
            df, _planned, _total = t.mgr.scan(self.TABLE, where=[("user_id", "==", op[2])])
            df.collect()
        elif kind == "aggregate":
            (
                t.mgr.read(self.TABLE)
                .groupBy("event_type")
                .agg(F.count("*").alias("n"), F.sum("value").alias("value"))
                .collect()
            )
        elif kind == "compact":
            t.mgr.compact_deletes(self.TABLE)
        else:
            raise ValueError(kind)

    def finish(self, targets: list[_Table]) -> None:
        """Compare each measured table to a DuckDB replay of the same
        appends and last-writer-wins CDC batches."""
        cols = "event_id, user_id, event_type, value, props"
        for t in targets:
            con = duckdb.connect()
            con.execute(
                "CREATE TABLE t AS SELECT * FROM read_parquet(?)",
                [os.path.join(self.inputs, "base.parquet")],
            )
            for e in t.epochs:
                con.execute("INSERT INTO t SELECT * FROM read_parquet(?)", [self._slice(e)])
                con.execute(
                    "CREATE OR REPLACE TEMP TABLE c AS SELECT * EXCLUDE (rn) FROM ("
                    " SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) rn"
                    " FROM read_parquet(?)) WHERE rn = 1",
                    [self._cdc(e)],
                )
                con.execute("DELETE FROM t WHERE event_id IN (SELECT event_id FROM c)")
                con.execute("INSERT INTO t SELECT * FROM c")
            want = _canon(
                con.execute(f"SELECT {cols}, epoch_us(ts) AS ts_us FROM t").arrow().to_pylist()
            )
            con.close()
            got = _canon(
                [
                    r.asDict()
                    for r in t.mgr.read(self.TABLE)
                    .select(*cols.split(", "), F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
                    .collect()
                ]
            )
            if not same(got, want):
                self.wrong.append(f"table:{os.path.basename(t.root)}")

    def report(self, results, t: _Table) -> dict:
        """Lakehouse-only end-to-end metrics of the untraced phase."""
        lat: dict[str, list[float]] = {}
        for op, s in results:
            if s is not None:
                lat.setdefault(op[0], []).append(s)
        epoch_bytes = sum(
            os.path.getsize(self._slice(e)) + os.path.getsize(self._cdc(e)) for e in t.epochs
        )
        base_bytes = os.path.getsize(os.path.join(self.inputs, "base.parquet"))
        stored = t.bytes()
        return {
            "freshness_p50_s": pct(lat.get("upsert"), 50, "s"),
            "freshness_p90_s": pct(lat.get("upsert"), 90, "s"),
            "lookup_p50_s": pct(lat.get("lookup"), 50, "s"),
            "lookup_p90_s": pct(lat.get("lookup"), 90, "s"),
            "scan_p50_s": pct(lat.get("aggregate"), 50, "s"),
            "commit_p50_s": pct(lat.get("append"), 50, "s"),
            "bytes_written_per_user_byte": metric(
                (stored - t.bytes0) / max(1, epoch_bytes), "ratio", len(t.epochs)
            ),
            "bytes_stored_per_user_byte": metric(
                stored / (base_bytes + epoch_bytes), "ratio", 1
            ),
        }


def metric(value: float, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def pct(values: list[float] | None, q: float, unit: str) -> dict:
    """The ``q``-th percentile (linear interpolation) with its sample
    count."""
    vals = sorted(values or [])
    if not vals:
        return metric(0.0, unit, 0)
    pos = (len(vals) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return metric(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo), unit, len(vals))
