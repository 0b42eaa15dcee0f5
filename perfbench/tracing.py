"""Per-layer tracing for the benchmark's traced runs.

Everything here lives in the benchmark: spans are recorded by wrapping the
public functions of each engine layer at their module or class attribute,
for the duration of the traced phase only, and restored afterwards. Spark's
own counters are read from outside the engine: per-op job groups resolved
through the status REST API, and streaming batch durations from a
``StreamingQueryListener``.

A span is ``(name, start, end, op)``; ``op`` is the index of the benchmark
operation that caused it. Only the outermost call into a layer is recorded,
so a layer's internal calls to its own public functions are not counted
twice.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.parse
import urllib.request
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.op: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, span: str, on_result=None):
        """Replace ``owner.attr`` with a timed wrapper named ``span``; the
        layer is the span's first dotted component. ``on_result(args,
        kwargs, result)`` runs after each recorded call."""
        orig = getattr(owner, attr)
        layer = span.split(".", 1)[0]

        @functools.wraps(orig)
        def traced(*a, **k):
            if self._depth[layer]:
                return orig(*a, **k)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = orig(*a, **k)
            finally:
                self._depth[layer] -= 1
                self.spans.append((span, t0, time.perf_counter(), self.op))
            if on_result is not None:
                on_result(a, k, out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))
        return traced

    def wrap_everywhere(self, orig, span: str, on_result=None) -> None:
        """Wrap a module-level function in every engine module that bound
        it by name (``from ... import load_table``)."""
        traced = None
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("iceberg_poc_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    if traced is None:
                        traced = self.wrap(mod, attr, span, on_result)
                    else:
                        setattr(mod, attr, traced)
                        self._undo.append((mod, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, span: str) -> tuple[float, int]:
        """(seconds, calls) over every recorded span named ``span``."""
        durs = [e - s for n, s, e, _ in self.spans if n == span]
        return sum(durs), len(durs)

    def mean(self, span: str) -> float:
        s, n = self.total(span)
        return s / n if n else 0.0


class StreamProgress(StreamingQueryListener):
    """Collects ``durationMs`` of every streaming micro-batch that read
    input rows."""

    def __init__(self) -> None:
        self.batches: list[dict[str, int]] = []
        self.run_ids: list[str] = []  # a streaming query's jobs run in its runId job group

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            self.batches.append(dict(p.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def mean_ms(self, key: str) -> float:
        vals = [b.get(key, 0) for b in self.batches]
        return sum(vals) / len(vals) if vals else 0.0


_STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def job_group_totals(spark) -> dict[str, dict[str, float]] | None:
    """Per job group: jobs, executed stages and the summed stage counters,
    read from this application's Spark status REST API on the loopback
    address. ``None`` when the UI is disabled."""
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        return None
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    # no proxy: the status server is local
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(path: str):
        with opener.open(base + path, timeout=30) as r:
            return json.load(r)

    stages: dict[int, list[dict]] = defaultdict(list)
    for st in get("/stages"):
        if st.get("status") != "SKIPPED":
            stages[st["stageId"]].append(st)
    jobs: dict[str, int] = defaultdict(int)
    stage_ids: dict[str, set[int]] = defaultdict(set)
    for job in get("/jobs"):
        group = job.get("jobGroup")
        if group:
            jobs[group] += 1
            # a stage shared by several jobs of one op ran once
            stage_ids[group].update(job.get("stageIds", []))
    out: dict[str, dict[str, float]] = {}
    for group, n_jobs in jobs.items():
        acc = out[group] = defaultdict(float, jobs=n_jobs)
        for sid in stage_ids[group]:
            for st in stages.get(sid, []):
                acc["stages"] += 1
                for f in _STAGE_FIELDS:
                    acc[f] += st.get(f, 0) or 0
    return out
