"""Build-once set-ups and scratch directories (``iceberg_poc_spark/scratch.py``).

A registry query that needs a derived layout builds it once per process
per corpus, through :func:`iceberg_poc_spark.scratch.once`, in a directory
from :func:`iceberg_poc_spark.scratch.scratch_dir`. These tests pin that
the first calls of set-ups may start side by side on one session's
threads, that a failed build is retried, and that no other module makes
its own temp directory or exit hook.
"""

from __future__ import annotations

import ast
import pathlib
import shutil
import sys
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

from iceberg_poc_spark.registry import load_all
from iceberg_poc_spark.scratch import LRU, once
from tests.conftest import SF_DIR
from tests.test_oracle_parity import assert_matches_oracle

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "iceberg_poc_spark"

# (query, start delay in seconds): every shape starts on a corpus copy
# nothing has built from yet, so each first call runs its set-up
COLD_SHAPES = {
    "same_setup_twice": [("q_time_travel", 0), ("q_time_travel_sql", 0)],
    "one_warehouse_three_setups": [
        ("q_time_travel", 0),
        ("q_merge_upsert", 3),
        ("q_schema_evolution", 6),
    ],
    "scan_iceberg_x3": [
        ("q_scan_iceberg", 0),
        ("q_scan_iceberg", 1),
        ("q_scan_iceberg", 2),
    ],
    "ann_pruned_x2": [("q_sim_ann_pruned", 0), ("q_sim_ann_pruned", 1)],
}


@pytest.mark.parametrize("shape", sorted(COLD_SHAPES))
def test_cold_setups_run_side_by_side(spark, tmp_path, shape):
    """Cold set-ups started concurrently on one session each answer as
    their oracle does."""
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf_dir)
    queries = load_all()

    def run(name: str, delay: float) -> None:
        time.sleep(delay)
        assert_matches_oracle(name, queries[name].fn(spark, sf_dir), sf_dir)

    plan = COLD_SHAPES[shape]
    with ThreadPoolExecutor(len(plan)) as pool:
        for f in [pool.submit(run, n, d) for n, d in plan]:
            f.result(timeout=600)


def test_once_builds_once_under_contention():
    calls = []
    start = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)
        return object()

    def call():
        start.wait()
        return once(("test_once", "contention"), build)

    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(lambda _: call(), range(8), timeout=60))
    assert len(calls) == 1
    assert all(g is got[0] for g in got)


def test_once_retries_a_failed_build():
    key = ("test_once", "retry")

    def fail():
        raise OSError("disk full")

    with pytest.raises(OSError):
        once(key, fail)
    assert once(key, lambda: "built") == "built"
    assert once(key, fail) == "built"


def test_index_retry_starts_from_an_empty_warehouse(spark, tmp_path):
    """A build that fails after its first commit does not block the
    retry with ``table ... already exists``."""
    from pyspark.sql.types import LongType, StructField, StructType

    from iceberg_poc_spark.operators.similarity import _index

    schema = StructType([StructField("k", LongType())])
    sf_dir = str(tmp_path)  # names the scratch warehouse only

    def interrupted(mgr):
        mgr.create_table("t", schema, [])
        raise OSError("interrupted")

    with pytest.raises(OSError):
        _index(spark, "test_index", sf_dir, interrupted)
    mgr, state = _index(
        spark, "test_index", sf_dir, lambda m: m.create_table("t", schema) or 1
    )
    assert state == 1 and mgr.exists("t")


def test_lru_stays_bounded_under_concurrent_puts():
    """Threads storing, reading and dropping sessions at once: no store
    is lost to a concurrent purge, the bound holds, and the entries of
    collected sessions go."""

    class Session:
        pass

    lru = LRU(64)
    live = Session()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:

        def work(t: int) -> None:
            for i in range(2000):
                gone = Session()
                lru.put((weakref.ref(gone), t, i), i)
                del gone
                lru.put((weakref.ref(live), t, i % 4), i)
                lru.get((weakref.ref(live), t, i % 4))

        with ThreadPoolExecutor(8) as pool:
            list(pool.map(work, range(8), timeout=120))
    finally:
        sys.setswitchinterval(switch)
    assert len(lru) == 32  # 8 threads x 4 live keys; every dead key purged
    assert all(
        lru.get((weakref.ref(live), t, k)) is not None
        for t in range(8)
        for k in range(4)
    )


def test_only_scratch_module_makes_temp_dirs_and_exit_hooks():
    """No ``tempfile.gettempdir()`` or ``atexit.register(...)`` call in the
    package outside ``scratch.py``."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "scratch.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and (f.attr, getattr(f.value, "id", None))
                in (("gettempdir", "tempfile"), ("register", "atexit"))
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not found, found
