"""Queries leave their session's conf alone.

The engine is handed one session and may run many queries on it at once,
so an answer must not depend on what conf another query set, and no query
may leave conf behind. Only ``session.py`` writes conf: at set-up, and on
the sibling sessions ``sibling_session`` creates for blocks that need a
conf of their own (a stream's state width, AQE off for a SQL script).
"""

from __future__ import annotations

import ast
import pathlib
from concurrent.futures import ThreadPoolExecutor

from iceberg_poc_spark.registry import load_all
from iceberg_poc_spark.sources import table_path
from iceberg_poc_spark.streaming import pipelines
from tests.conftest import SF_DIR
from tests.test_oracle_parity import assert_matches_oracle

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "iceberg_poc_spark"

MIXED = [
    "q_stream_live_tumbling",
    "q_stream_live_session",
    "q_stream_live_sliding",
    "q_stream_live_enrich",
    "q_sql_scripting",
    "q_dedup_clusters",
    "q_time_travel_sql",
    "q_tpch_q1",
    "q_tpch_q3",
]


def test_only_session_module_writes_conf():
    """No ``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` call outside
    ``session.py``."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "session.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not found, found


def test_concurrent_queries_match_oracles_and_leave_conf(spark):
    """Four threads, two rounds of a mixed set (stream drains, the SQL
    script, label propagation, a snaptable read, TPC-H) on one session:
    every answer matches its oracle and the session's conf is unchanged."""
    queries = load_all()
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    before = s.conf.getAll

    def run(name: str) -> None:
        assert_matches_oracle(name, queries[name].fn(s, SF_DIR))

    with ThreadPoolExecutor(4) as pool:
        for _ in range(2):
            list(pool.map(run, MIXED))
    assert s.conf.getAll == before


def test_sibling_session_follows_its_caller(spark):
    """One sibling per (caller, overrides); it mirrors the caller's conf
    as it is at each call, overrides on top, and writes none of it."""
    from iceberg_poc_spark.session import sibling_session

    caller = spark.newSession()
    key = "spark.sql.files.maxRecordsPerFile"
    caller.conf.set(key, "7")
    before = caller.conf.getAll
    over = {"spark.sql.shuffle.partitions": "3"}
    sib = sibling_session(caller, over)
    assert sib is not caller
    assert sib.conf.get(key) == "7"
    assert sib.conf.get("spark.sql.shuffle.partitions") == "3"
    assert caller.conf.getAll == before
    caller.conf.set(key, "9")
    assert sibling_session(caller, over) is sib
    assert sib.conf.get(key) == "9"
    caller.conf.unset(key)
    sibling_session(caller, over)
    assert sib.conf.get(key) == spark.conf.get(key)
    assert sibling_session(caller, {}) is not sib


def _stream_listener_buses(spark) -> int:
    listeners = spark.sparkContext._jsc.sc().listenerBus().listeners()
    return sum(
        l.getClass().getSimpleName() == "StreamingQueryListenerBus"
        for l in listeners
    )


def test_drain_reuses_one_sibling_at_the_state_width(spark, monkeypatch):
    """Three drains: their sibling is built once, each runs at
    ``stream_state_partitions``' width, and the caller's shuffle width
    is unchanged.

    Every session that starts a stream leaves one listener bus on the
    context's ``streams`` queue for good. Spark runs each stream in a
    clone of its session, which leaves one more per drain, so three
    drains on one reused sibling add at most 3 + 1 buses; a sibling per
    drain would add 6."""
    drains = []

    def recording(stream_df, name, output_mode="append"):
        q = run_to_memory(stream_df, name, output_mode)
        drains.append(q)
        return q

    run_to_memory = pipelines.run_to_memory
    monkeypatch.setattr(pipelines, "run_to_memory", recording)
    fn = load_all()["q_stream_live_tumbling"].fn
    width = spark.conf.get("spark.sql.shuffle.partitions")
    buses = _stream_listener_buses(spark)
    for _ in range(3):
        fn(spark, SF_DIR).collect()
    assert _stream_listener_buses(spark) - buses <= 3 + 1
    parts = pipelines.stream_state_partitions(
        spark, table_path(SF_DIR, "events")
    )
    assert parts != int(width)  # the check below tells the two apart
    assert len(drains) == 3
    for q in drains:
        ops = [
            op
            for p in q.recentProgress
            for op in p["stateOperators"]
        ]
        assert ops and all(op["numShufflePartitions"] == parts for op in ops)
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
