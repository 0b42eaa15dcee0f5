"""Segmented-manifest gates (manifest-list indirection, r8 verdict lead
item): commit metadata must be O(delta), not O(table) — a micro-append
to an N-segment table reuses every base segment by reference and writes
exactly ONE new segment; a merge-on-read delete writes no segment at
all; merge policy bounds segment count under
streaming micro-appends; expire_snapshots reaps unreferenced segments.

The facade contract (``_load_manifest`` still returns a plain dict whose
``files`` is the full materialized inventory) is exercised implicitly by
every other suite; this file pins the metadata I/O shape itself.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_poc_spark.tables.manager import (
    SEGMENT_MERGE_RUN_PROP,
    SEGMENT_TARGET_PROP,
    ParquetTableManager,
)


@pytest.fixture()
def mgr(spark, tmp_path):
    return ParquetTableManager(spark, str(tmp_path / "warehouse"))


def _segments(mgr, name, version=None):
    v = mgr._current_version(name) if version is None else version
    return mgr._manifest_raw(name, v).get("segments", [])


def _seg_files_on_disk(mgr, name):
    d = mgr._segs_dir(name)
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _mk(spark, mgr, name, target=4, merge_run=100):
    df = spark.range(0).select(F.col("id").alias("k"))
    mgr.create_table(
        name,
        df.schema,
        [],
        properties={
            SEGMENT_TARGET_PROP: str(target),
            SEGMENT_MERGE_RUN_PROP: str(merge_run),
        },
    )
    return df


def test_micro_append_writes_exactly_one_new_segment(mgr, spark):
    """The verdict gate: an append to an N-segment table reuses ALL base
    segments by id and writes exactly one new segment file — commit
    metadata I/O is O(delta) regardless of inventory size."""
    _mk(spark, mgr, "t")
    bulk = spark.range(200).select(F.col("id").alias("k")).repartition(8)
    mgr.append("t", bulk)
    base = _segments(mgr, "t")
    assert len(base) == 2, base  # 8 files / target 4
    disk_before = _seg_files_on_disk(mgr, "t")
    mgr.append("t", spark.range(200, 201).select(F.col("id").alias("k")))
    after = _segments(mgr, "t")
    # every base segment reused by reference, in order
    assert after[: len(base)] == base
    assert len(after) == len(base) + 1
    # exactly one new segment file hit the disk
    disk_after = _seg_files_on_disk(mgr, "t")
    new_files = disk_after - disk_before
    assert len(new_files) == 1, new_files
    # and the manifest JSON itself is O(segment ids), not O(files)
    raw = mgr._manifest_raw("t", mgr._current_version("t"))
    assert "files" not in raw
    assert mgr.read("t").count() == 201


def test_metadata_only_commit_reuses_all_segments(mgr, spark):
    """A schema DDL (or any metadata-only commit) on a segmented table
    rewrites ZERO segments — the O(1)-metadata-commit property that makes
    DDL on a million-file table instant."""
    _mk(spark, mgr, "t")
    mgr.append(
        "t", spark.range(64).select(F.col("id").alias("k")).repartition(8)
    )
    base = _segments(mgr, "t")
    disk_before = _seg_files_on_disk(mgr, "t")
    mgr.add_column("t", "tag", "string")
    assert _segments(mgr, "t") == base
    assert _seg_files_on_disk(mgr, "t") == disk_before


@pytest.mark.parametrize("kind", ["equality", "predicate"])
def test_delete_attach_rewrites_only_its_segment(mgr, spark, kind):
    """An equality or predicate MoR delete is a table-level descriptor:
    it changes no manifest entry, so EVERY segment — the one holding the
    matching files included — is reused by identity and the delete
    commit writes no segment file at all (the 'delete touches no more
    than its segment' gate, at its floor)."""
    _mk(spark, mgr, "t")
    lo = spark.range(0, 100).select(F.col("id").alias("k")).coalesce(4)
    hi = spark.range(1000, 1100).select(F.col("id").alias("k")).coalesce(4)
    mgr.append("t", lo)
    mgr.append("t", hi)
    seg_lo, seg_hi = _segments(mgr, "t")
    disk_before = _seg_files_on_disk(mgr, "t")
    if kind == "equality":
        keys = spark.createDataFrame([(5,)], "k long")
        mgr.delete("t", equality=["k"], keys=keys, mode="mor")
    else:
        mgr.delete("t", where=[("k", "==", 5)], mode="mor")
    assert mgr._load_manifest("t")["operation"] == "delete-mor"
    after = _segments(mgr, "t")
    assert after == [seg_lo, seg_hi], (seg_lo, seg_hi, after)
    assert _seg_files_on_disk(mgr, "t") == disk_before
    assert mgr.read("t").filter("k = 5").count() == 0
    assert mgr.read("t").count() == 199


def test_merge_run_bounds_segment_count(mgr, spark):
    """Streaming micro-appends must not grow the segment list O(commits):
    once merge-run consecutive small pieces accumulate, the commit
    coalesces them into target-sized segments (amortized O(1) extra
    writes per commit)."""
    _mk(spark, mgr, "t", target=4, merge_run=4)
    for i in range(20):
        mgr.append(
            "t",
            spark.range(i, i + 1).select(F.col("id").alias("k")).coalesce(1),
        )
    segs = _segments(mgr, "t")
    m = mgr._load_manifest("t")
    n_entries = len(m["files"])
    # bound: the unavoidable full segments + at most one merge window of
    # not-yet-coalesced small tails — NOT O(commits)
    assert len(segs) <= -(-n_entries // 4) + 4, (len(segs), n_entries)
    assert len(segs) < 20
    assert mgr.read("t").count() == 20
    # inventory order and content survive the merges
    assert sorted({r.k for r in mgr.read("t").collect()}) == list(range(20))


def test_expire_reaps_unreferenced_segments(mgr, spark):
    """Segment files referenced by no surviving snapshot are removed by
    expire_snapshots; live ones survive (metadata twin of the data-file
    orphan reap)."""
    _mk(spark, mgr, "t")
    mgr.append(
        "t", spark.range(16).select(F.col("id").alias("k")).repartition(4)
    )
    mgr.delete("t", where=[("k", "<", 100)], mode="cow")  # rewrites all
    live = set(_segments(mgr, "t"))
    mgr.expire_snapshots("t", keep_last=1)
    on_disk = {os.path.splitext(fn)[0] for fn in _seg_files_on_disk(mgr, "t")}
    assert on_disk == live, (on_disk, live)
    assert mgr.read("t").count() == 0


def test_entry_replacement_is_isolated_and_persisted(mgr, spark):
    """The facade's mutation contract: entries are SHARED with the
    immutable segment cache, so changing one means copy-and-REPLACE
    (`files[i] = {**e, ...}`) — the replacement must persist through a
    commit, and must never leak into other loads of the base snapshot."""
    _mk(spark, mgr, "t")
    mgr.append("t", spark.range(8).select(F.col("id").alias("k")))
    base_v = mgr._current_version("t")
    m1 = mgr._load_manifest("t")
    m1["files"][0] = {**m1["files"][0], "eq_deletes": [{"path": "d1"}]}
    v = mgr._advance("t", "main", "delete-mor", lambda head: dict(head), base=m1)
    # persisted in the new snapshot...
    got = mgr._load_manifest("t", v)["files"]
    assert any(e.get("eq_deletes") == [{"path": "d1"}] for e in got)
    # ...and invisible in the base snapshot, proving DISK state, not
    # just cache state: the segment cache is process-wide per warehouse
    # now, so it must be dropped explicitly for a genuinely cold read
    ParquetTableManager._SEG_CACHES.clear()
    cold = ParquetTableManager(spark, mgr.warehouse)
    assert all(
        "eq_deletes" not in e
        for e in cold._load_manifest("t", base_v)["files"]
    )


def test_expire_reaps_crash_orphaned_segments(mgr, spark):
    """A segment file no manifest ever referenced (crash between segment
    write and manifest create) is reaped by the age-gated orphan sweep —
    but only past the ttl, so an in-flight commit's fresh segments are
    never touched."""
    import json as _json
    import os as _os
    import time as _time

    _mk(spark, mgr, "t")
    mgr.append("t", spark.range(4).select(F.col("id").alias("k")))
    live = set(_segments(mgr, "t"))
    # fabricate the crash leftover
    orphan = _os.path.join(mgr._segs_dir("t"), "s-deadbeefcafe0000.json")
    with open(orphan, "w") as f:
        f.write(_json.dumps([]))
    old = _time.time() - 3600
    _os.utime(orphan, (old, old))
    # fresh orphan too: must SURVIVE the ttl guard
    fresh = _os.path.join(mgr._segs_dir("t"), "s-deadbeefcafe0001.json")
    with open(fresh, "w") as f:
        f.write(_json.dumps([]))
    mgr.expire_snapshots("t", keep_last=1, orphan_ttl_s=600)
    assert not _os.path.exists(orphan)
    assert _os.path.exists(fresh)
    on_disk = {os.path.splitext(fn)[0] for fn in _seg_files_on_disk(mgr, "t")}
    assert live <= on_disk
    assert mgr.read("t").count() == 4


def test_seg_stats_written_and_carried(mgr, spark):
    """Every persisted segment carries a partition summary; a later
    commit CARRIES reused segments' summaries by reference (computed
    once at segment write, never recomputed — monkeypatch-counted)."""
    from unittest import mock

    from iceberg_poc_spark.tables import identity
    from iceberg_poc_spark.tables import manager as M

    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "k long, cell long"
    )
    mgr.create_table(
        "t",
        df.schema,
        [identity("cell")],
        properties={M.SEGMENT_TARGET_PROP: "4", M.SEGMENT_MERGE_RUN_PROP: "100"},
    )
    mgr.append("t", df)
    raw = mgr._manifest_raw("t", mgr._current_version("t"))
    assert set(raw["seg_stats"]) == set(raw["segments"])
    m = mgr._load_manifest("t")
    assert sum(s["n"] for s in raw["seg_stats"].values()) == len(m["files"])
    for s in raw["seg_stats"].values():
        mn, mx = s["p"]["cell"]
        assert 0 <= mn <= mx <= 3
    # a micro-append computes a summary ONLY for its own new segment
    real = M.ParquetTableManager.__dict__["_seg_summary"].__wrapped__
    with mock.patch.object(
        M.ParquetTableManager,
        "_seg_summary",
        side_effect=real,
    ) as spy:
        mgr.append(
            "t", spark.createDataFrame([(100, 9)], "k long, cell long")
        )
    assert spy.call_count == 1, spy.call_count
    raw2 = mgr._manifest_raw("t", mgr._current_version("t"))
    assert set(raw2["seg_stats"]) == set(raw2["segments"])
    # reused segments kept their summaries verbatim
    for sid in raw["segments"]:
        if sid in raw2["seg_stats"]:
            assert raw2["seg_stats"][sid] == raw["seg_stats"][sid]


def test_scan_prunes_whole_segments(mgr, spark):
    """A partition-scoped scan evaluates per-entry predicates ONLY over
    segments whose summary can match — counted via a _may_match spy —
    and returns exactly the right rows (the segment filter is a pure
    upper bound)."""
    from unittest import mock

    from iceberg_poc_spark.tables import identity
    from iceberg_poc_spark.tables import manager as M

    lo = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "k long, cell long"
    )
    hi = spark.createDataFrame(
        [(1000 + i, 10 + i % 4) for i in range(40)], "k long, cell long"
    )
    mgr.create_table(
        "t",
        lo.schema,
        [identity("cell")],
        properties={M.SEGMENT_TARGET_PROP: "8", M.SEGMENT_MERGE_RUN_PROP: "100"},
    )
    mgr.append("t", lo)   # cells 0..3
    mgr.append("t", hi)   # cells 10..13
    m = mgr._load_manifest("t")
    layout = dict(m["_seg_layout"])
    n_hi_entries = sum(
        1 for e in m["files"] if int(e["partition"]["cell"]) >= 10
    )
    real = M._may_match
    with mock.patch.object(
        M, "_may_match", side_effect=real
    ) as spy:
        df, planned, total = mgr.scan("t", where=[("cell", "==", 11)])
        rows = {r.k for r in df.collect()}
    assert rows == {1000 + i for i in range(40) if 10 + i % 4 == 11}
    assert total == len(m["files"])
    # per-entry checks ran only over the hi-range segments' entries
    assert spy.call_count == n_hi_entries, (spy.call_count, layout)
    assert 0 < planned < total


def test_nan_partition_value_disables_summary_not_correctness(mgr, spark):
    """NaN poisons Python min()/max() (every comparison False — the
    first element wins), so a segment whose identity-partition values
    include NaN must carry NO summary for that column; a scan for a
    real value that shares a segment with NaN rows still returns it.
    Regression gate for the summary-is-a-superset invariant."""
    from iceberg_poc_spark.tables import identity
    from iceberg_poc_spark.tables import manager as M

    df = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, 7.0)], "k long, cell double"
    )
    mgr.create_table(
        "t",
        df.schema,
        [identity("cell")],
        properties={
            M.SEGMENT_TARGET_PROP: "16",
            M.SEGMENT_MERGE_RUN_PROP: "100",
        },
    )
    mgr.append("t", df)
    raw = mgr._manifest_raw("t", mgr._current_version("t"))
    for s in raw["seg_stats"].values():
        assert "cell" not in s.get("p", {}), s
    got, planned, total = mgr.scan("t", where=[("cell", "==", 5.0)])
    assert {r.k for r in got.collect()} == {2}
    assert planned >= 1


def test_string_numeric_partition_range_prune_is_lexicographic_safe(
    mgr, spark
):
    """Segment summaries coerce numeric-looking STRING partition values
    to numbers (so "13" < "2" can't mis-bound), but row semantics for
    range predicates on a string column stay LEXICOGRAPHIC ('1000' <=
    '9' is true). The coercion must therefore apply only to == / in —
    a range op against a coerced summary would falsely prune segments
    whose rows match. Regression for the r11 advice finding: (a) a
    range scan must return lexicographically-matching rows from a
    numerically-distant segment, and (b) an equality delete whose key
    set exceeds EQ_POINT_KEY_LIMIT (so pruning arrives as min/max
    string bounds) must not silently no-op."""
    from iceberg_poc_spark.tables import identity
    from iceberg_poc_spark.tables import manager as M

    rows = [(i, "9") for i in range(10)] + [
        (100 + i, str(1000 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k long, cell string")
    mgr.create_table(
        "t",
        df.schema,
        [identity("cell")],
        properties={
            M.SEGMENT_TARGET_PROP: "1",  # one entry per segment
            M.SEGMENT_MERGE_RUN_PROP: "100",
        },
    )
    mgr.append("t", df)
    raw = mgr._manifest_raw("t", mgr._current_version("t"))
    # precondition: summaries really did coerce to numbers — otherwise
    # this test stops guarding the coercion path
    assert any(
        isinstance(s.get("p", {}).get("cell", [None])[0], (int, float))
        for s in raw["seg_stats"].values()
    )

    # (a) lexicographic range scan: '1000' <= '9' and '100x' <= '9'
    got, planned, total = mgr.scan("t", where=[("cell", "<=", "9")])
    assert {r.k for r in got.collect()} == {r[0] for r in rows}

    # (b) oversize eq-delete key set -> string min/max range bounds;
    # every key present in the table must actually delete
    keys = spark.createDataFrame(
        [("9",)] + [(str(v),) for v in range(1000, 1000 + M.ParquetTableManager.EQ_POINT_KEY_LIMIT + 80)],
        "cell string",
    )
    mgr.delete("t", equality=["cell"], keys=keys, mode="mor")
    assert mgr.read("t").count() == 0
