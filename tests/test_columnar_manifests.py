"""Columnar (parquet) segment manifests — the distributed-planning leg
of the segmented-manifest design (≙ Iceberg storing manifests as Avro it
can read distributed, and exposing files/partitions METADATA TABLES).

Pins, in order:
- codec round-trip EXACTNESS: an entry with every irregular key class
  (delete attachments, bloom bytes, external marker, seq stamp) decodes
  back key-for-key, value-for-value — the facade contract;
- the one read planner behind scan() and read(): on clean multi-segment,
  MoR-deleted, delete-rewritten, externally registered, renamed-column
  and initial-default tables, read() == scan() row for row, a broad
  scan plans every file, and a selective scan returns read().filter()'s
  rows while planning exactly the files per-entry pruning keeps over
  the full materialized inventory;
- files()/partitions() metadata tables (manager AND snaptable
  DataSource) matching the materialized inventory;
- snapshots() per-segment rollups matching entry sums.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_poc_spark.tables import ParquetTableManager, identity
from iceberg_poc_spark.tables.manager import (
    _seg_decode_parquet,
    _seg_encode_parquet,
)


@pytest.fixture()
def mgr(spark, tmp_path):
    return ParquetTableManager(spark, str(tmp_path / "warehouse"))


def test_segment_codec_roundtrips_every_key_class(tmp_path):
    entries = [
        {  # plain managed entry
            "path": "data/a.parquet",
            "partition": {"cell": "3"},
            "records": 10,
            "bytes": 1234,
            "stats": {"mn_k": 1, "mx_k": 9, "mn_s": "a", "mx_s": "z"},
            "nulls": {"k": 0},
            "cols": ["k", "s"],
        },
        {  # full MoR + index decoration
            "path": "data/cell=1/b.parquet",
            "partition": {"cell": "1"},
            "records": 5,
            "bytes": 99,
            "stats": {"mn_k": -3.5, "mx_k": 7.25},
            "nulls": {},
            "cols": ["k"],
            "seq": 4,
            "deletes": [[["k", "==", 5]]],
            "eq_deletes": [{"path": "deletes/e.parquet", "cols": ["k"], "bytes": 7}],
            "pos_deletes": [{"path": "deletes/p.parquet", "bytes": 9}],
            "bloom": {"k": {"m": 64, "k": 3, "b": "aGVsbG8="}},
        },
        {  # external zero-copy registration
            "path": "/abs/elsewhere/c.parquet",
            "partition": {"cell": "7"},
            "records": 1,
            "bytes": 10,
            "stats": {},
            "nulls": {},
            "cols": ["k"],
            "external": True,
        },
    ]
    p = str(tmp_path / "seg.parquet")
    _seg_encode_parquet(p, entries)
    back = _seg_decode_parquet(p)
    assert back == entries
    # immutability contract survives: second write to the same path fails
    with pytest.raises(FileExistsError):
        _seg_encode_parquet(p, entries)


def _mk(spark, mgr, name, n=400, target=8):
    df = spark.createDataFrame(
        [(i, i % 4, f"r{i}") for i in range(n)], "k long, cell int, s string"
    )
    mgr.create_table(
        name,
        df.schema,
        [identity("cell")],
        properties={"meta.segment-target-entries": str(target)},
    )
    mgr.append(name, df)
    return df


def _clean(spark, mgr, tmp_path):
    _mk(spark, mgr, "t", n=600, target=4)
    mgr.append(
        "t",
        spark.createDataFrame(
            [(1000 + i, i % 4, "x") for i in range(40)],
            "k long, cell int, s string",
        ),
    )
    return "t", [("cell", "==", 2), ("k", "<", 500)], 640


def _mor_deleted(spark, mgr, tmp_path):
    _mk(spark, mgr, "t")
    mgr.delete("t", where=[("k", "==", 1)], mode="mor")
    return "t", [("cell", "==", 1)], 399


def _deletes_rewritten(spark, mgr, tmp_path):
    name, where, n = _mor_deleted(spark, mgr, tmp_path)
    mgr.rewrite_deletes(name)
    m = mgr._load_manifest(name)
    assert "global_pred_deletes" not in m
    return name, where, n


def _external(spark, mgr, tmp_path):
    import glob

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, cat string")
    ext = str(tmp_path / "ext")
    df.coalesce(1).write.partitionBy("cat").parquet(ext)
    paths = sorted(glob.glob(os.path.join(ext, "cat=*", "*.parquet")))
    mgr.create_table("e", df.schema, [identity("cat")])
    mgr.add_files("e", paths)
    return "e", [("cat", "==", "a")], 2


def _renamed(spark, mgr, tmp_path):
    _mk(spark, mgr, "r", n=20)
    mgr.rename_column("r", "s", "label")
    return "r", [("label", "==", "r3")], 20


def _defaulted(spark, mgr, tmp_path):
    _mk(spark, mgr, "d", n=20)
    mgr.add_column("d", "tag", "string", default="old")
    mgr.append(
        "d",
        spark.createDataFrame(
            [(100, 1, "n", "new"), (101, 2, "n", None)],
            "k long, cell int, s string, tag string",
        ),
    )
    return "d", [("cell", "==", 1), ("tag", "==", "old")], 22


@pytest.mark.parametrize(
    "build",
    [_clean, _mor_deleted, _deletes_rewritten, _external, _renamed, _defaulted],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_scan_and_read_share_one_plan(mgr, spark, tmp_path, build):
    name, where, n_rows = build(spark, mgr, tmp_path)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    full = rows(mgr.read(name))
    assert len(full) == n_rows
    df, planned, total = mgr.scan(name)
    assert rows(df) == full
    assert planned == total > 0
    # the selective scan: read().filter() rows, and exactly the files
    # per-entry pruning keeps over the whole materialized inventory
    # (segment-summary pruning may only skip provably-empty segments)
    from iceberg_poc_spark.tables.manager import _may_match, _predicate

    m = mgr._load_manifest(name)
    spec = mgr._spec(m)
    want_planned = sum(_may_match(spec, e, where) for e in m["files"])
    df, planned, total = mgr.scan(name, where=where)
    want = rows(mgr.read(name).filter(_predicate(where)))
    assert want, "predicate should keep some rows"
    assert rows(df) == want
    assert (planned, total) == (want_planned, len(m["files"]))


def test_metadata_tables_match_inventory(mgr, spark):
    _mk(spark, mgr, "t", n=200, target=8)
    m = mgr._load_manifest("t")
    expect = sorted(
        (
            e["path"],
            json.dumps(e["partition"], sort_keys=True),
            e["records"],
            e["bytes"],
        )
        for e in m["files"]
    )
    got = sorted(tuple(r) for r in mgr.files("t").collect())
    assert got == expect
    # the files() plan is a distributed parquet scan, not a local table
    plan = (
        mgr.files("t")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Scan parquet" in plan
    parts = {
        (r.partition, r.n_records)
        for r in mgr.partitions("t").collect()
    }
    assert parts == {(f'{{"cell": "{c}"}}', 50) for c in range(4)}
    # snaptable DataSource metadata read path
    from iceberg_poc_spark.sources.pyds import register_snaptable

    register_snaptable(spark)
    ds = (
        spark.read.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "t")
        .option("meta", "files")
        .load()
    )
    assert sorted(tuple(r) for r in ds.collect()) == expect
    agg = {
        (r.partition, r.recs)
        for r in ds.groupBy("partition")
        .agg(F.sum("records").alias("recs"))
        .collect()
    }
    assert agg == {(f'{{"cell": "{c}"}}', 50) for c in range(4)}
    with pytest.raises(Exception, match="unknown metadata table"):
        (
            spark.read.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "t")
            .option("meta", "nope")
            .load()
        ).collect()


def test_snapshots_rollup_matches_entry_sums(mgr, spark):
    _mk(spark, mgr, "t", n=120, target=8)
    mgr.append(
        "t",
        spark.createDataFrame(
            [(900, 0, "z")], "k long, cell int, s string"
        ),
    )
    snaps = {r.snapshot_id: r for r in mgr.snapshots("t").collect()}
    for v, row in snaps.items():
        m = mgr._load_manifest("t", v)
        assert row.n_files == len(m["files"])
        assert row.n_records == sum(e["records"] for e in m["files"])
        assert row.total_bytes == sum(e["bytes"] for e in m["files"])
    assert snaps[max(snaps)].n_records == 121
