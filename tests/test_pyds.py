"""Python DataSource ("snaptable") over the snapshot table layer: batch
reads (time travel, refs, schema evolution, pushdown pruning) and the
table-changes stream must match the manager's own read paths."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

from iceberg_poc_spark.sources.pyds import (
    SnapTableReader,
    register_snaptable,
)
from iceberg_poc_spark.tables import ParquetTableManager, identity
from tests.test_table_manager import EVENTS_SCHEMA, make_events


@pytest.fixture
def mgr(spark, tmp_path):
    register_snaptable(spark)
    return ParquetTableManager(spark, str(tmp_path / "warehouse"))


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def _load(spark, mgr, table, **opts):
    r = (
        spark.read.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", table)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_matches_manager(mgr, spark):
    mgr.create_table("t", EVENTS_SCHEMA, [identity("tenant_id")])
    mgr.append("t", make_events(spark, 80))
    got = _load(spark, mgr, "t")
    assert got.schema == mgr.read("t").schema
    assert _rows(got) == _rows(mgr.read("t"))


def test_time_travel_and_ref_options(mgr, spark):
    mgr.create_table("t", EVENTS_SCHEMA)
    v1 = mgr.append("t", make_events(spark, 10))
    mgr.create_tag("t", "first")
    mgr.create_branch("t", "b")
    mgr.append("t", make_events(spark, 5, start=dt.datetime(2024, 6, 1)), ref="b")
    mgr.append("t", make_events(spark, 20, start=dt.datetime(2024, 7, 1)))
    assert _load(spark, mgr, "t").count() == 30
    assert _load(spark, mgr, "t", snapshot=v1).count() == 10
    assert _load(spark, mgr, "t", ref="first").count() == 10
    assert _load(spark, mgr, "t", ref="b").count() == 15


def test_schema_evolution_alignment(mgr, spark):
    """Files from before add/rename/widen read correctly through the
    Python source: NULL fill, former-name resolution, widening cast."""
    mgr.create_table("t", EVENTS_SCHEMA)
    mgr.append("t", make_events(spark, 10))
    mgr.add_column("t", "note", "string")
    mgr.rename_column("t", "service_id", "svc")
    mgr.widen_column("t", "tenant_id", "long")
    mgr.append(
        "t",
        mgr.read("t").limit(3).withColumn("note", F.lit("x")),
    )
    want = mgr.read("t")
    got = _load(spark, mgr, "t")
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_pushdown_prunes_files(mgr, spark):
    mgr.create_table("t", EVENTS_SCHEMA, [identity("tenant_id")])
    mgr.append("t", make_events(spark, 100, tenants=4))
    # engine-level check: Spark's pushed filter shrinks the planned files
    reader = SnapTableReader(
        {"warehouse": mgr.warehouse, "table": "t"}, EVENTS_SCHEMA
    )
    n_all = len(reader.partitions())
    leftover = reader.pushFilters([EqualTo(("tenant_id",), 2)])
    assert list(leftover)  # everything handed back for row-level apply
    assert len(reader.partitions()) < n_all
    # end-to-end: filtered read equals the manager's scan
    got = _load(spark, mgr, "t").filter(F.col("tenant_id") == 2)
    assert _rows(got) == _rows(mgr.read("t").filter(F.col("tenant_id") == 2))
    # min/max stats prune too (value is monotone in the fixture)
    r2 = SnapTableReader({"warehouse": mgr.warehouse, "table": "t"}, EVENTS_SCHEMA)
    r2.pushFilters([GreaterThanOrEqual(("value",), 10**9)])
    assert len(r2.partitions()) == 0


@pytest.mark.parametrize("case", ["no_appends", "all_pruned", "files_no_appends"])
def test_zero_file_plan_reads_zero_rows(mgr, spark, case):
    """A connector read that plans no file or segment yields zero rows,
    as the manager's own read/scan/files do."""
    df = spark.createDataFrame([(i, i % 4) for i in range(20)], "k long, cell long")
    mgr.create_table("t", df.schema, [identity("cell")])
    if case == "all_pruned":
        mgr.append("t", df)
        got = _load(spark, mgr, "t").filter("k = 99")
        assert mgr.scan("t", [("k", "==", 99)])[0].count() == 0
    elif case == "files_no_appends":
        got = _load(spark, mgr, "t", meta="files")
        assert mgr.files("t").count() == 0
    else:
        got = _load(spark, mgr, "t")
        assert mgr.read("t").count() == 0
    assert got.collect() == []


def test_stream_replays_appends_only(mgr, spark, tmp_path):
    mgr.create_table("t", EVENTS_SCHEMA)
    v0 = mgr._current_version("t")
    mgr.append("t", make_events(spark, 12))
    mgr.append("t", make_events(spark, 8, start=dt.datetime(2024, 6, 1)))
    q = (
        spark.readStream.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "t")
        .option("from_snapshot", v0)
        .load()
        .writeStream.format("memory")
        .queryName("t_changes")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _rows(spark.table("t_changes")) == _rows(mgr.read("t"))
    assert spark.table("t_changes").count() == 20


def test_timestamp_as_of_option_and_sql_surface(mgr, spark):
    """``as_of`` (TIMESTAMP AS OF) resolves to the newest snapshot
    committed at or before the instant — via the Python option, an ISO
    string, and the PURE-SQL ``CREATE TEMPORARY VIEW ... USING
    snaptable`` surface; a pre-history instant raises."""
    import time

    mgr.create_table("t", EVENTS_SCHEMA)
    mgr.append("t", make_events(spark, 10))
    between = time.time()
    time.sleep(0.05)
    mgr.append("t", make_events(spark, 20, start=dt.datetime(2024, 7, 1)))
    assert _load(spark, mgr, "t").count() == 30
    assert _load(spark, mgr, "t", as_of=str(between)).count() == 10
    iso = dt.datetime.fromtimestamp(between, dt.timezone.utc).isoformat()
    assert mgr.read("t", as_of=iso).count() == 10
    # SQL-only surface: VERSION AS OF via OPTIONS, no Python reader call
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW t_sql_asof USING snaptable "
        f"OPTIONS (warehouse '{mgr.warehouse}', `table` 't', "
        f"as_of '{between}')"
    )
    assert spark.sql("SELECT COUNT(*) AS c FROM t_sql_asof").first().c == 10
    with pytest.raises(Exception, match="committed at or before"):
        mgr.read("t", as_of=0)


def test_datasource_applies_mor_deletes(mgr, spark):
    """A table with outstanding merge-on-read deletes (predicate AND
    equality, incl. a null key, and null-test predicates) must read
    identically through .format('snaptable') and manager.read — the
    connector face must never leak deleted rows."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)] + [(None, -1.0)],
        "k long, v double",
    )
    mgr.create_table("d", df.schema, [])
    mgr.append("d", df)
    mgr.delete("d", [("v", ">=", 40.0)], mode="mor")
    mgr.delete(
        "d",
        equality=["k"],
        keys=spark.createDataFrame([(3,), (7,), (None,)], "k long"),
        mode="mor",
    )
    # re-append a deleted key: newer file is exempt (sequence semantics)
    mgr.append("d", spark.createDataFrame([(7, 700.0)], "k long, v double"))
    # null tests: IS NULL removes the null-v row; IS NOT NULL AND v < 2
    # removes k=0,1 and keeps the null-k row (SQL DELETE's NULL rule)
    mgr.append(
        "d",
        spark.createDataFrame([(100, None), (None, -2.0)], "k long, v double"),
    )
    mgr.delete("d", [("v", "isnull", None)], mode="mor")
    mgr.delete("d", [("k", "notnull", None), ("v", "<", 2.0)], mode="mor")
    via_mgr = _rows(mgr.read("d"))
    via_ds = _rows(_load(spark, mgr, "d"))
    assert via_ds == via_mgr
    # 51 rows, -10 (v >= 40), -3 (keys 3, 7, null), +1 (7 re-added),
    # +2 appended, -1 (v IS NULL), -2 (k IS NOT NULL AND v < 2)
    assert len(via_ds) == 51 - 10 - 3 + 1 + 2 - 1 - 2
    ks = {r[0] for r in via_ds}  # str-mapped by _rows
    assert "None" in ks and not ks & {"100", "0", "1"}


def test_datasource_rolls_pending_txn_forward(mgr, spark):
    """A published-but-unapplied transaction (upsert + append) must be
    rolled forward even when the next reader is the spark-less
    DataSource metadata path — no partial visibility through the
    connector face either."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    mgr.create_table("p", df.schema, [])
    mgr.append("p", df)
    txn = mgr.transaction()
    txn.append("p", spark.createDataFrame([(3, "c")], "k long, s string"))
    txn.upsert("p", spark.createDataFrame([(2, "B2")], "k long, s string"), ["k"])
    # publish WITHOUT applying (the crash window)
    seq = mgr._publish_txn(txn._staged)
    assert seq
    got = sorted(r[1] for r in _rows(_load(spark, mgr, "p")))
    assert got == ["B2", "a", "c"]


def test_pushdown_prunes_through_bloom_index(mgr, spark):
    """The connector's pushFilters goes through the same _may_match as
    manager.scan — so a bloom-indexed column prunes files at PLAN time
    through the DataSource too (value interleaved across appends: stats
    cannot prune, only the per-file Bloom filter can)."""
    from iceberg_poc_spark.tables.manager import BLOOM_COLS_PROP

    mgr.create_table("tb", EVENTS_SCHEMA, [])
    mgr.set_properties("tb", {BLOOM_COLS_PROP: "value"})
    ev = make_events(spark, 120)
    for k in range(4):  # value = i*10; slice i%4 spans the full range
        mgr.append("tb", ev.filter((F.col("value") / 10) % 4 == k))
    reader = SnapTableReader(
        {"warehouse": mgr.warehouse, "table": "tb"}, EVENTS_SCHEMA
    )
    total = len(reader._files)
    assert total >= 4
    reader.pushFilters([EqualTo(("value",), 250)])  # i=25 -> one slice
    assert 1 <= len(reader._files) <= 2
    got = _load(spark, mgr, "tb").filter(F.col("value") == 250)
    assert got.count() == 1
    miss = SnapTableReader(
        {"warehouse": mgr.warehouse, "table": "tb"}, EVENTS_SCHEMA
    )
    miss.pushFilters([EqualTo(("value",), 255)])  # never written
    assert len(miss._files) == 0


def test_connector_write_appends_atomic_snapshots(mgr, spark):
    """df.write.format('snaptable'): each save() is one snapshot; an
    overwrite replaces the table; a constraint-violating batch aborts
    with the staging dir cleaned and the table byte-identical; a
    partitioned table is rejected with a clear error."""
    import os

    from iceberg_poc_spark.tables.manager import (
        BLOOM_COLS_PROP,
        CONSTRAINT_PROP_PREFIX,
    )

    ev = make_events(spark, 60)
    mgr.create_table("w", EVENTS_SCHEMA, [])
    mgr.set_properties(
        "w",
        {
            CONSTRAINT_PROP_PREFIX + "val_pos": "value >= 0",
            BLOOM_COLS_PROP: "value",
        },
    )

    def save(df, mode="append"):
        (
            df.write.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "w")
            .mode(mode)
            .save()
        )

    save(ev.filter(F.col("value") < 300))
    save(ev.filter(F.col("value") >= 300))
    assert mgr.read("w").count() == 60
    # one snapshot per save (plus create + set-properties)
    ops = [r["operation"] for r in mgr.snapshots("w").collect()]
    assert ops.count("append") == 2
    # connector-written files carry stats AND the configured bloom index
    m = mgr._load_manifest("w")
    assert all("value" in e["stats"] for e in m["files"])
    assert all("value" in e.get("bloom", {}) for e in m["files"])
    _df, planned, total = mgr.scan("w", where=[("value", "==", 10**15)])
    assert planned == 0 and total >= 2
    # constraint rejection: atomic, orphan-free
    v_before = mgr._current_version("w")
    bad = make_events(spark, 5).withColumn("value", F.lit(-7).cast("long"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="val_pos"):
        save(bad)
    assert mgr._current_version("w") == v_before
    assert mgr.read("w").count() == 60
    staging = os.path.join(mgr.warehouse, "w", "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    # overwrite mode replaces the table in one snapshot
    save(ev.filter(F.col("value") < 100), mode="overwrite")
    assert mgr.read("w").count() == 10
    # a partitioned table without pre-routed input is rejected with a
    # pointer to route_partitions (identity routing column IS present
    # here, so use a transform whose derived column can't be)
    from iceberg_poc_spark.tables import days

    mgr.create_table("wp", EVENTS_SCHEMA, [days("ts")])
    with _pytest.raises(Exception, match="route_partitions"):
        (
            ev.write.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "wp")
            .mode("append")
            .save()
        )


def test_stream_walks_through_compact_deletes(mgr, spark):
    """A compact-deletes maintenance snapshot inside the stream's offset
    range adds no data files — the table-changes stream must walk
    through it and ship only the post-maintenance appends (a CDC stream
    that dies on table maintenance is not a CDC stream)."""
    from iceberg_poc_spark.sources.pyds import SnapTableStreamReader

    mgr.create_table("t", EVENTS_SCHEMA)
    mgr.append("t", make_events(spark, 10).coalesce(1))
    mgr.upsert_equality(
        "t", make_events(spark, 4).coalesce(1), ["tenant_id", "service_id"]
    )
    start = mgr._current_version("t")
    mgr.compact_deletes("t")
    mgr.append("t", make_events(spark, 3, start=dt.datetime(2025, 1, 1)))
    r = SnapTableStreamReader(
        {
            "warehouse": mgr.warehouse,
            "table": "t",
            "from_snapshot": str(start),
        },
        mgr.schema("t"),
    )
    parts = r.partitions({"version": start}, r.latestOffset())
    assert sum(p.value[0]["records"] for p in parts) == 3


def test_datasource_applies_global_seq_deletes(mgr, spark):
    """A table whose upsert epochs recorded sequence-scoped table-level
    delete files must read identically through the connector face —
    with one delete file per epoch, after compact_deletes merged them
    into one carrying per-key seqs, and for rows appended AFTER the
    compaction (younger than every delete, untouched by them)."""
    ev = make_events(spark, 40).coalesce(1)
    mgr.create_table("g", EVENTS_SCHEMA, [])
    mgr.append("g", ev)
    for epoch in range(1, 4):
        batch = make_events(
            spark, 8, start=dt.datetime(2025, epoch, 1)
        ).coalesce(1)
        mgr.upsert_equality("g", batch, ["tenant_id", "service_id"])
    assert len(mgr._load_manifest("g")["global_eq_deletes"]) == 3
    assert _rows(_load(spark, mgr, "g")) == _rows(mgr.read("g"))
    mgr.compact_deletes("g")
    m = mgr._load_manifest("g")
    assert len(m["global_eq_deletes"]) == 1, "compaction must merge"
    assert _rows(_load(spark, mgr, "g")) == _rows(mgr.read("g"))
    # post-compaction append: younger entries ride delete-free
    mgr.append("g", make_events(spark, 5, start=dt.datetime(2026, 1, 1)))
    assert _rows(_load(spark, mgr, "g")) == _rows(mgr.read("g"))


def test_row_group_pruning_on_stats_sorted_file(tmp_path, spark):
    """Pushed predicates prune ROW GROUPS from footer stats inside the
    executor read: a stats-sorted file decodes only the groups that can
    match; a file carrying positional deletes reads whole (row-group
    skipping would shift the physical ordinals the delete names)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from iceberg_poc_spark.sources.pyds import (
        _plan_row_groups,
        _read_file_as_batches,
    )

    t = pa.table(
        {"k": list(range(100)), "v": [f"s{i:03d}" for i in range(100)]}
    )
    p = str(tmp_path / "rg.parquet")
    pq.write_table(t, p, row_group_size=10)
    pf = pq.ParquetFile(p)
    assert pf.metadata.num_row_groups == 10
    assert _plan_row_groups(pf, [("k", ">=", 85)]) == [8, 9]
    assert _plan_row_groups(pf, [("k", "==", 5)]) == [0]
    assert _plan_row_groups(pf, [("k", "<", 0)]) == []
    assert _plan_row_groups(pf, [("v", "==", "s055")]) == [5]
    assert _plan_row_groups(pf, [("k", "notnull", None)]) == list(range(10))
    assert _plan_row_groups(pf, [("k", "isnull", None)]) == []
    # unknown column / incomparable literal: conservative keep-all
    assert _plan_row_groups(pf, [("zz", "==", 1)]) == list(range(10))
    assert _plan_row_groups(pf, [("k", ">=", "oops")]) == list(range(10))
    schema_json = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    ).jsonValue()
    entry = {"path": "rg.parquet", "partition": {}}
    rows = sum(
        b.num_rows
        for b in _read_file_as_batches(
            entry, str(tmp_path), schema_json, [("k", ">=", 85)]
        )
    )
    assert rows == 20  # only the last two groups were decoded
    # deletion vector naming the file: full read, delete applied, no
    # pruning (row 99 = word 1, bit 35)
    dpath = str(tmp_path / "dv.parquet")
    pq.write_table(
        pa.table(
            {
                "_file_name": ["rg.parquet"],
                "words": [[{"w": 1, "b": 1 << 35}]],
                "n": [1],
            }
        ),
        dpath,
    )
    entry_pos = {**entry, "_dv": [{"path": "dv.parquet"}]}
    rows = sum(
        b.num_rows
        for b in _read_file_as_batches(
            entry_pos, str(tmp_path), schema_json, [("k", ">=", 85)]
        )
    )
    assert rows == 99  # all 100 read (ordinals intact), row 99 deleted


def test_connector_write_partitioned_parity(mgr, spark):
    """Partitioned connector writes: input pre-routed by
    route_partitions (transforms computed JVM-side, incl. the exact
    xxhash64 bucket hash), the writer group-splits Arrow batches per
    partition tuple. Per-partition file routing, manifest partition
    strings, read-back (incl. identity restore from the hive path), and
    manifest pruning must all EQUAL manager.append's for the same data."""
    from iceberg_poc_spark.sources.pyds import route_partitions
    from iceberg_poc_spark.tables import bucket, days

    ev = make_events(spark, 96, tenants=3)
    spec = [identity("tenant_id"), days("ts"), bucket("service_id", 4)]
    mgr.create_table("pa", EVENTS_SCHEMA, spec)  # via manager.append
    mgr.create_table("pb", EVENTS_SCHEMA, spec)  # via the connector
    mgr.append("pa", ev)
    (
        route_partitions(ev, mgr.warehouse, "pb")
        .write.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "pb")
        .mode("append")
        .save()
    )
    ma, mb = mgr._load_manifest("pa"), mgr._load_manifest("pb")

    def routing(m):
        out = {}
        for e in m["files"]:
            k = tuple(sorted(e["partition"].items()))
            out[k] = out.get(k, 0) + e["records"]
        return out

    assert routing(mb) == routing(ma)  # identical per-partition routing
    assert len(mb["files"]) == len(ma["files"])  # one file per partition
    # physical files dropped the routing columns, like partitionBy does
    assert all(
        set(e["stats"]) <= {"ts", "service_id", "value"} for e in mb["files"]
    )
    # read-back equality through BOTH faces
    assert _rows(mgr.read("pb")) == _rows(mgr.read("pa"))
    assert _rows(_load(spark, mgr, "pb")) == _rows(mgr.read("pa"))
    # pruning parity on every transform axis: identity, days, bucket
    for where in (
        [("tenant_id", "==", 1)],
        [("ts", ">=", dt.datetime(2024, 1, 3))],
        [("service_id", "==", "svc1")],
    ):
        _, pa_n, ta = mgr.scan("pa", where=where)
        _, pb_n, tb = mgr.scan("pb", where=where)
        assert (pb_n, tb) == (pa_n, ta)
        assert pb_n < tb  # the predicate actually pruned files


def test_stream_writer_exactly_once_across_restarts(mgr, spark, tmp_path):
    """writeStream.format('snaptable'): each micro-batch is one
    snapshot; a restart under the same checkpoint with nothing new
    commits nothing; new files land as the next epoch only; a forced
    REPLAY of an already-recorded epoch is skipped from the table's own
    epoch marker (no checkpoint needed to dedup it)."""
    import os

    from iceberg_poc_spark.sources.pyds import (
        STREAM_EPOCH_PROP,
        SnapTableStreamWriter,
        _StagedFiles,
    )

    ev = make_events(spark, 40)
    mgr.create_table("sw", EVENTS_SCHEMA, [])
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ck")
    ev.filter(F.col("value") < 200).write.parquet(str(src / "a"))

    def drain():
        q = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "sw")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = mgr.read("sw").count()
    assert n1 == 20
    snaps1 = mgr.snapshots("sw").count()
    drain()  # restart, nothing new: no commit
    assert mgr.snapshots("sw").count() == snaps1
    ev.filter(F.col("value") >= 200).write.parquet(str(src / "b"))
    drain()
    got = mgr.read("sw")
    assert got.count() == 40
    assert got.select("value").distinct().count() == 40
    last = int(mgr.properties("sw")[STREAM_EPOCH_PROP])
    # forced replay of an already-committed epoch: skipped, staging clean
    w = SnapTableStreamWriter(
        {"warehouse": mgr.warehouse, "table": "sw"}, EVENTS_SCHEMA, False
    )
    stale = str(tmp_path / "stale.parquet")
    ev.limit(3).toPandas().to_parquet(stale)
    w.commit([_StagedFiles([stale])], last)  # same epoch -> no-op
    assert mgr.read("sw").count() == 40
    assert int(mgr.properties("sw")[STREAM_EPOCH_PROP]) == last


def test_pushdown_prunes_null_predicates(mgr, spark):
    """Spark's pushed IsNull/IsNotNull shrink the planned file set from
    the manifest's per-file null counts."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    mgr.create_table("t", EVENTS_SCHEMA)
    ev = make_events(spark, 60)
    vcol = F.col("value")
    mgr.append("t", ev.withColumn(
        "value", F.when(F.col("tenant_id") % 3 == 0, vcol)
    ).coalesce(1))  # mixed nulls
    mgr.append("t", ev.coalesce(1))  # zero nulls
    r = SnapTableReader(
        {"warehouse": mgr.warehouse, "table": "t"}, EVENTS_SCHEMA
    )
    assert len(r.partitions()) == 2
    r.pushFilters([IsNull(("value",))])
    assert len(r.partitions()) == 1
    r2 = SnapTableReader(
        {"warehouse": mgr.warehouse, "table": "t"}, EVENTS_SCHEMA
    )
    r2.pushFilters([IsNotNull(("value",))])
    assert len(r2.partitions()) == 2  # both files hold non-null rows
    # end-to-end through the registered source
    got = _load(spark, mgr, "t").filter(F.col("value").isNull())
    assert _rows(got) == _rows(mgr.read("t").filter(F.col("value").isNull()))


def test_datasource_applies_global_pos_deletes(mgr, spark):
    """A table whose positional-delete epochs recorded table-level
    deletion vectors must read identically through the connector face —
    with one vector per epoch and after compact_deletes merged them.
    Vectors bind by file name, so the executor decodes only its own
    file's row; rows appended AFTER the merge ride delete-free,
    row-group pruning stays off for files a vector names (ordinal
    safety), and positions past the first word decode exactly —
    including bit 63, where the signed word is negative."""
    ev = make_events(spark, 40).coalesce(1)
    mgr.create_table("gp", EVENTS_SCHEMA, [])
    mgr.append("gp", ev)
    for lo in (0, 7, 20):
        pos = (
            mgr.read_with_positions("gp")
            .filter(
                (F.col("value") >= lo * 10) & (F.col("value") < (lo + 3) * 10)
            )
            .select("_file_name", "_pos")
        )
        mgr.delete_positions("gp", pos)
    assert len(mgr._load_manifest("gp")["global_pos_deletes"]) == 3
    assert _rows(_load(spark, mgr, "gp")) == _rows(mgr.read("gp"))
    mgr.compact_deletes("gp")
    m = mgr._load_manifest("gp")
    assert len(m["global_pos_deletes"]) == 1, "compaction must merge"
    assert _rows(_load(spark, mgr, "gp")) == _rows(mgr.read("gp"))
    # post-merge append: younger entries ride delete-free
    mgr.append("gp", make_events(spark, 5, start=dt.datetime(2026, 1, 1)))
    assert _rows(_load(spark, mgr, "gp")) == _rows(mgr.read("gp"))
    # a 130-row file losing positions 63 (bit 63 of word 0: the signed
    # word is negative), 64 and 127 (word 1)
    mgr.append(
        "gp", make_events(spark, 130, start=dt.datetime(2027, 1, 1)).coalesce(1)
    )
    rp = mgr.read_with_positions("gp").filter(
        F.col("ts") >= F.lit("2027-01-01 00:00:00").cast("timestamp_ntz")
    )
    kill = rp.filter(F.col("_pos").isin(63, 64, 127))
    want_gone = {r["value"] for r in kill.collect()}
    assert len(want_gone) == 3
    mgr.delete_positions("gp", kill.select("_file_name", "_pos"))
    got = _load(spark, mgr, "gp")
    assert _rows(got) == _rows(mgr.read("gp"))
    late = got.filter(
        F.col("ts") >= F.lit("2027-01-01 00:00:00").cast("timestamp_ntz")
    )
    assert late.count() == 127
    assert not want_gone & {r["value"] for r in late.collect()}
    # pushed filters on a coordinate-guarded file must not row-group
    # prune (ordinals shift) — values stay exact under a filter
    got = _load(spark, mgr, "gp").filter("value >= 100")
    want = mgr.read("gp").filter("value >= 100")
    assert _rows(got) == _rows(want)


def test_datasource_reads_initial_default_columns(mgr, spark):
    """Connector parity for initial-default columns (Iceberg v3): files
    written BEFORE an add_column(..., default=) read the default through
    .format('snaptable') exactly as through manager.read — wave-2 rows
    keep explicit values (incl. genuine NULLs) via the per-file writer
    schema presence rule."""
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    mgr.create_table("dflt", base.schema, [])
    mgr.append("dflt", base)
    mgr.add_column("dflt", "q", "double", default=-1.0)
    mgr.append(
        "dflt",
        spark.createDataFrame(
            [(3, "c", 3.5), (4, "d", None)], "k long, s string, q double"
        ),
    )
    want = {(1, -1.0), (2, -1.0), (3, 3.5), (4, None)}
    assert {(r.k, r.q) for r in mgr.read("dflt").collect()} == want
    got = _load(spark, mgr, "dflt")
    assert {(r.k, r.q) for r in got.collect()} == want
    assert _rows(got) == _rows(mgr.read("dflt"))


def test_connector_partitions_metadata_table(spark, tmp_path):
    """meta='partitions' serves the MAINTAINED partition statistics
    through the connector (≙ Iceberg table$partitions): value-identical
    to manager.partition_stats, snapshot/time-travel aware, zero entry
    decodes on current-format tables."""
    from pyspark.sql import functions as F

    from iceberg_poc_spark.sources.pyds import register_snaptable
    from iceberg_poc_spark.tables import identity
    from iceberg_poc_spark.tables.manager import ParquetTableManager

    wh = str(tmp_path / "wh")
    mgr = ParquetTableManager(spark, wh)
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(100)], "k long, cell long"
    )
    mgr.create_table("t", df.schema, [identity("cell")])
    v0 = mgr.append("t", df)
    mgr.append("t", df.where("k < 20"))
    register_snaptable(spark)

    def connector(**opts):
        r = (
            spark.read.format("snaptable")
            .option("warehouse", wh)
            .option("table", "t")
            .option("meta", "partitions")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    got = sorted(tuple(r) for r in connector().collect())
    want = sorted(tuple(r) for r in mgr.partition_stats("t").collect())
    assert got == want and len(got) == 4
    # time travel: the pre-second-append snapshot counts only wave 1
    at_v0 = connector(snapshot=str(v0)).agg(F.sum("n_records")).first()[0]
    assert at_v0 == 100
    with pytest.raises(Exception, match="unknown metadata table"):
        connector_bad = (
            spark.read.format("snaptable")
            .option("warehouse", wh)
            .option("table", "t")
            .option("meta", "nope")
            .load()
        )
