"""Streaming pipelines: availableNow streaming result must equal the batch
twin; foreachBatch -> table layer gives atomic per-epoch appends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_poc_spark.sources import load_table, table_path
from iceberg_poc_spark.streaming import (
    dedup_stream,
    load_events_stream,
    run_to_table,
    session_stream,
    tumbling_stream,
)
from iceberg_poc_spark.streaming.pipelines import run_to_memory
from iceberg_poc_spark.tables import ParquetTableManager, days
from tests.conftest import SF_DIR


@pytest.fixture
def events_stream(spark):
    return load_events_stream(spark, table_path(SF_DIR, "events"))


def batch_events(spark):
    # same ts semantics as the stream loader (micros, tz-less wall clock)
    return load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_tumbling_stream_equals_batch(spark, events_stream):
    run_to_memory(tumbling_stream(events_stream), "t_tumbling")
    got = {
        tuple(r)
        for r in spark.table("t_tumbling").collect()
    }
    want = {
        tuple(r)
        for r in (
            batch_events(spark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
            .collect()
        )
    }
    # append-mode emits only watermark-closed windows: subset equality + size
    assert got <= want
    assert len(got) >= len(want) - 10  # only the trailing windows stay open


def test_session_stream_runs(spark, events_stream):
    run_to_memory(session_stream(events_stream), "t_session")
    rows = spark.table("t_session").collect()
    assert len(rows) > 0
    assert {"user_id", "session_start", "n_events"} == set(spark.table("t_session").columns)


def test_dedup_stream_drops_dupes(spark, tmp_path, events_stream):
    run_to_memory(dedup_stream(events_stream), "t_dedup")
    n = spark.table("t_dedup").count()
    assert n == batch_events(spark).count()  # input has unique ids already
    ids = spark.table("t_dedup").select("event_id").distinct().count()
    assert ids == n


def test_stream_to_table_atomic_appends(spark, tmp_path, events_stream):
    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    schema = batch_events(spark).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).schema
    mgr.create_table("events_live", schema, [days("ts")])
    run_to_table(
        dedup_stream(events_stream),
        mgr,
        "events_live",
        str(tmp_path / "ckpt"),
    )
    snaps = mgr.snapshots("events_live").collect()
    assert all(s.operation in ("create", "append") for s in snaps)
    assert mgr.read("events_live").count() == batch_events(spark).count()
    # streaming micro-batches -> small files; compaction folds them
    before = mgr.files("events_live").count()
    mgr.compact("events_live")
    assert mgr.files("events_live").count() <= before


def test_sliding_stream_equals_batch(spark, events_stream):
    from iceberg_poc_spark.streaming.pipelines import sliding_stream

    run_to_memory(sliding_stream(events_stream), "t_sliding")
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("t_sliding").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n
        for r in batch_events(spark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
        .collect()
    }
    # append-mode emits only watermark-closed windows: subset + near-total
    assert set(got.items()) <= set(want.items())
    assert len(got) >= len(want) - 10  # trailing open windows never emit


def test_stateful_user_counts_match_batch(spark, events_stream):
    from iceberg_poc_spark.streaming.pipelines import stateful_user_counts

    run_to_memory(
        stateful_user_counts(events_stream), "t_state", output_mode="update"
    )
    # update mode re-emits a user's row each micro-batch; the max is the
    # final cumulative count.
    got = {
        r.user_id: r.n_events
        for r in spark.table("t_state")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in batch_events(spark)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_transform_with_state_equals_batch(spark, events_stream):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): the final
    per-user ValueState row must equal the batch aggregate exactly (2-dp
    inputs keep the running double total exact across micro-batches).

    Gated on the ``protobuf`` python package: the transformWithState
    state-server protocol imports google.protobuf in its driver worker
    (pyspark/sql/streaming/proto/StateMessage_pb2.py) — without it the
    worker crashes at init. applyInPandasWithState (tested above) is the
    no-extra-deps stateful path."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor  # noqa: F401
    from iceberg_poc_spark.streaming.pipelines import user_stats_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_to_memory(user_stats_tws(events_stream), "t_tws", output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        (r.user_id): (r.n_events, r.total_value)
        for r in spark.table("t_tws")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            # the last emission carries the final total; n_events is
            # strictly increasing per user so max_by picks it (value may
            # be negative — a plain max(total) would be wrong)
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .collect()
    }
    want = {
        r.user_id: (r.n, r.total)
        for r in batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_join_equals_batch(spark, events_stream):
    from iceberg_poc_spark.streaming.pipelines import attribution_stream

    run_to_memory(attribution_stream(events_stream), "t_attr")
    got = {tuple(r) for r in spark.table("t_attr").collect()}
    ev = batch_events(spark)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), "value"
    )
    cond = (
        (buys.user_id == views.v_user)
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 hour"))
    )
    want = {
        tuple(r)
        for r in buys.join(views, cond)
        .select(
            "user_id",
            F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_time"),
            F.date_format("buy_ts", "yyyy-MM-dd HH:mm:ss").alias("buy_time"),
            "value",
        )
        .collect()
    }
    assert len(want) > 0
    assert got == want


def test_rate_source_events_tumbling(spark):
    """Live rate-micro-batch source -> event shaping -> watermarked
    tumbling counts; deterministic batches make the assertion exact."""
    from iceberg_poc_spark.streaming.pipelines import (
        rate_events,
        run_batches,
        tumbling_stream,
    )

    events = rate_events(spark, rows_per_batch=90)
    run_batches(events, "rate_raw", n_batches=2)
    raw = spark.table("rate_raw")
    assert raw.count() >= 90  # at least one full batch drained
    assert set(raw.columns) == {"event_id", "ts", "user_id", "event_type",
                                "value", "props"}
    # cyclic derivations match the generator contract
    assert raw.filter(~F.col("event_type").isin("view", "click", "buy")).count() == 0
    assert raw.agg(F.max("user_id")).first()[0] < 50

    agg = tumbling_stream(rate_events(spark, rows_per_batch=90),
                          watermark="10 minutes")
    run_batches(agg, "rate_agg", n_batches=2, output_mode="update")
    got = spark.table("rate_agg")
    assert {"window_start", "event_type", "n", "sum_value"} <= set(got.columns)


def test_stream_static_enrich_equals_batch(spark, events_stream):
    """Stream-static broadcast join: per-batch join against the static dim,
    no streaming state; result equals the batch join exactly (inner-ish
    left: every user_id resolves)."""
    from iceberg_poc_spark.streaming import enrich_stream

    dim = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    out = enrich_stream(events_stream, dim).groupBy("c_mktsegment").count()
    run_to_memory(out, "t_enrich", output_mode="complete")
    got = {tuple(r) for r in spark.table("t_enrich").collect()}
    want = {
        tuple(r)
        for r in batch_events(spark)
        .join(F.broadcast(dim), F.col("user_id") == dim.c_custkey, "left")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    }
    assert got == want and len(got) > 1


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: a restarted query with the same
    checkpoint reprocesses nothing, and after new files land only the
    delta is appended — the recovery contract a 100 TB ingest pipeline
    leans on."""
    src = tmp_path / "src"
    src.mkdir()
    ev = batch_events(spark).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    a.write.parquet(str(src / "batch_a"))

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    mgr.create_table("ev_ckpt", ev.schema, [days("ts")])
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        run_to_table(stream, mgr, "ev_ckpt", ckpt)

    run()
    n_a = a.count()
    assert mgr.read("ev_ckpt").count() == n_a
    snaps_after_first = mgr.snapshots("ev_ckpt").count()

    # restart with nothing new: no reprocessing, no new snapshots
    run()
    assert mgr.read("ev_ckpt").count() == n_a
    assert mgr.snapshots("ev_ckpt").count() == snaps_after_first

    # new files land; restart processes ONLY the delta
    b.write.parquet(str(src / "batch_b"))
    run()
    got = mgr.read("ev_ckpt")
    assert got.count() == ev.count()
    # exactly-once: no event id appears twice across the restarts
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_cdc_upsert_sink_converges_to_batch_state(spark, tmp_path):
    """foreachBatch -> upsert_equality: a ts-ordered sequence of event
    files streamed one file per micro-batch must leave the table at
    exactly the batch-computed last-event-per-user state, with every
    epoch a single 'upsert' snapshot and zero files rewritten; an
    injected REPLAY of the final batch converges (same state, no dupes)."""
    import os
    import time

    from pyspark.sql import Window

    from iceberg_poc_spark.streaming.pipelines import run_to_table_upsert

    ev = batch_events(spark).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    # three ts-ordered files with strictly increasing mtimes so the file
    # source's (mtime, path) ordering is deterministic
    src = tmp_path / "cdc_src"
    os.makedirs(src)
    cuts = ["2024-01-11 00:00:00", "2024-01-21 00:00:00"]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        d = str(src / f"b{i}")
        p.coalesce(1).write.parquet(d)
        time.sleep(0.05)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(d, f), str(src / f"{i:02d}.parquet")
                )
    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    mgr.create_table("users_live", ev.schema, [])
    stream = load_events_stream(spark, str(src), files_per_trigger=1).select(
        *ev.columns
    )
    run_to_table_upsert(
        stream,
        mgr,
        "users_live",
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = sorted(
        map(
            tuple,
            ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
            .collect(),
        )
    )
    got = sorted(map(tuple, mgr.read("users_live").collect()))
    assert got == want
    ops = [
        r["operation"]
        for r in mgr.snapshots("users_live").collect()
        if r["operation"] != "create"
    ]
    assert ops == ["upsert", "upsert", "upsert"]
    # replay injection: re-apply the LAST batch -> state converges
    last_batch = parts[2].withColumn("rn", F.row_number().over(w)).filter(
        "rn = 1"
    ).drop("rn")
    mgr.upsert_equality("users_live", last_batch, ["user_id"])
    assert sorted(map(tuple, mgr.read("users_live").collect())) == want


def test_ts_peek_reads_footer_logical_type(spark, tmp_path):
    """The stream loader types ``ts`` from one parquet footer, as Spark
    infers it under nanosAsLong: TIMESTAMP(NANOS) and a bare INT64 read
    as long; INT96 and micro/millisecond TIMESTAMPs as timestamps."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from iceberg_poc_spark.streaming.pipelines import _ts_is_long

    cases = {
        "nanos": (pa.timestamp("ns"), {}),
        "micros": (pa.timestamp("us"), {}),
        "millis": (pa.timestamp("ms"), {}),
        "int96": (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),
        "int64": (pa.int64(), {}),
    }
    got = {}
    for name, (t, kw) in cases.items():
        d = tmp_path / name
        d.mkdir()
        v = dt.datetime(2024, 1, 1) if pa.types.is_timestamp(t) else 1
        pq.write_table(pa.table({"ts": pa.array([v], t)}), str(d / "a.parquet"), **kw)
        got[name] = _ts_is_long(str(d))
        spark_type = spark.read.parquet(str(d)).schema["ts"].dataType
        assert got[name] == isinstance(spark_type, LongType), name
    assert got == {
        "nanos": True, "micros": False, "millis": False, "int96": False, "int64": True
    }


def test_table_pipeline_incremental_and_exactly_once(spark):
    """Bronze->silver table-to-table pipeline: drain #2 (after the late
    fourth bronze append) resumes from the checkpoint and ships ONLY the
    delta — silver grows by exactly the filtered fourth chunk, in new
    snapshots, with no event_id ever landing twice."""
    from iceberg_poc_spark.operators.sessionize import _setup_table_pipeline

    mgr, mid = _setup_table_pipeline(spark, SF_DIR)
    events = batch_events(spark)
    n_first = events.where(
        (F.pmod("event_id", F.lit(4)) != 3) & (F.col("value") > 50)
    ).count()
    n_late = events.where(
        (F.pmod("event_id", F.lit(4)) == 3) & (F.col("value") > 50)
    ).count()
    assert mid["silver_rows_after_first_drain"] == n_first
    silver = mgr.read("events_silver")
    assert silver.count() == n_first + n_late
    # delta arrived in NEW snapshots (checkpoint-resume appended, never
    # rewrote), and exactly-once: no duplicate event_ids anywhere
    assert (
        mgr._current_version("events_silver")
        > mid["silver_version_after_first_drain"]
    )
    assert silver.select("event_id").distinct().count() == silver.count()


def test_stream_to_table_self_heals_fragmentation(spark, tmp_path):
    """write.compact-threshold under the streaming foreachBatch sink:
    six single-file micro-batches (maxFilesPerTrigger=1) append into a
    threshold-4 table; the table self-heals inline — file count stays
    bounded without an external scheduler — and the drained values are
    exactly the source rows."""
    from iceberg_poc_spark.tables.manager import COMPACT_THRESHOLD_PROP

    src_dir = tmp_path / "src"
    ev = batch_events(spark).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    for i in range(6):
        ev.filter(F.col("event_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    mgr.create_table("ev_heal", ev.schema, [])
    mgr.set_properties("ev_heal", {COMPACT_THRESHOLD_PROP: "4"})
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    run_to_table(stream, mgr, "ev_heal", str(tmp_path / "ckpt_heal"))
    ops = [r.operation for r in mgr.snapshots("ev_heal").collect()]
    assert "rewrite-data-files" in ops, ops
    m = mgr._load_manifest("ev_heal")
    assert len(m["files"]) < 6, "fragmentation did not self-heal"
    assert mgr.read("ev_heal").count() == ev.count()
    got = sorted(r.event_id for r in mgr.read("ev_heal").collect())
    assert got == sorted(r.event_id for r in ev.collect())


def test_stream_wap_quarantines_bad_batch(spark):
    """q_stream_wap_publish's branch/tag contract: the out-of-order batch
    never reaches main, lands pinned under a quarantine tag holding
    exactly the rejected slice, the audit branch ends reset to main's
    head, and the two good batches published via fast-forward (append-only
    main ancestry)."""
    from pyspark.sql import functions as F

    from iceberg_poc_spark.operators.sessionize import _setup_events_wap_stream
    from iceberg_poc_spark.sources import load_table
    from tests.conftest import SF_DIR

    mgr = _setup_events_wap_stream(spark, SF_DIR)
    n = load_table(spark, SF_DIR, "events").count()
    lo, hi = n // 3, 2 * (n // 3)
    # main holds exactly slices 0 and 2
    pub = {r.event_id for r in mgr.read("events_wap_stream").select("event_id").collect()}
    assert pub == {i for i in range(n) if i < lo or i >= hi}
    # the quarantine tag pins main-at-publish + the rejected slice
    refs = {r.ref: (r.type, r.snapshot_id) for r in mgr.refs("events_wap_stream").collect()}
    qtags = [r for r in refs if r.startswith("quarantine-")]
    assert len(qtags) == 1, refs
    qsnap = refs[qtags[0]][1]
    qrows = {
        r.event_id
        for r in mgr.read("events_wap_stream", snapshot_id=qsnap)
        .select("event_id")
        .collect()
    }
    assert qrows == pub | set(range(lo, hi))
    # branch reset to main's head
    assert refs["audit"][1] == mgr._current_version("events_wap_stream")
    # main's ancestry is pure appends (publishes), never the bad commit
    ops, v = [], mgr._load_manifest("events_wap_stream")
    while v.get("parent") is not None:
        ops.append(v["operation"])
        v = mgr._load_manifest("events_wap_stream", v["parent"])
    assert ops == ["append", "append"], ops
    # quarantined snapshot survives expiry (tag-pinned)
    mgr.expire_snapshots("events_wap_stream", keep_last=1)
    assert mgr.read("events_wap_stream", snapshot_id=qsnap).count() == len(qrows)


def test_wap_epoch_replay_is_exactly_once(spark, tmp_path):
    """wap_sink_epoch's crash-replay matrix: a re-delivered epoch (the
    at-least-once case Structured Streaming guarantees after a crash
    between the foreachBatch body and the checkpoint commit) never
    duplicates rows on MAIN, at every crash point — after publish,
    after the audit append, between quarantine tag and branch reset,
    and after the reset. The audit append carries its epoch id inside
    the commit (streaming.last-epoch), which is what makes each resume
    point detectable."""
    from iceberg_poc_spark.sources.pyds import STREAM_EPOCH_PROP
    from iceberg_poc_spark.streaming.pipelines import wap_sink_epoch
    from iceberg_poc_spark.tables import ParquetTableManager

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    df0 = spark.createDataFrame([(1, 10)], "event_id long, v long")
    mgr.create_table("t", df0.schema, [])
    mgr.create_branch("t", "audit")

    def good(_delta, _pub):
        return True

    def bad(_delta, _pub):
        return False

    # crash point B: epoch fully published, then re-delivered
    wap_sink_epoch(mgr, "t", "audit", good, df0, 0)
    assert mgr.read("t").count() == 1
    wap_sink_epoch(mgr, "t", "audit", good, df0, 0)
    assert mgr.read("t").count() == 1, "replayed published epoch duplicated"

    # crash point A: audit append landed, publish never ran
    df1 = spark.createDataFrame([(2, 20)], "event_id long, v long")
    mgr.append(
        "t", df1, ref="audit",
        snapshot_properties={STREAM_EPOCH_PROP: "1"},
    )
    wap_sink_epoch(mgr, "t", "audit", good, df1, 1)  # resumes at validate
    assert sorted(r.event_id for r in mgr.read("t").collect()) == [1, 2]

    # crash point C: bad batch tagged but branch not yet reset
    df2 = spark.createDataFrame([(3, 30)], "event_id long, v long")
    mgr.append(
        "t", df2, ref="audit",
        snapshot_properties={STREAM_EPOCH_PROP: "2"},
    )
    _s, badsnap = mgr._ref_head("t", "audit")
    mgr.create_tag("t", "quarantine-2", at_snapshot=badsnap)
    wap_sink_epoch(mgr, "t", "audit", bad, df2, 2)
    assert sorted(r.event_id for r in mgr.read("t").collect()) == [1, 2]
    refs = {r.ref: r.snapshot_id for r in mgr.refs("t").collect()}
    assert refs["quarantine-2"] == badsnap, "replay moved the quarantine tag"
    assert refs["audit"] == mgr._current_version("t"), "branch not reset"

    # crash point D: reset completed, checkpoint never committed — the
    # replay re-stages the bad batch and re-quarantines; main stays clean
    wap_sink_epoch(mgr, "t", "audit", bad, df2, 2)
    assert sorted(r.event_id for r in mgr.read("t").collect()) == [1, 2]
    assert {r.ref for r in mgr.refs("t").collect()} >= {"audit", "quarantine-2"}

    # crash point E: reset crashed BETWEEN drop_branch and create_branch
    # — the branch is gone; the replay must recreate it and converge,
    # never wedge the stream or touch main
    mgr.drop_branch("t", "audit")
    wap_sink_epoch(mgr, "t", "audit", bad, df2, 2)
    assert sorted(r.event_id for r in mgr.read("t").collect()) == [1, 2]
    refs2 = {r.ref: r.snapshot_id for r in mgr.refs("t").collect()}
    assert refs2["audit"] == mgr._current_version("t"), "branch not re-reset"
    # and a GOOD epoch publishes normally after the recovered reset
    df3 = spark.createDataFrame([(4, 40)], "event_id long, v long")
    wap_sink_epoch(mgr, "t", "audit", good, df3, 3)
    assert sorted(r.event_id for r in mgr.read("t").collect()) == [1, 2, 4]


def test_stream_ann_ingest_appends_and_replay_skip(spark):
    """q_stream_ann_ingest's index lifecycle: the live index is built as
    pure epoch-stamped appends (one per micro-batch, ancestry has no
    rewrites), every corpus vector lands exactly once, the probe prunes
    unprobed cells at the manifest, and a manually replayed epoch is a
    no-op (the table's own marker skips it — exactly-once index state)."""
    from iceberg_poc_spark.operators.sessionize import _setup_emb_ann_stream
    from iceberg_poc_spark.sources import load_table
    from iceberg_poc_spark.sources.pyds import STREAM_EPOCH_PROP
    from iceberg_poc_spark.streaming.pipelines import run_to_table
    from tests.conftest import SF_DIR

    mgr, anchors = _setup_emb_ann_stream(spark, SF_DIR)
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert mgr.read("emb_ann_stream").count() == n
    assert (
        mgr.read("emb_ann_stream").select("vec_id").distinct().count() == n
    )
    ops, v = [], mgr._load_manifest("emb_ann_stream")
    while v.get("parent") is not None:
        ops.append(v["operation"])
        v = mgr._load_manifest("emb_ann_stream", v["parent"])
    assert set(ops) == {"append"} and len(ops) == 3, ops
    # the REAL replay drill: re-deliver already-committed epochs through
    # the sink body itself (the exact at-least-once window — crash after
    # append, before the checkpoint commit); the table's own
    # stream-scoped marker must skip every one of them
    import os

    from iceberg_poc_spark.operators.similarity import _assign_anchor_cells
    from iceberg_poc_spark.operators.tablelayer import _warehouse
    from iceberg_poc_spark.streaming.pipelines import (
        _stream_marker_key,
        table_sink_epoch,
    )

    wh = _warehouse(SF_DIR)
    marker_key = _stream_marker_key(os.path.join(wh, "_ckpt_ann_stream"))
    last_epoch = int(mgr.properties("emb_ann_stream")[marker_key])
    assert last_epoch == 2  # three drained batches: epochs 0..2
    head_before = mgr._current_version("emb_ann_stream")
    batch = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .limit(7)
    )
    for replayed in range(last_epoch + 1):
        table_sink_epoch(
            mgr,
            "emb_ann_stream",
            lambda b: _assign_anchor_cells(spark, b, anchors),
            marker_key,
            batch,
            replayed,
        )
    assert mgr._current_version("emb_ann_stream") == head_before
    assert mgr.read("emb_ann_stream").count() == n
    # a genuinely NEW epoch still lands (the guard is a replay filter,
    # not a write blocker)
    table_sink_epoch(
        mgr,
        "emb_ann_stream",
        lambda b: _assign_anchor_cells(spark, b, anchors),
        marker_key,
        batch,
        last_epoch + 1,
    )
    assert mgr.read("emb_ann_stream").count() == n + 7
    # restore the shared fixture table (other tests and the registered
    # query read it from the same process-cached warehouse)
    mgr.rollback("emb_ann_stream", head_before)
    assert mgr.read("emb_ann_stream").count() == n
    # probe prunes at the manifest
    _df, planned, total = mgr.scan(
        "emb_ann_stream", where=[("cell", "in", [0, 1])]
    )
    assert 0 < planned < total


def test_sequential_streams_same_table_do_not_skip(spark, tmp_path):
    """Epoch markers are scoped PER STREAM (checkpoint): a later stream
    writing to the same table restarts its epoch ids at 0, and an
    unscoped marker would silently drop its first batches. Drill both
    sinks: the append sink (table_sink_epoch) and the WAP sink
    (wap_sink_epoch) must land a second stream's epoch 0 after a first
    stream already committed epochs 0..2."""
    from iceberg_poc_spark.streaming.pipelines import (
        _stream_marker_key,
        table_sink_epoch,
        wap_sink_epoch,
    )
    from iceberg_poc_spark.tables import ParquetTableManager

    mgr = ParquetTableManager(spark, str(tmp_path / "wh"))
    df = lambda k: spark.createDataFrame([(k, k * 10)], "k long, v long")  # noqa: E731
    mgr.create_table("t", df(0).schema, [])
    key_a = _stream_marker_key(str(tmp_path / "ckpt_a"))
    key_b = _stream_marker_key(str(tmp_path / "ckpt_b"))
    assert key_a != key_b
    for e in range(3):
        table_sink_epoch(mgr, "t", None, key_a, df(e), e)
    assert mgr.read("t").count() == 3
    # stream B, fresh checkpoint, epoch ids restart at 0 — must land
    table_sink_epoch(mgr, "t", None, key_b, df(100), 0)
    assert mgr.read("t").count() == 4
    # …and stream B's own replay of epoch 0 is still skipped
    table_sink_epoch(mgr, "t", None, key_b, df(100), 0)
    assert mgr.read("t").count() == 4

    # same drill through the WAP sink
    mgr.create_table("w", df(0).schema, [])
    mgr.create_branch("w", "audit")

    def good(_d, _p):
        return True

    for e in range(2):
        wap_sink_epoch(mgr, "w", "audit", good, df(e), e, key_a)
    assert mgr.read("w").count() == 2
    wap_sink_epoch(mgr, "w", "audit", good, df(200), 0, key_b)
    assert mgr.read("w").count() == 3, "second WAP stream's epoch 0 skipped"
    wap_sink_epoch(mgr, "w", "audit", good, df(200), 0, key_b)  # replay
    assert mgr.read("w").count() == 3
