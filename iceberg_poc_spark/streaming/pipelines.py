"""Structured Streaming pipelines over the events stream (✦ north-star).

The reference only narrates real-time event patterns
(``aig/TimeBasedPartitioningExamples.java:238-251``); here they run:
file-source ``readStream`` → watermark → windowed/session aggregation or
watermarked dedup → sink. The batch twins of these exact window semantics
are DuckDB-verified as ``q_stream_*`` queries (operators/sessionize.py);
streaming correctness is asserted in tests by equating the
``availableNow`` streaming result with the batch result.

Scale notes:
- watermarks bound state: the store only keeps windows newer than
  (max event time - delay) — without them, 100 TB of history would pin
  executor memory.
- ``run_to_table`` sinks via ``foreachBatch`` into the engine's
  snapshot-committed table layer: each micro-batch is ONE atomic append
  (exactly-once per epoch with checkpointing), then ``compact()`` folds
  the small files — the streaming ingest + compaction loop every lakehouse
  runs in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from iceberg_poc_spark.session import sibling_session
from iceberg_poc_spark.tables.manager import ParquetTableManager


def _ts_is_long(path: str) -> bool:
    """Whether the events stream under ``path`` carries ``ts`` as a long,
    read driver-side from one parquet footer (no Spark job): the
    logical type TIMESTAMP(NANOS) reads as long (``nanosAsLong``), as
    does a bare INT64; INT96 and micro/millisecond timestamps read as
    timestamps. A directory with no file yet reads as timestamp."""
    import json
    import os

    import pyarrow.parquet as pq

    files = sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    if not files:
        return False
    schema = pq.ParquetFile(os.path.join(path, files[0])).schema
    col = schema.column(schema.names.index("ts"))
    if col.physical_type != "INT64":
        return False
    lt = col.logical_type
    return lt.type != "TIMESTAMP" or json.loads(lt.to_json())["timeUnit"] == "nanoseconds"


# Stateful-stream parallelism target: bytes of SOURCE input per state
# partition across one availableNow drain. A stateful op commits one
# state store per shuffle partition per micro-batch, and each commit
# has a fixed cost regardless of the data it holds (measured at this
# corpus: 32-partition state commit ~10.4 s cumulative vs 0.14 s at 4
# for the same drain), so each state partition should own enough input
# to amortize it — ~512 KiB of source parquet per drain (~128 KiB per
# micro-batch at the loader's ~4-batch drain cap). The formula is
# DATA-sized, not core-count-sized: a 10x stream gets 10x the state
# partitions (up to the session's shuffle parallelism, the
# cluster-scale knob), a tiny stream gets 1.
_STATE_BYTES_PER_PARTITION = 512 * 1024


def stream_state_partitions(spark: SparkSession, path: str) -> int:
    """Shuffle/state parallelism for a stateful drain of the stream
    rooted at ``path`` (a parquet file or directory), derived from the
    DRAINED INPUT VOLUME — see ``_STATE_BYTES_PER_PARTITION``."""
    import math
    import os

    try:
        if os.path.isfile(path):
            total = os.path.getsize(path)
        else:
            total = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
    except OSError:
        total = 0
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(cap, math.ceil(total / _STATE_BYTES_PER_PARTITION)))


def state_session(spark: SparkSession, path: str) -> SparkSession:
    """The session to build and drain a stateful stream rooted at
    ``path`` in: ``spark``'s :func:`sibling_session` at the
    :func:`stream_state_partitions` width. Read the memory sink's table
    from it too."""
    parts = stream_state_partitions(spark, path)
    return sibling_session(spark, {"spark.sql.shuffle.partitions": str(parts)})


def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", ts_type, True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )


def load_events_stream(
    spark: SparkSession, path: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-source readStream over events parquet, normalizing ``ts`` to a
    timestamp exactly like the batch loader so stream/batch twins agree
    byte-for-byte. The generator's physical ts type has varied across
    corpus versions (TIMESTAMP(NANOS) -> long under nanosAsLong vs
    timestamp[us] -> native), so read the footer's logical type
    (:func:`_ts_is_long`, no Spark job) and adapt — the same defensive
    typing sources/tables.py applies.

    ``files_per_trigger`` sizes the micro-batches. The default derives it
    from the directory (ceil(n_files/4)) so a multi-file corpus drains
    in at most ~4 batches — enough that cross-batch semantics (state
    survival, dedup across batches) stay exercised, while batch COUNT
    stays O(1) as the corpus grows. Batch count is THE scaling lever
    for availableNow drains: each stateful micro-batch pays a fixed
    ~1.3 s here (state-store commit + Python state-worker round trip +
    epoch planning) regardless of rows, so wall time is
    batches x fixed + rows x throughput. History of this constant: a
    fixed maxFilesPerTrigger=1 put the 10x re-keyed stateful drain at
    27x (32 part files = 32 batches); ceil(n/8) (up to 8 batches) at
    6.35x; ceil(n/4) measures ~3.3x for 10x rows — sublinear and
    batch-bounded. Production availableNow backfills size the trigger
    to the cluster for exactly this reason.

    The file source needs a directory (new files appearing there become
    stream input); a single-file path is wrapped in a symlinked temp dir.
    """
    import os
    import tempfile

    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        path = d
    if files_per_trigger is None:
        n_files = len(
            [f for f in os.listdir(path) if not f.startswith(("_", "."))]
        )
        files_per_trigger = max(1, -(-n_files // 4))
    ts_is_long = _ts_is_long(path)
    raw = (
        spark.readStream.schema(
            _events_schema(LongType() if ts_is_long else TimestampType())
        )
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )
    if ts_is_long:  # raw epoch-nanos: truncate to micros (integer div —
        # double math would lose precision at ~1.7e18 magnitudes)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour counts/sums per event type with late-data handling:
    rows later than the watermark are dropped, finalized windows are
    emitted (append mode needs the watermark to close windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (30-min inactivity gap) per user — the
    streaming form of q_stream_session_batch."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def sliding_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 2-hour windows advancing hourly per event type — each event
    contributes to two overlapping windows; the streaming form of
    q_stream_sliding_batch."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


STATE_SCHEMA = StructType([StructField("n", LongType(), True)])
COUNT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_events", LongType(), True),
    ]
)


def stateful_user_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    cumulative event counts that survive across micro-batches (arbitrary
    state Spark's built-in aggs can't express — e.g. this could hold a
    sketch or a model instead of a counter).

    State is one row per user (bounded by cardinality, not stream
    length); batches arrive as Arrow-backed pandas frames, so the Python
    hop is vectorized per group, not per row.
    """
    import pandas as pd  # local: keep module import light

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=COUNT_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def user_stats_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state API (typed state handles + optional timers)
    that supersedes ``applyInPandasWithState``: per-user running event
    count and 2-dp value total held in a ValueState.

    Requires the RocksDB state store provider (transformWithState's
    backing store); the caller sets
    ``spark.sql.streaming.stateStore.providerClass`` before start. Also
    requires the ``protobuf`` python package (the state-server protocol
    of the Python worker) — absent offline here, so the test is
    import-gated; ``stateful_user_counts`` (applyInPandasWithState) is
    the dependency-free stateful path this engine ships as primary.
    State is one value row per user; emission is one updated row per user
    per micro-batch (Update mode). The running total accumulates with a
    plain sequential fold (never ``Series.sum()``, whose pairwise tree
    depends on how rows split across batches): a concatenation of
    sequential folds is itself one sequential fold over arrival order, so
    the final total is invariant to micro-batch boundaries, and the 2-dp
    final rounding matches the batch aggregate.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._agg.get()
            n, total = (prev[0], prev[1]) if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"].to_numpy().tolist():
                    total += v
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids arriving within
    the watermark horizon (bounded dedup state, unlike global
    dropDuplicates)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_stream(
    events: DataFrame, attribution_window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior view by
    the same user within ``attribution_window``.

    Both sides carry watermarks AND the join condition bounds event time
    on both sides — that's what lets Spark expire join state (without the
    time bound, every view would be buffered forever waiting for future
    purchases; at 100 TB/day that state is unbounded)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("buy_ts"), "value")
        .withWatermark("buy_ts", watermark)
    )
    cond = (
        (buys.user_id == views.v_user)
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}"))
    )
    return buys.join(views, cond, "inner").select(
        "user_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_time"),
        F.date_format("buy_ts", "yyyy-MM-dd HH:mm:ss").alias("buy_time"),
        "value",
    )


def attribution_stream_outer(
    events: DataFrame, attribution_window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase emits — attributed to
    prior views where one exists, with a NULL view otherwise.

    The outer side is the semantically hard part of streaming joins: an
    unmatched purchase can only be declared unmatched once the watermark
    proves no qualifying view can still arrive, so the null-padded row is
    emitted by STATE EVICTION, not by the join probe. Same time-bounded
    condition as :func:`attribution_stream` (without it, outer state would
    be unbounded and null rows could never be emitted at all)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("buy_ts"), "value")
        .withWatermark("buy_ts", watermark)
    )
    cond = (
        (buys.user_id == views.v_user)
        & (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}"))
    )
    return buys.join(views, cond, "leftOuter").select(
        "user_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_time"),
        F.date_format("buy_ts", "yyyy-MM-dd HH:mm:ss").alias("buy_time"),
        "value",
    )


def enrich_stream(events: DataFrame, dim: DataFrame, dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static join: enrich each event with a dimension row.

    The static side is broadcast — no state, no watermark needed (unlike
    stream-stream joins): every micro-batch joins against the CURRENT dim
    snapshot, which is exactly the semantics a slowly-changing enrichment
    table wants. At 100 TB/day the dim ships once per executor, the stream
    never shuffles."""
    return events.join(
        F.broadcast(dim), events.user_id == dim[dim_key], "left"
    ).drop(dim_key)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain the stream with availableNow into an in-memory sink; returns
    after all input is processed (deterministic for tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _stream_marker_key(checkpoint: str) -> str:
    """The per-STREAM epoch-marker property key: the base marker name
    scoped by a hash of the checkpoint location. Epoch ids are only
    meaningful within one checkpoint's lifetime (a fresh checkpoint
    restarts at 0), so a table-global marker would make a LATER stream
    into the same table silently drop its first batches; scoping by
    checkpoint keeps the crash-replay guard airtight per stream while
    sequential/independent streams append normally."""
    import hashlib

    from iceberg_poc_spark.sources.pyds import STREAM_EPOCH_PROP

    # normalize so a respelling of the same checkpoint (trailing or
    # doubled slashes, '/./' segments) can't silently fork the marker
    # and lose the replay guard; URI-style checkpoints (scheme://...)
    # only get the trailing-slash strip — normpath would collapse the
    # scheme's double slash
    import os

    if "://" in checkpoint:
        norm = checkpoint.rstrip("/")
    else:
        norm = os.path.normpath(checkpoint)
    return f"{STREAM_EPOCH_PROP}.{hashlib.md5(norm.encode()).hexdigest()[:8]}"


def table_sink_epoch(
    mgr: ParquetTableManager,
    table: str,
    transform,
    marker_key: str,
    batch_df: DataFrame,
    epoch_id: int,
) -> None:
    """One append-sink epoch, safe to re-run (the foreachBatch body of
    :func:`run_to_table`, importable so crash replay is testable without
    crashing a real stream): the batch (optionally transformed
    batch-locally) lands as ONE atomic append stamped with its epoch id
    inside the commit, and a replayed epoch is detected from the table's
    own marker and skipped — at-least-once delivery yields exactly-once
    TABLE state carried by the table itself, the same guarantee as the
    connector streaming sink (sources/pyds.py)."""
    if batch_df.isEmpty():
        return
    try:
        last = int(mgr.properties(table).get(marker_key, -1))
    except (TypeError, ValueError):
        last = -1
    if last >= epoch_id:
        return  # replayed epoch: already committed
    out = transform(batch_df) if transform is not None else batch_df
    mgr.append(
        table,
        out,
        snapshot_properties={marker_key: str(epoch_id)},
    )


def run_to_table(
    stream_df: DataFrame,
    mgr: ParquetTableManager,
    table: str,
    checkpoint: str,
    transform=None,
) -> None:
    """Stream -> snapshot table: each micro-batch (optionally put through
    ``transform``, a batch-local DataFrame->DataFrame fn — enrichment,
    index assignment, routing) lands through :func:`table_sink_epoch` —
    one atomic epoch-stamped append per batch, crash-replay idempotent
    per stream (marker scoped by checkpoint, see
    :func:`_stream_marker_key`)."""
    marker_key = _stream_marker_key(checkpoint)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        table_sink_epoch(mgr, table, transform, marker_key, batch_df, epoch_id)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_table_upsert(
    stream_df: DataFrame,
    mgr: ParquetTableManager,
    table: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str,
) -> None:
    """Streaming CDC-upsert sink: each micro-batch is reduced to its
    last row per key (``order_cols`` descending breaks intra-batch ties)
    and committed through :meth:`ParquetTableManager.upsert_equality` —
    ONE merge-on-read epoch per micro-batch (the batch's data files,
    written once and named by the epoch's equality delete as its key
    set, under one snapshot; no existing file rewritten).
    This is the minute-level CDC ingestion loop at 100 TB: per-epoch
    write cost is O(batch), and a failure-replayed epoch CONVERGES —
    re-upserting the same batch retires the first application's rows via
    the key set and lands identical ones, so at-least-once foreachBatch
    delivery still yields exactly-once table STATE."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # no isEmpty() probe: an empty batch writes no data file, and
        # an upsert that wrote none commits nothing
        last = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        mgr.upsert_equality(table, last, keys)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_table_wap(
    stream_df: DataFrame,
    mgr: ParquetTableManager,
    table: str,
    checkpoint: str,
    validate,
    branch: str = "audit",
) -> None:
    """Streaming WRITE-AUDIT-PUBLISH sink — the quality-gated ingestion
    loop: each micro-batch appends to the AUDIT branch (invisible to
    readers of main), ``validate(delta_df, published_df)`` inspects the
    would-be-published rows (the cross-ref changelog's insert stream —
    exactly what a fast-forward would make visible) against the current
    published state, and only a passing batch fast-forwards main. A
    FAILING batch is quarantined: its branch snapshot is pinned under a
    ``quarantine-<epoch>`` tag (forensics/backfill can read it forever;
    expire_snapshots won't reap it), and the branch resets to main's
    head so later good batches publish cleanly — main NEVER exposes a
    bad batch, and one bad batch never blocks the stream. At 100 TB
    this is the shape a production bronze→silver gate runs: per-epoch
    cost is O(batch) (append + one manifest-diff validation read), and
    the audit/publish atomicity comes from the branch CAS, not a lock.

    Replay idempotence: the audit append carries its epoch id INSIDE the
    commit (``streaming.last-epoch``, the connector sink's marker — see
    sources/pyds.py); a crash-replayed epoch is detected from the
    branch/main head markers and resumes at the right step instead of
    re-appending, so at-least-once delivery yields exactly-once
    PUBLISHED state at every crash point (pinned in
    tests/test_streaming.py). Single streaming writer per table, as with
    every epoch-marker sink."""

    marker_key = _stream_marker_key(checkpoint)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        wap_sink_epoch(
            mgr, table, branch, validate, batch_df, epoch_id, marker_key
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def wap_sink_epoch(
    mgr: ParquetTableManager,
    table: str,
    branch: str,
    validate,
    batch_df: DataFrame,
    epoch_id: int,
    marker_key: str | None = None,
) -> None:
    """One write-audit-publish epoch, safe to re-run at ANY crash point
    (the foreachBatch body of :func:`run_to_table_wap`, importable so
    replay is testable without crashing a real stream):

    - crash after the audit append → the branch head carries this
      epoch's marker → skip the append, resume at validate;
    - crash after fast-forward → MAIN's head carries the marker → the
      epoch is already published, return;
    - crash between quarantine tag and branch reset → marker on branch,
      validate fails again, the existing tag is kept, reset completes;
    - crash after the reset → the branch lost the marker with the bad
      snapshot, so the batch re-stages and re-quarantines — converging,
      and main never saw it;
    - crash BETWEEN drop_branch and create_branch → the branch is
      momentarily gone; the replay recreates it at main's head (the
      reset's second half) and then re-stages as above.

    ``marker_key`` scopes the epoch marker per stream (see
    :func:`_stream_marker_key`); epoch ids restart at 0 under a fresh
    checkpoint, so an unscoped marker would make a later WAP stream
    into the same table silently skip its first publishes.
    """
    from iceberg_poc_spark.sources.pyds import STREAM_EPOCH_PROP

    if marker_key is None:
        marker_key = STREAM_EPOCH_PROP
    if batch_df.isEmpty():
        return

    def head_epoch(ref_name: str) -> int:
        _seq, v = mgr._ref_head(table, ref_name)
        if v < 0:
            return -1
        props = mgr._manifest_raw(table, v).get("properties") or {}
        try:
            return int(props.get(marker_key, -1))
        except (TypeError, ValueError):
            return -1

    if head_epoch("main") >= epoch_id:
        return  # replayed epoch already PUBLISHED
    if mgr._ref_head(table, branch)[1] < 0:
        # resume a reset that crashed between drop and re-create
        mgr.create_branch(table, branch)
    published = mgr.read(table)
    if head_epoch(branch) < epoch_id:
        mgr.append(
            table,
            batch_df,
            ref=branch,
            snapshot_properties={marker_key: str(epoch_id)},
        )
    # else: replay — the batch is already staged on the audit branch
    delta = (
        mgr.diff_refs(table, to_ref=branch)
        .filter(F.col("_change_type") == "insert")
        .drop("_change_type", "_snapshot_id")
    )
    if validate(delta, published):
        mgr.fast_forward(table, branch)
        return
    _seq, bad = mgr._ref_head(table, branch)
    try:
        mgr.create_tag(table, f"quarantine-{epoch_id}", at_snapshot=bad)
    except ValueError:
        pass  # replayed epoch already quarantined — idempotent
    mgr.drop_branch(table, branch)
    mgr.create_branch(table, branch)  # reset to main's head


def rate_events(spark: SparkSession, rows_per_batch: int = 100) -> DataFrame:
    """Synthetic live event stream from the deterministic rate-micro-batch
    source — the streaming twin of the reference's synthetic event
    generator (aig/AIGEventsTableCreator.java:209-281: cyclic dimension
    values over a record counter). Each micro-batch emits exactly
    ``rows_per_batch`` rows with monotonically increasing ``value``
    counters and evenly spaced timestamps, so demos and tests are
    reproducible (unlike the wall-clock ``rate`` source).

    Column derivations mirror the reference's generator: user/tenant ids
    cycle over a modulus, event types cycle over a fixed vocabulary."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )  # columns: timestamp TIMESTAMP, value LONG
    etype = F.array(F.lit("view"), F.lit("click"), F.lit("buy"))
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.element_at(etype, (F.col("value") % 3 + 1).cast("int")).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.to_json(F.struct((F.col("value") % 7).alias("shard"))).alias("props"),
    )


def run_batches(stream_df: DataFrame, name: str, n_batches: int,
                output_mode: str = "append"):
    """Run a (possibly unbounded) stream for exactly ``n_batches``
    micro-batches into a memory sink, then stop. For rate-source demos
    where availableNow never terminates."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            progress = q.recentProgress
            done = sum(1 for p in progress if p["numInputRows"] > 0)
            if done >= n_batches:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()
    return q
