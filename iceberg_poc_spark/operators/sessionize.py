"""Event-time windowing in batch form: tumbling / sliding / session windows.

These are the DuckDB-verifiable batch twins of the Structured Streaming
pipelines in :mod:`iceberg_poc_spark.streaming.pipelines` — same window
semantics (``F.window`` / ``F.session_window`` produce identical buckets in
batch and streaming). The reference only *narrates* real-time event
patterns (``aig/TimeBasedPartitioningExamples.java:238-251``); this engine
implements them.

Scale: window aggregation = map-side partial agg + one shuffle on
(bucket, keys). Sessionization = one shuffle on user + linear window pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_poc_spark.functions.sqlround import dround
from iceberg_poc_spark.operators.tablelayer import table_setup
from iceberg_poc_spark.registry import register
from iceberg_poc_spark.sources import load_table, table_path
from iceberg_poc_spark.streaming.pipelines import state_session

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "q_stream_tumbling_batch",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation via F.window (batch twin of "
    "the streaming pipeline).",
)
def q_stream_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "q_stream_sliding_batch",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws,
               value
        FROM events
    )
    SELECT strftime(ws, '{_FMT_DUCK}') AS window_start,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM assigned
    GROUP BY 1
    """,
    doc="Sliding window (1h length, 30m slide): every event lands in two "
    "windows; F.window explodes assignments, oracle mirrors with a "
    "2-way UNION ALL of shifted buckets.",
)
def q_stream_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "n",
            "sum_value",
        )
    )


SESSION_GAP_SEC = 30 * 60


@register(
    "q_stream_session_batch",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > {SESSION_GAP_SEC} * 1000000
                    OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
        SELECT user_id, us,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM seq
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS duration_us
    FROM tagged
    GROUP BY user_id, session_id
    """,
    doc="Sessionization with a 30-minute inactivity gap (lag + cumulative "
    "flag-sum), the batch twin of session_window streaming.",
)
def q_stream_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_sess = (
        F.when(
            (F.col("us") - F.lag("us").over(w) > SESSION_GAP_SEC * 1_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(run).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("us") - F.min("us")).alias("duration_us"),
        )
    )


@register(
    "q_funnel_conversion",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
                            AND e.ts >= v.t_view
                            AND e.ts <= v.t_view + INTERVAL 24 HOUR
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
                            AND e.ts >= c.t_click
                            AND e.ts <= c.t_click + INTERVAL 24 HOUR
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           {dround("CAST((SELECT COUNT(*) FROM p) AS DOUBLE)"
                   " / (SELECT COUNT(*) FROM v)", 4)} AS conversion
    """,
    doc="Ordered funnel (view -> click -> purchase): users who clicked "
    "within 24 h of their first view, then purchased within 24 h of that "
    "first qualified click. The engine computes all three stages in ONE scan "
    "and one per-user sort — chained running-min windows with a RANGE "
    "frame (equal-timestamp peers included, so the result is independent "
    "of tie order) — where the oracle keeps the textbook three-join "
    "staging. Different formulations, same numbers: the point of the "
    "differential check. At 100 TB the window form shuffles events once; "
    "the join form scans them three times.",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    day = F.expr("INTERVAL 24 HOURS")
    staged = ev.withColumn("t_view", first_view).withColumn(
        "t_click_q",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("t_view").isNotNull()
                & (F.col("ts") >= F.col("t_view"))
                & (F.col("ts") <= F.col("t_view") + day),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("t_view").isNotNull().cast("int")).alias("reached_view"),
        F.max(F.col("t_click_q").isNotNull().cast("int")).alias("reached_click"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & F.col("t_click_q").isNotNull()
                & (F.col("ts") >= F.col("t_click_q"))
                & (F.col("ts") <= F.col("t_click_q") + day)
            ).cast("int")
        ).alias("reached_purchase"),
    )
    return per_user.agg(
        F.sum("reached_view").alias("n_view"),
        F.sum("reached_click").alias("n_click"),
        F.sum("reached_purchase").alias("n_purchase"),
        F.round(
            F.sum("reached_purchase").cast("double") / F.sum("reached_view"), 4
        ).alias("conversion"),
    )


@register(
    "q_retention_cohort",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(ts AS DATE) AS d,
               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        FROM events
    )
    SELECT cohort_day,
           CAST(datediff('day', cohort_day, d) AS INT) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM u
    GROUP BY 1, 2
    """,
    doc="Cohort retention analysis — the canonical product-analytics "
    "rollup the reference's event tables exist to serve "
    "(time-partitioned events narrative, "
    "aig/TimeBasedPartitioningExamples.java:232-292): users are "
    "cohorted by their first active day, then counted per (cohort, "
    "day-offset) cell. The engine derives the cohort with a per-user "
    "window MIN — ONE shuffle on user_id, no self-join — then one "
    "map-side-combinable distinct-count aggregate; the oracle uses the "
    "identical window form in DuckDB. At 100 TB: the user_id shuffle is "
    "the only wide stage, and with events ingested bucketed by user_id "
    "(sources/bucketed.py) even that Exchange disappears.",
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohorted = ev.withColumn(
        "cohort_day", F.min("d").over(Window.partitionBy("user_id"))
    )
    return cohorted.groupBy(
        "cohort_day",
        F.datediff("d", "cohort_day").cast("int").alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


ANOMALY_Z = 3.0


@register(
    "q_events_anomaly",
    oracle=f"""
    WITH m AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(value) AS s,
               SUM(value * value) AS ss
        FROM events
        GROUP BY event_type
    ),
    scored AS (
        SELECT e.event_id, e.event_type, e.value,
               (e.value - m.s / m.n)
                   / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1)) AS z
        FROM events e JOIN m USING (event_type)
    )
    SELECT event_id, event_type, value,
           {dround("z", 4)} AS z
    FROM scored
    WHERE abs(z) > {ANOMALY_Z}
    """,
    doc=f"Statistical anomaly detection — the data-quality outlier sweep "
    f"of an ingest pipeline: per-event-type z-scores from EXPLICIT "
    f"moment sums (count/sum/sum-of-squares — the q_agg_regression "
    f"determinism pattern: identical IEEE divisions on identically-"
    f"accumulated operands, not each engine's own single-pass stddev "
    f"internals), flagging |z| > {ANOMALY_Z}. Plan: one map-side-"
    f"combinable moment aggregate (5 rows), broadcast back onto the "
    f"stream of events, per-row score+filter — the stats never shuffle "
    f"the fact table, so the sweep is one scan at any scale.",
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
    z = (F.col("value") - mean) / sd
    return (
        ev.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", "value", z.alias("z_raw"))
        .filter(F.abs(F.col("z_raw")) > ANOMALY_Z)
        .select(
            "event_id", "event_type", "value", F.round("z_raw", 4).alias("z")
        )
    )


@register(
    "q_stream_live_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="LIVE Structured Streaming behind the differential gate: the "
    "actual readStream pipeline (file source -> watermark -> tumbling "
    "window agg) drains under Trigger.AvailableNow into a memory sink "
    "in COMPLETE mode — every window is emitted, no open-window "
    "truncation — and the drained table must match the oracle's batch "
    "aggregate over the same events exactly. This is the streaming/batch "
    "unification promise (same F.window semantics both modes) checked "
    "value-for-value by the driver, not just in pytest. availableNow is "
    "also the production backfill trigger: one call processes the "
    "backlog as micro-batches and stops.",
)
def q_stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_memory,
        tumbling_stream,
    )

    src = table_path(sf_dir, "events")
    # state parallelism DERIVED from drained stream volume (one state
    # store per shuffle partition per micro-batch; measured here:
    # 32-partition state commit ~10.4 s cumulative vs 0.14 s at the
    # volume-derived width for the same batch) — see
    # streaming.pipelines.stream_state_partitions
    sib = state_session(spark, src)
    stream = tumbling_stream(load_events_stream(sib, src))
    run_to_memory(stream, "live_tumbling", output_mode="complete")
    return sib.table("live_tumbling")


@table_setup
def _setup_events_live(spark: SparkSession, sf_dir: str, mgr):
    """events_live: the production streaming ingest loop, once per process
    per sf_dir: readStream over the events parquet -> foreachBatch, each
    micro-batch ONE atomic snapshot append into the event_type-partitioned
    table (exactly-once per epoch via the streaming checkpoint) -> sorted
    compaction folds the micro-batch fragments."""
    import os

    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_table,
    )
    from iceberg_poc_spark.tables import identity

    stream = load_events_stream(spark, table_path(sf_dir, "events"))
    mgr.create_table("events_live", stream.schema, [identity("event_type")])
    ckpt = os.path.join(mgr.warehouse, "_ckpt_events_live")
    run_to_table(stream, mgr, "events_live", ckpt)
    mgr.compact("events_live", sort_by=["ts"])


@register(
    "q_stream_live_to_table",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           strftime(MAX(ts), '{_FMT_DUCK}.%f') AS last_ts
    FROM events
    GROUP BY 1
    """,
    doc="LIVE streaming into the TABLE LAYER behind the differential "
    "gate — the production sink, not the memory sink: the actual "
    "readStream pipeline drains under Trigger.AvailableNow through "
    "foreachBatch, each micro-batch committed as ONE atomic snapshot "
    "append to the event_type-partitioned snapshot table (exactly-once "
    "per epoch with checkpointing — the streaming form of the "
    "reference's atomic bulk commit, "
    "BulkParquetToIcebergAtomicMultipart.java:97-101), then sorted "
    "compaction folds the micro-batch files. The query reads the TABLE "
    "back through snapshot resolution (manager.read) and must match the "
    "oracle's aggregate over the raw events — counts, 2-dp value sums, "
    "and the max timestamp at MICROSECOND granularity, so any row lost, "
    "duplicated, or time-truncated anywhere in the stream->commit->"
    "compact->read loop breaks the hash. Checkpoint recovery (kill "
    "mid-stream, resume, no double-append) is separately proven in "
    "tests/test_streaming.py.",
)
def q_stream_live_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_events_live(spark, sf_dir)
    df = mgr.read("events_live")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.date_format(F.max("ts"), _FMT_SPARK + ".SSSSSS").alias("last_ts"),
    )


@register(
    "q_stream_live_dedup",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           strftime(MAX(ts), '{_FMT_DUCK}.%f') AS last_ts
    FROM events
    GROUP BY 1
    """,
    doc="LIVE exactly-once ingestion dedup behind the differential gate: "
    "the events file is presented to the stream source TWICE (two "
    "symlinks, one file per micro-batch), so every event arrives as a "
    "cross-batch duplicate; dropDuplicatesWithinWatermark(event_id) must "
    "emit each event exactly once — the oracle aggregates the "
    "SINGLE-copy corpus, so a leaked duplicate doubles a count and "
    "breaks the hash. State is bounded by the watermark horizon (unlike "
    "global dropDuplicates, whose state grows with the stream forever — "
    "the at-scale failure mode this operator exists to avoid). This is "
    "the at-least-once-delivery repair step every event pipeline runs "
    "in front of its sink.",
)
def q_stream_live_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        dedup_stream,
        load_events_stream,
        run_to_memory,
    )

    src = os.path.abspath(table_path(sf_dir, "events"))
    # the source may be a single file or a directory of part files —
    # symlink each data file twice, so every event arrives duplicated
    files = (
        [src]
        if os.path.isfile(src)
        else [
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        ]
    )
    d = tempfile.mkdtemp(prefix="events_dup_stream_")
    for i, f in enumerate(files):
        for copy in ("a", "b"):
            os.symlink(f, os.path.join(d, f"{copy}_{i:04d}.parquet"))
    # sized from the drained dir: it holds every file twice
    sib = state_session(spark, d)
    run_to_memory(
        dedup_stream(load_events_stream(sib, d)), "live_dedup", output_mode="append"
    )
    return (
        sib.table("live_dedup")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.date_format(F.max("ts"), _FMT_SPARK + ".SSSSSS").alias("last_ts"),
        )
    )


@register(
    "q_stream_live_session",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > {SESSION_GAP_SEC} * 1000000
                    OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM seq
    )
    SELECT user_id,
           strftime(MIN(ts), '{_FMT_DUCK}') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM tagged
    GROUP BY user_id, sid
    """,
    doc="LIVE native session windows behind the differential gate: the "
    "actual readStream pipeline (F.session_window, 30-min inactivity "
    "gap, watermarked) drains under Trigger.AvailableNow in complete "
    "mode and must reproduce, session-for-session, the oracle's "
    "lag-gap/cumulative-flag sessionization — two INDEPENDENT "
    "formulations of the same semantics (merging windows vs running "
    "flag-sum), so a session split or merged wrongly anywhere in the "
    "streaming state machine breaks the hash. Completes the live gate "
    "set: tumbling agg, session windows, stream-stream join, custom "
    "state, table sink.",
)
def q_stream_live_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_memory,
        session_stream,
    )

    src = table_path(sf_dir, "events")
    sib = state_session(spark, src)
    stream = session_stream(load_events_stream(sib, src))
    run_to_memory(stream, "live_session", output_mode="complete")
    return sib.table("live_session")


@register(
    "q_stream_live_stateful",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
    doc="LIVE custom stateful operator behind the differential gate: "
    "applyInPandasWithState holds a per-user counter that survives "
    "across micro-batches (arbitrary state built-in aggs can't express "
    "— the same handle could hold a sketch or model), emitting the "
    "running count per user per batch in update mode. The drained "
    "stream's FINAL value per user (MAX of a monotone counter) must "
    "equal the oracle's batch COUNT(*) — micro-batch boundaries must "
    "not lose or double-count state. State is one row per user (bounded "
    "by key cardinality, not stream length); batches reach Python as "
    "Arrow-backed pandas frames, vectorized per group. Scaling profile "
    "(r6): wall time = batches x ~1.3 s fixed (state-store commit + "
    "Python state-worker round trip per micro-batch) + rows x "
    "throughput, so the availableNow drain is batch-count-bounded — "
    "the loader caps the drain at ~4 batches (ceil(files/4), "
    "streaming/pipelines.py) and state parallelism is DERIVED from "
    "drained stream volume (stream_state_partitions: ~512 KiB of "
    "source input per state partition, capped at the session's "
    "shuffle parallelism), giving ~3.3x wall for 10x rows on "
    "the re-keyed sweep (was 6.35x at ~8 batches, 27x at one batch "
    "per file). Completes the live trio's fourth leg: agg window / "
    "join / table sink / custom state.",
)
def q_stream_live_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_memory,
        stateful_user_counts,
    )

    src = table_path(sf_dir, "events")
    # same state-parallelism sizing rationale as q_stream_live_join
    sib = state_session(spark, src)
    stream = stateful_user_counts(load_events_stream(sib, src))
    run_to_memory(stream, "live_stateful", output_mode="update")
    t = sib.table("live_stateful")
    return t.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "q_stream_live_join",
    oracle=f"""
    SELECT b.user_id,
           strftime(v.ts, '{_FMT_DUCK}') AS view_time,
           strftime(b.ts, '{_FMT_DUCK}') AS buy_time,
           b.value
    FROM events b
    JOIN events v
      ON b.user_id = v.user_id
     AND v.event_type = 'view'
     AND b.ts >= v.ts
     AND b.ts <= v.ts + INTERVAL 1 HOUR
    WHERE b.event_type = 'purchase'
    """,
    doc="LIVE stream-stream inner join behind the differential gate: the "
    "actual attribution pipeline (purchases joined to prior views by the "
    "same user within 1 hour) runs as a real watermarked stream-stream "
    "join — both sides carry watermarks AND the join condition bounds "
    "event time on both sides, which is what lets Spark expire join "
    "state instead of buffering every view forever (unbounded state at "
    "100 TB/day) — drained under Trigger.AvailableNow and matched "
    "value-for-value against the oracle's relational self-join over the "
    "same events. Complements q_stream_live_tumbling (stateful agg) and "
    "q_stream_live_to_table (sink path): the three cover state, "
    "correlation, and commit of the streaming story.",
)
def q_stream_live_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        attribution_stream,
        load_events_stream,
        run_to_memory,
    )

    src = table_path(sf_dir, "events")
    # A stateful streaming op materializes ONE state store per shuffle
    # partition per join side per micro-batch — at this stream's volume,
    # 32 partitions means 64 store commits that each cost more than the
    # data they hold. State parallelism is DERIVED from the drained
    # stream volume (streaming.pipelines.stream_state_partitions): at
    # 100 TB/day the same formula yields the session's full shuffle
    # parallelism — the knob tracks stream volume by construction, not
    # by a hand-tuned constant. The width is set on a sibling session
    # (state_session), which builds the stream and holds the memory
    # sink's table; the caller's conf is never written.
    sib = state_session(spark, src)
    stream = attribution_stream(load_events_stream(sib, src))
    run_to_memory(stream, "live_attrib", output_mode="append")
    return sib.table("live_attrib")


@register(
    "q_stream_live_outer",
    oracle=f"""
    WITH mx AS (SELECT strftime(max(ts) - INTERVAL 12 HOUR, '{_FMT_DUCK}') AS cutoff
                FROM events)
    SELECT b.user_id,
           strftime(v.ts, '{_FMT_DUCK}') AS view_time,
           strftime(b.ts, '{_FMT_DUCK}') AS buy_time,
           b.value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') b
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON b.user_id = v.user_id
     AND b.ts >= v.ts
     AND b.ts <= v.ts + INTERVAL 1 HOUR
    WHERE strftime(b.ts, '{_FMT_DUCK}') <= (SELECT cutoff FROM mx)
    """,
    doc="LIVE stream-stream LEFT OUTER join behind the differential "
    "gate — the hard half of streaming joins: matched purchases emit "
    "from the join probe, but an UNMATCHED purchase can only emit its "
    "null-padded row once the watermark proves no qualifying view can "
    "still arrive, i.e. by state eviction. The drained stream is "
    "compared value-for-value (nulls included) against the oracle's "
    "relational left join. Both sides are filtered to purchases at "
    "least 12 h before the corpus max event time — rows in the final "
    "watermark horizon (2 h delay + 1 h window) are NOT yet provably "
    "unmatched when an AvailableNow drain terminates, so the gate "
    "checks the region where outer semantics are unambiguous; the "
    "string cutoff is computed once from the static table (single-row "
    "action). At 100 TB/day the eviction-driven emission is exactly "
    "what bounds outer-join state: without the time-bound condition "
    "null rows could never be emitted at all.",
)
def q_stream_live_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        attribution_stream_outer,
        load_events_stream,
        run_to_memory,
    )

    src = table_path(sf_dir, "events")
    sib = state_session(spark, src)
    stream = attribution_stream_outer(load_events_stream(sib, src))
    run_to_memory(stream, "live_attrib_outer", output_mode="append")
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.date_format(
                F.max("ts") - F.expr("INTERVAL 12 HOURS"), "yyyy-MM-dd HH:mm:ss"
            ).alias("c")
        )
        .first()["c"]
    )
    return sib.table("live_attrib_outer").filter(F.col("buy_time") <= cutoff)


@register(
    "q_stream_live_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="LIVE stream-static enrichment behind the differential gate: the "
    "readStream event feed joins the STATIC customer profile dim inside "
    "every micro-batch — the canonical streaming-enrichment shape "
    "(clickstream x user profile). The dim is broadcast, so each "
    "micro-batch pays a map-side hash join and the stream side never "
    "shuffles for the join; the enriched stream then feeds a per-segment "
    "aggregate drained under Trigger.AvailableNow in complete mode. "
    "Stream-static joins are stateless (the static side is re-resolvable "
    "per batch, picking up dim updates between batches at no state "
    "cost), unlike the watermark-bounded state of the stream-stream "
    "q_stream_live_join. The oracle runs the identical join+aggregate "
    "as one batch query — streaming/batch unification, value-for-value.",
)
def q_stream_live_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_memory,
    )

    src = table_path(sf_dir, "events")
    sib = state_session(spark, src)
    stream = load_events_stream(sib, src)
    dim = load_table(sib, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    run_to_memory(agg, "live_enrich", output_mode="complete")
    return sib.table("live_enrich")


@register(
    "q_ts_gapfill",
    oracle="""
    WITH hourly AS (
        SELECT user_id,
               date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS sv
        FROM events
        GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY 1
    ), spine AS (
        SELECT b.user_id, unnest(generate_series(b.lo, b.hi,
                                                 INTERVAL 1 HOUR)) AS h
        FROM bounds b
    ), filled AS (
        SELECT s.user_id, s.h,
               COALESCE(hy.n, 0) AS n,
               last_value(hy.sv IGNORE NULLS)
                   OVER (PARTITION BY s.user_id ORDER BY s.h) AS carried
        FROM spine s LEFT JOIN hourly hy
          ON hy.user_id = s.user_id AND hy.h = s.h
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_hours,
           ROUND(SUM(CASE WHEN n = 0 THEN carried ELSE 0 END), 2)
               AS carried_sum
    FROM filled
    GROUP BY 1
    """,
    doc="Time-series resample + gap fill (the hypertable/continuous-"
    "aggregate primitive): each user's event stream is rolled up to an "
    "hourly grid spanning their own [first, last] hour, missing hours "
    "are materialized from a per-user time spine, and the last observed "
    "hourly value is carried forward into gaps (LOCF) with an "
    "ignore-nulls window. The probe aggregates the filled series back "
    "per user — grid size, gap count, and the sum of carried values, so "
    "a wrong spine, a mis-carried value, or an off-by-one-hour bucket "
    "all break the hash. Scale shape: the spine is GENERATED per user "
    "map-side (sequence + explode — no calendar table, no cross join); "
    "the spine inherits its user_id hash partitioning from the bounds "
    "aggregate, the gap-marking join builds the (pre-aggregated, "
    "hours-per-user-sized) rollup side against it, and the LOCF window "
    "reuses that same partitioning — no exchange lands between the join "
    "and the window. Per-user state is bounded by that user's own time "
    "span, never the global calendar.",
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    # both the per-user spine derivation and the gap-fill join consume
    # hourly, and their downstream shapes differ, so the events
    # scan+aggregate pipeline ran twice (r12-before plan: 2 scans,
    # 2 exchanges). hourly is (user, hour, count, sum) — the compacted
    # proxy of the events table — so materializing it once is cheap at
    # any scale (guide §8.4).
    hourly = hourly.localCheckpoint()
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    filled = (
        spine.join(hourly, ["user_id", "h"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "carried",
            F.last("sv", ignorenulls=True).over(
                Window.partitionBy("user_id").orderBy("h")
            ),
        )
    )
    gap = F.when(F.col("n") == 0, 1).otherwise(0)
    return filled.groupBy("user_id").agg(
        F.count("*").alias("n_hours"),
        F.sum(gap).cast("long").alias("n_gap_hours"),
        F.round(
            F.sum(F.when(F.col("n") == 0, F.col("carried")).otherwise(F.lit(0.0))),
            2,
        ).alias("carried_sum"),
    )


@register(
    "q_stream_live_sliding",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' AS ws,
               event_type
        FROM events
    )
    SELECT strftime(ws, '{_FMT_DUCK}') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned
    GROUP BY 1, 2
    """,
    doc="LIVE sliding-window streaming behind the differential gate: the "
    "readStream pipeline (file source -> watermark -> 2h windows sliding "
    "hourly per event type) drains under Trigger.AvailableNow into a "
    "complete-mode memory sink; every event must land in exactly its TWO "
    "overlapping windows. The oracle mirrors the overlap as a 2-way "
    "UNION ALL of hourly buckets (t's windows start at floor_hour(t) "
    "and floor_hour(t)-1h). Completes the live gate set alongside "
    "tumbling/session/dedup/join/stateful/to_table; state size is "
    "|open windows x event types|, independent of event volume.",
)
def q_stream_live_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_memory,
        sliding_stream,
    )

    src = table_path(sf_dir, "events")
    # same state-parallelism sizing rationale as q_stream_live_join
    sib = state_session(spark, src)
    stream = sliding_stream(load_events_stream(sib, src))
    run_to_memory(stream, "live_sliding", output_mode="complete")
    return sib.table("live_sliding").withColumn("n", F.col("n").cast("bigint"))


@table_setup
def _setup_events_sink(spark: SparkSession, sf_dir: str, mgr):
    """events_sink: the NATIVE streaming table sink, once per process per
    sf_dir: readStream over events parquet -> writeStream.format(
    'snaptable') -> one atomic snapshot per micro-batch, each commit
    recording its epoch id in the table properties (the idempotence
    marker a replayed epoch is skipped by)."""
    import os

    from iceberg_poc_spark.sources import table_path
    from iceberg_poc_spark.sources.pyds import register_snaptable
    from iceberg_poc_spark.streaming.pipelines import load_events_stream

    register_snaptable(spark)
    stream = load_events_stream(spark, table_path(sf_dir, "events"))
    mgr.create_table("events_sink", stream.schema, [])
    q = (
        stream.writeStream.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "events_sink")
        .option(
            "checkpointLocation", os.path.join(mgr.warehouse, "_ckpt_events_sink")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "q_stream_connector_sink",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           strftime(MAX(ts), '{_FMT_DUCK}.%f') AS last_ts
    FROM events
    GROUP BY 1
    """,
    doc="LIVE streaming through the NATIVE connector sink behind the "
    "differential gate (≙ Iceberg's streaming write; completes "
    "q_stream_live_to_table, whose sink is a foreachBatch wrapper): "
    "writeStream.format('snaptable') drains the events stream under "
    "Trigger.AvailableNow, executor tasks staging Arrow batches and the "
    "driver committing ONE snapshot per micro-batch with the epoch id "
    "recorded in the SAME commit — so a crash-restart replaying an "
    "epoch is detected from the table itself and skipped (exactly-once "
    "TABLE state from at-least-once delivery; restart-resume and "
    "replay-skip are separately proven in tests/test_pyds.py). The "
    "table read back through manager.read must match the oracle's "
    "aggregate over raw events at microsecond ts fidelity. With this, "
    "the connector face is symmetric: batch read, batch write, changes "
    "stream, and streaming sink all cross the same snapshot-commit "
    "machinery.",
)
def q_stream_connector_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_events_sink(spark, sf_dir)
    df = mgr.read("events_sink")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.date_format(F.max("ts"), _FMT_SPARK + ".SSSSSS").alias("last_ts"),
    )


@table_setup
def _setup_table_pipeline(spark: SparkSession, sf_dir: str, mgr):
    """events_bronze -> events_silver: the INCREMENTAL table-to-table
    streaming pipeline (medallion bronze->silver), once per process per
    sf_dir. Bronze lands as three append snapshots; drain #1 streams the
    table's CHANGES (readStream.format('snaptable')) through a filter +
    derive into the silver snaptable sink; then a LATE fourth append
    hits bronze and drain #2 resumes from the SAME checkpoint — only the
    delta flows (offsets are snapshot versions), and the sink's
    epoch-in-commit marker keeps silver exactly-once across the
    restart."""
    import os

    from iceberg_poc_spark.sources.pyds import register_snaptable

    register_snaptable(spark)
    events = load_table(spark, sf_dir, "events")
    mgr.create_table("events_bronze", events.schema, [])
    v0 = mgr._current_version("events_bronze")
    for chunk in (0, 1, 2):
        mgr.append(
            "events_bronze",
            events.where(F.pmod("event_id", F.lit(4)) == chunk),
        )

    silver_schema = (
        events.withColumn("day", F.to_date("ts")).where("value > 50").schema
    )
    mgr.create_table("events_silver", silver_schema, [])
    ckpt = os.path.join(mgr.warehouse, "_ckpt_events_silver")

    def drain() -> None:
        q = (
            spark.readStream.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "events_bronze")
            .option("from_snapshot", v0)
            .load()
            .where("value > 50")
            .withColumn("day", F.to_date("ts"))
            .writeStream.format("snaptable")
            .option("warehouse", mgr.warehouse)
            .option("table", "events_silver")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    mid = {
        "silver_rows_after_first_drain": mgr.read("events_silver").count(),
        "silver_version_after_first_drain": mgr._current_version(
            "events_silver"
        ),
    }
    # the late arrival: a fourth bronze append AFTER the pipeline already
    # drained once — drain #2 resumes from the checkpointed snapshot
    # offset and ships only this delta
    mgr.append(
        "events_bronze", events.where(F.pmod("event_id", F.lit(4)) == 3)
    )
    drain()
    return mid


@register(
    "q_stream_table_pipeline",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events
    WHERE value > 50
    GROUP BY 1
    """,
    doc="INCREMENTAL table-to-table streaming pipeline — the medallion "
    "bronze->silver shape every 100 TB lakehouse runs continuously, "
    "with the connector on BOTH ends: events land in a bronze snaptable "
    "as three append snapshots, readStream.format('snaptable') streams "
    "the table's changes (snapshot versions ARE the offsets) through a "
    "filter + date derivation, and writeStream.format('snaptable') "
    "commits silver one atomic epoch-marked snapshot per micro-batch. "
    "Then a LATE fourth append hits bronze and the pipeline re-drains "
    "from the SAME checkpoint — only the delta flows (no bronze rescan; "
    "asserted in tests/test_streaming.py along with exactly-once "
    "event_id uniqueness in silver). The final silver aggregate must "
    "match the oracle's filtered aggregate over raw events, so a "
    "dropped delta, a replayed epoch, or timestamp drift through the "
    "two Arrow crossings breaks the hash. Completes the connector "
    "story: q_stream_connector_sink proved file->table; this proves "
    "table->table with checkpoint-resume — the composable unit "
    "incremental DAGs (silver->gold) are built from.",
)
def q_stream_table_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _mid = _setup_table_pipeline(spark, sf_dir)
    return (
        mgr.read("events_silver")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("day").alias("last_day"),
        )
    )


@table_setup
def _setup_events_cdc_upsert(spark: SparkSession, sf_dir: str, mgr):
    """events_cdc_up: the minute-level streaming CDC loop, once per
    process per sf_dir — the events corpus arrives as THREE chronological
    slices (one parquet file each, increasing modification times, so the
    file source drains them as three ordered micro-batches), and each
    micro-batch lands through run_to_table_upsert: last row per user_id
    within the batch (event_id descending), then ONE merge-on-read
    equality-upsert epoch per batch. Final table state = exactly one row
    per user, their globally-latest event — last-writer-wins carried
    across batch boundaries by the MoR key deletes, never a rewrite."""
    import os

    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_table_upsert,
    )

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    src = os.path.join(mgr.warehouse, "_src_cdc_up")
    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, None)):
        # sequential single-file writes -> strictly increasing mtimes ->
        # deterministic micro-batch order (the file source sorts by
        # modification time). Final slice is UNBOUNDED above: coverage
        # must not depend on event_id being dense in [0, n).
        cond = F.col("event_id") >= lo
        if hi is not None:
            cond = cond & (F.col("event_id") < hi)
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
    stream = load_events_stream(spark, src, files_per_trigger=1)
    mgr.create_table("events_cdc_up", stream.schema, [])
    run_to_table_upsert(
        stream,
        mgr,
        "events_cdc_up",
        keys=["user_id"],
        order_cols=["event_id"],
        checkpoint=os.path.join(mgr.warehouse, "_ckpt_cdc_up"),
    )


@register(
    "q_stream_upsert_table",
    oracle="""
    WITH last AS (
        SELECT user_id, MAX(event_id) AS event_id
        FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(e.value), 2) AS sum_value,
           CAST(MAX(e.event_id) AS BIGINT) AS max_event
    FROM events e
    JOIN last l ON e.user_id = l.user_id AND e.event_id = l.event_id
    GROUP BY 1
    """,
    doc="LIVE streaming CDC-UPSERT into the table layer — the "
    "minute-level per-key ingestion loop next to q_stream_live_to_table"
    "'s append loop: the corpus drains as three chronological "
    "micro-batches (one file each, deterministic order via file-source "
    "mtime), each reduced to its last row per user_id (event_id "
    "descending) and committed through upsert_equality — ONE "
    "merge-on-read epoch per batch (equality-delete file + batch data "
    "files under one snapshot, zero rewrites). The final table must "
    "hold EXACTLY one row per user — their globally-latest event — "
    "with last-writer-wins carried ACROSS batch boundaries by the MoR "
    "key deletes; the oracle recomputes every user's argmax-event_id "
    "row relationally, so a stale row surviving an epoch, a lost "
    "cross-batch overwrite, or an out-of-order drain all hash-diverge. "
    "Per-epoch write cost is O(batch) at any table size "
    "(run_to_table_upsert; a failure-replayed epoch CONVERGES, "
    "re-upserting the same keys) — the 100 TB CDC shape.",
)
def q_stream_upsert_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_events_cdc_upsert(spark, sf_dir)
    df = mgr.read("events_cdc_up")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("event_id").cast("bigint").alias("max_event"),
    )


# ------------------------------------------------- streaming ANN ingest


@table_setup
def _setup_emb_ann_stream(spark: SparkSession, sf_dir: str, mgr):
    """emb_ann_stream: the embedding corpus arrives as THREE vec_id-sliced
    single-file micro-batches (mtime-ordered); anchors are FROZEN at
    index bootstrap (strided over the static corpus — the
    oracle-reproducible rule the whole anchor-IVF family shares); each
    micro-batch is argmax-assigned to its cell BATCH-LOCALLY (broadcast
    anchor join, O(batch)) and appended into the cell-partitioned index
    table through run_to_table — one atomic epoch-stamped append per
    batch, so the live index is query-consistent after every batch and
    a crash-replayed batch is skipped from the table's own marker."""
    import os

    from iceberg_poc_spark.operators.similarity import (
        ANN_MP_CELLS,
        _assign_anchor_cells,
        _strided_anchors,
    )
    from iceberg_poc_spark.streaming.pipelines import run_to_table
    from iceberg_poc_spark.tables import identity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    anchors = _strided_anchors(emb, n // ANN_MP_CELLS)
    src = os.path.join(mgr.warehouse, "_src_ann_stream")
    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, None)):
        cond = F.col("vec_id") >= lo
        if hi is not None:
            cond = cond & (F.col("vec_id") < hi)
        emb.filter(cond).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    schema = _assign_anchor_cells(spark, emb.limit(1), anchors).schema
    mgr.create_table("emb_ann_stream", schema, [identity("cell")])
    run_to_table(
        stream,
        mgr,
        "emb_ann_stream",
        checkpoint=os.path.join(mgr.warehouse, "_ckpt_ann_stream"),
        transform=lambda b: _assign_anchor_cells(spark, b, anchors),
    )
    return anchors


@register(
    "q_stream_ann_ingest",
    oracle="""
    WITH params AS (
        SELECT CAST(COUNT(*) // 48 AS BIGINT) AS stride
        FROM embeddings
    ),
    anchors AS (
        SELECT CAST(vec_id // stride AS INT) AS aid, embedding AS aemb
        FROM embeddings, params
        WHERE vec_id % stride = 0 AND vec_id < stride * 48
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, a.aid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(a.aemb AS DOUBLE[])) DESC, a.aid
               ) AS rn
        FROM embeddings e CROSS JOIN anchors a
    ),
    assign AS (
        SELECT vec_id, embedding, aid AS cell FROM scored WHERE rn = 1
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT aid FROM anchors, q
        ORDER BY list_cosine_similarity(CAST(aemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[])) DESC, aid
        LIMIT 24
    )
    SELECT c.vec_id,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qemb AS DOUBLE[])), 4) AS cos_sim
    FROM assign c
    JOIN probe p ON c.cell = p.aid
    CROSS JOIN q
    WHERE c.vec_id <> 0
    ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qemb AS DOUBLE[])) DESC, c.vec_id
    LIMIT 5
    """,
    doc="LIVE streaming ANN-index ingestion — the missing arrival leg of "
    "the index lifecycle (build: q_sim_ann_multiprobe; append: "
    "q_sim_ann_incremental; delete/re-anchor/monitor): embeddings drain "
    "as three chronological micro-batches, each argmax-assigned to its "
    "FROZEN anchor cell batch-locally (broadcast anchor join, O(batch), "
    "no corpus rescan ever) and committed as one atomic epoch-stamped "
    "append into the cell-partitioned index — the index is "
    "query-consistent after every batch, replayed batches are skipped "
    "from the table's own epoch marker (exactly-once index state from "
    "at-least-once delivery), and the final probe plans only the best-"
    "24-of-48 cells' files at the manifest. The oracle recomputes the "
    "full assignment + probe + top-k relationally over the static "
    "corpus, so a dropped batch, a double-applied replay, or a "
    "mis-assigned cell all hash-diverge. At 100 TB this is how a "
    "vector index tracks a live embedding firehose: per-batch cost "
    "O(batch), never a rebuild.",
)
def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.functions.vectors import cosine_similarity
    from iceberg_poc_spark.operators.similarity import (
        ANN_MP_PROBE,
        IVF_TOP_K,
        QUERY_VEC_ID,
        _probe_order,
    )

    mgr, anchors = _setup_emb_ann_stream(spark, sf_dir)
    qemb = next(a for aid, a in anchors if aid == 0)
    ranked = _probe_order(anchors, qemb)
    probe = [aid for aid, _ in ranked[:ANN_MP_PROBE]]
    df, _planned, _total = mgr.scan(
        "emb_ann_stream", where=[("cell", "in", probe)]
    )
    qlit = F.array(*[F.lit(v) for v in qemb])
    sim = cosine_similarity(F.col("embedding"), qlit)
    return (
        df.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", sim.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(IVF_TOP_K)
        .select("vec_id", F.round("sim_raw", 4).alias("cos_sim"))
    )


# ------------------------------------------- streaming write-audit-publish

@table_setup
def _setup_events_wap_stream(spark: SparkSession, sf_dir: str, mgr):
    """events_wap_stream: the corpus drains as three single-file micro-batches
    written in mtime order [slice0, slice2, slice1] — so the THIRD batch
    carries event_ids BELOW the published maximum and must fail the
    monotonicity gate (the late/out-of-order-feed quality check an
    ingestion pipeline actually runs). Batches 1 and 2 publish via
    fast-forward; batch 3 is quarantined under a pinned tag and the
    audit branch resets, so main holds exactly slices 0 and 2."""
    import os

    from iceberg_poc_spark.streaming.pipelines import (
        load_events_stream,
        run_to_table_wap,
    )

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    src = os.path.join(mgr.warehouse, "_src_wap")
    slices = (
        (0, n // 3),
        (2 * (n // 3), None),  # arrives SECOND: publishes a high max
        (n // 3, 2 * (n // 3)),  # arrives THIRD: below max -> quarantined
    )
    for lo, hi in slices:
        cond = F.col("event_id") >= lo
        if hi is not None:
            cond = cond & (F.col("event_id") < hi)
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
    stream = load_events_stream(spark, src, files_per_trigger=1)
    mgr.create_table("events_wap_stream", stream.schema, [])
    mgr.create_branch("events_wap_stream", "audit")

    def monotonic_gate(delta, published) -> bool:
        lo = delta.agg(F.min("event_id")).first()[0]
        hi = published.agg(F.max("event_id")).first()[0]
        return hi is None or (lo is not None and lo > hi)

    run_to_table_wap(
        stream,
        mgr,
        "events_wap_stream",
        checkpoint=os.path.join(mgr.warehouse, "_ckpt_wap"),
        validate=monotonic_gate,
    )


@register(
    "q_stream_wap_publish",
    oracle="""
    WITH p AS (SELECT COUNT(*) AS n FROM events),
    pub AS (
        SELECT e.* FROM events e, p
        WHERE e.event_id < p.n // 3 OR e.event_id >= 2 * (p.n // 3)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(MAX(event_id) AS BIGINT) AS max_event
    FROM pub
    GROUP BY 1
    """,
    doc="LIVE streaming WRITE-AUDIT-PUBLISH — the quality-gated "
    "ingestion loop composed from the table layer's branch primitives: "
    "each micro-batch appends to the AUDIT branch, the gate validates "
    "the cross-ref changelog's insert stream (exactly what fast-forward "
    "would publish) against the published state, and only passing "
    "batches fast-forward main. The corpus drains as three file-ordered "
    "batches with the MIDDLE id-slice arriving LAST, so the third batch "
    "violates the id-monotonicity gate (the out-of-order-feed check): "
    "it is quarantined under a pinned tag (readable forever, reapable "
    "never) and the branch resets, leaving main holding exactly slices "
    "one and two — which the oracle reconstructs relationally from the "
    "slice predicate. A bad batch neither reaches readers of main nor "
    "blocks subsequent publishes; pytest additionally pins the "
    "quarantined rows and the branch/tag state "
    "(tests/test_streaming.py). At 100 TB each epoch costs O(batch): "
    "one branch append + one manifest-diff validation read + one "
    "pointer CAS to publish.",
)
def q_stream_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_events_wap_stream(spark, sf_dir)
    df = mgr.read("events_wap_stream")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("event_id").cast("bigint").alias("max_event"),
    )
