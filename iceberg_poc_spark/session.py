"""SparkSession factory with scale-oriented defaults.

Defaults follow the reference's physical-layout constants (BASELINE.md:
zstd parquet, 128 MB target files — reference
``aig/AIGEventsTableCreator.java:184-191``) and enable AQE so plans
re-optimize at runtime (partition coalescing, skew-join splitting) — the
behaviors that matter at 100 TB / 1000-executor scale, while still running
on ``local[N]`` here.

Shuffle width follows the session's cores: ``get_spark`` and
``tune_existing`` set ``spark.sql.shuffle.partitions`` to the context's
``defaultParallelism`` (one task per core in a shuffle stage; AQE still
coalesces small stages further), unless ``extra_conf`` names it. A fixed
width wider than the cores only adds per-task overhead to the short
jobs the lakehouse path runs.

Spark's generated-code cache is sized to the engine's working set:
``spark.sql.codegen.cache.maxEntries`` is 4096 (Spark's default is 100).
One pass over the 22 TPC-H queries generates about 320 distinct classes
and one sweep of the whole registry about 2,700, so at 100 entries every
warm pass evicts every class: Janino recompiles about 15 classes per
query and HotSpot re-JITs each new class. At 4096 a warm pass compiles
almost nothing. The cost is Metaspace for the classes the cache keeps
alive, and it is small: after four warm TPC-H passes Metaspace held
163 MB against 162 MB at 100 entries, while 3,000 fewer classes had
been loaded overall. The conf is static: it is read once, when the
JVM-wide cache is built, so ``tune_existing`` cannot apply it to a
session someone else created.

Only this module writes session conf: ``get_spark`` and ``tune_existing``
at set-up, ``sibling_session`` on the sessions it creates. A query never
writes its caller's conf: other queries may be running on that session.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

# Reference parity: write.target-file-size-bytes = 128 MB
# (aig/AIGEventsTableCreator.java:188); also a good input-split size.
TARGET_FILE_SIZE = 128 * 1024 * 1024

DEFAULT_CONF: dict[str, str] = {
    # --- runtime re-optimization (critical at scale; harmless locally) ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- deterministic semantics for the DuckDB oracle ---
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet timestamps are isAdjustedToUTC=false -> read as
    # TIMESTAMP_NTZ, matching DuckDB's naive TIMESTAMP semantics exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # events.ts is TIMESTAMP(NANOS) which Spark cannot read natively; read
    # as long and convert in the source layer (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- python<->jvm data path ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # without it Spark refuses a Python data source reader that
    # implements pushFilters (the snaptable connector's manifest pruning)
    "spark.sql.python.filterPushdown.enabled": "true",
    # --- physical layout (reference parity, BASELINE.md) ---
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": str(TARGET_FILE_SIZE),
    # the table layer reads the explicit file list its manifest names;
    # above this many paths Spark stats them in a distributed listing
    # job (one extra job per read) instead of on the driver. Explicit
    # files need no directory discovery, so the driver stats them all
    # up to a large table's worth of files.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
    # broadcast threshold: default 10MB is fine; make it explicit so the
    # intent (dims broadcast, facts shuffle) is visible.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # local mode runs the driver and every executor thread in ONE JVM; the
    # 1g driver default that suits a real cluster's driver-only process
    # OOMs here once inputs outgrow toy SFs. Only honored at session
    # creation — a cluster deploy sets its own executor/driver sizing.
    "spark.driver.memory": "8g",
    # generated-code cache (static, read once per JVM): Spark's 100
    # entries hold less than one TPC-H pass (~320 classes), so every warm
    # pass recompiled and re-JITted all of them; 4096 holds a sweep of the
    # whole registry (~2,700 classes) with headroom, for about 1 MB more
    # Metaspace on TPC-H.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(
    app_name: str = "iceberg-poc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``extra_conf`` wins over the defaults (e.g. Iceberg catalog config from
    :mod:`iceberg_poc_spark.tables` when the runtime jar is available).
    """
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        _core_sized_shuffles(spark)
    return spark


def _core_sized_shuffles(spark: SparkSession) -> None:
    """One shuffle partition per core of the session's context."""
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )


# caller (weak) -> {sorted overrides: [sibling, caller conf last mirrored]}
_SIBLINGS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_SIBLINGS_LOCK = threading.Lock()


def sibling_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A session of ``spark``'s context with ``spark``'s runtime conf and
    ``conf`` on top, for a block that needs its own conf (Spark reads a
    stream's state width only from session conf, at ``start()``) while
    other queries may run on the caller. Build the block's DataFrames
    from it and read its temp views from it.

    One sibling per (caller, ``conf``), weakly keyed by the caller like
    the plan caches: each session that starts a stream leaves a listener
    on the context's ``streams`` queue for good. A call re-mirrors the
    caller's modifiable conf when it changed since the last mirror (one
    JVM-side map comparison); concurrent calls write the same values."""
    key = tuple(sorted(conf.items()))
    now = spark._jsparkSession.conf().getAll()
    with _SIBLINGS_LOCK:
        per_caller = _SIBLINGS.setdefault(spark, {})
        if key not in per_caller:
            per_caller[key] = [spark.newSession(), None]
        entry = per_caller[key]
    sib, mirrored = entry
    if mirrored is None or not mirrored.equals(now):
        want = {**spark.conf.getAll, **conf}
        have = sib.conf.getAll
        for k in have.keys() - want.keys():
            if sib.conf.isModifiable(k):
                sib.conf.unset(k)
        for k, v in want.items():
            if have.get(k) != v and sib.conf.isModifiable(k):
                sib.conf.set(k, v)
        entry[1] = now
    return sib


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the correctness driver passes us its own session)."""
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.python.filterPushdown.enabled",
    ):
        try:
            spark.conf.set(k, DEFAULT_CONF[k])
        except Exception:
            pass  # non-runtime-settable under some configs; defaults still fine
    _core_sized_shuffles(spark)
    return spark
