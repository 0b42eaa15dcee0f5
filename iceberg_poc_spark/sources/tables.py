"""Parquet source layer for the driver testdata corpus (TESTDATA.md).

Mirrors the reference's scan surface: parquet scan with schema inference
(reference ``Main.java:30-37`` reads the footer by hand; Spark does this
natively) and filtered scans whose predicates Catalyst pushes into the
parquet reader (reference ``aig/TimeBasedPartitioningExamples.java:180-191``
hand-plans pruning; here ``df.filter`` + ``.explain`` shows PushedFilters).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from iceberg_poc_spark.scratch import LRU

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (session weakref, abs path, mtime_ns, size, inode) -> scan DataFrame.
# Every spark.read.parquet(path) call pays driver-side file listing plus a
# footer schema-inference pass — metadata work a catalog-backed source
# (Hive metastore, Iceberg) does once and caches, and that the engine's own
# snapshot layer already caches for its manifests (manager._READ_PLANS).
# Same convention here for the raw corpus scans: the key is the session (a
# WEAK ref — a stopped session's JVM state is never pinned; see LRU) plus
# the file identity (mtime_ns, size, inode), so a rewritten corpus is a
# cache miss. The cached object is the UNEXECUTED scan plan — every action
# on it still reads the parquet files.
SCAN_PLAN_CACHE_MAX = 64
_SCAN_PLANS = LRU(SCAN_PLAN_CACHE_MAX)


# directories with more children than this are not memoized at all —
# keeps key construction O(small) and sidesteps partial-rewrite staleness
# for layouts this cache was never sized for
_SCAN_KEY_MAX_CHILDREN = 512


def _scan_key(spark: SparkSession, path: str) -> tuple | None:
    try:
        st = os.stat(path)
        sub: tuple = ()
        if os.path.isdir(path):
            # Fold ONE level of child stats into the key: a write INSIDE a
            # partition subdirectory (append into an existing c_x=N/ dir,
            # in-place file rewrite) changes that child's stat but not the
            # root dir's, so a root-only key would serve a stale plan with
            # an outdated file index (ADVICE r12). One listdir is the same
            # metadata cost the cache saves many times over per hit.
            # Invalidation looks ONLY one level deep: a write two
            # partition levels down (a new file in an existing
            # root/a=1/b=2/) changes neither the root's nor a=1/'s stat,
            # so it is not seen and the memoized plan goes stale.
            names = sorted(os.listdir(path))
            if len(names) > _SCAN_KEY_MAX_CHILDREN:
                return None
            sub = tuple(
                (n, cst.st_mtime_ns, cst.st_size)
                for n in names
                for cst in (os.stat(os.path.join(path, n)),)
            )
        return (
            weakref.ref(spark),
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            st.st_ino,
            sub,
        )
    except (OSError, TypeError):
        return None


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the scan plan memoized per
    (session, file identity) — for operator-owned parquet layouts
    (hive-partitioned scratch dirs, converted side tables) that are
    re-read every run but rewritten rarely. The key carries the root
    stat AND one level of child stats, so both a root rewrite and a
    write inside a first-level partition subdirectory are misses;
    directories with more than ``_SCAN_KEY_MAX_CHILDREN`` children are
    never memoized. Invalidation looks only one directory level deep: a
    write two partition levels down (into an existing ``a=1/b=2/``) is
    NOT seen, and the stale plan is served."""
    key = _scan_key(spark, path)
    hit = _SCAN_PLANS.get(key)
    if hit is not None:
        return hit
    return _SCAN_PLANS.put(key, spark.read.parquet(path))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Schema inference is automatic (footer read);
    predicate/projection pushdown is Catalyst's job — callers just compose
    filters/selects on the returned DataFrame. The inferred scan plan is
    memoized per (session, file identity) — see ``_SCAN_PLANS``."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; corpus tables: {TABLES}")
    path = table_path(sf_dir, name)
    # load_table caches the POST-transform plan, so its key must carry
    # everything the transform depends on: the table name (reserves a
    # key shape distinct from scan_parquet's raw-scan entries for the
    # same file) and, for events, the session conf that decides whether
    # ts arrives as long nanos — flipping nanosAsLong mid-session must
    # be a cache miss, not a stale transform (ADVICE r12).
    key = _scan_key(spark, path)
    if key is not None:
        key = key + (name,)
        if name == "events":
            key = key + (
                spark.conf.get(
                    "spark.sql.legacy.parquet.nanosAsLong", "false"
                ),
            )
    hit = _SCAN_PLANS.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # events.ts is parquet TIMESTAMP(NANOS): Spark reads it as long
        # nanos (spark.sql.legacy.parquet.nanosAsLong); truncate to micros
        # exactly like DuckDB/engines with microsecond timestamps do.
        # integer division: double division would lose microsecond
        # precision at 2024-era epoch-nanos magnitudes (~1.7e18 > 2^53).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return _SCAN_PLANS.put(key, df)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view so queries can use
    ``spark.sql`` with the same table names the DuckDB oracle sees."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
