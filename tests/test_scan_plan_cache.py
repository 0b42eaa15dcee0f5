"""Scan-plan cache in sources.tables.load_table (optimization round 12).

Every ``spark.read.parquet(path)`` pays driver-side file listing plus a
footer schema-inference pass — per-call metadata work a catalog-backed
source does once. ``load_table`` now memoizes the UNEXECUTED scan plan per
(session, file identity), the same convention as the snapshot layer's
``_READ_PLANS``. These tests pin the cache's contract:

- a repeat call returns the identical plan (no re-inference),
- the cached plan still computes from the parquet files (values equal an
  uncached read),
- rewriting the file under the same path is a cache MISS (file identity is
  (mtime_ns, size, inode), so stale plans can never serve new data),
- a different session never shares a plan.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import pytest

from iceberg_poc_spark.sources import load_table
from iceberg_poc_spark.sources.tables import _SCAN_PLANS

from tests.conftest import SF_DIR


@pytest.fixture()
def sf_dir():
    return SF_DIR


def _copy_sf(sf_dir: str, tmp_path, tables=("nation",)) -> str:
    dst = str(tmp_path / "sfcopy")
    os.makedirs(dst, exist_ok=True)
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(dst, f"{t}.parquet"))
        else:
            shutil.copy2(src, os.path.join(dst, f"{t}.parquet"))
    return dst


def test_repeat_call_hits_cache(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is b  # the memoized plan object itself


def test_cached_plan_reads_real_data(spark, sf_dir):
    # identical values through the cache and through a fresh raw read
    cached = load_table(spark, sf_dir, "nation")
    cached = load_table(spark, sf_dir, "nation")  # second call = cache hit
    raw = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    assert cached.count() == raw.count()
    assert (
        cached.agg(F.sum("n_nationkey")).first()[0]
        == raw.agg(F.sum("n_nationkey")).first()[0]
    )


def test_rewrite_invalidates(spark, sf_dir, tmp_path):
    d = _copy_sf(sf_dir, tmp_path)
    first = load_table(spark, d, "nation")
    n1 = first.count()
    # rewrite the table under the SAME path with fewer rows
    path = os.path.join(d, "nation.parquet")
    half = first.limit(max(1, n1 // 2)).collect()
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        os.remove(path)
    spark.createDataFrame(half, schema=first.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    again = load_table(spark, d, "nation")
    assert again is not first
    assert again.count() == max(1, n1 // 2)


def test_events_ts_conversion_survives_cache(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ev2 = load_table(spark, sf_dir, "events")
    assert ev2.schema["ts"].dataType.typeName() == "timestamp_ntz"


def test_distinct_sessions_do_not_share(spark, sf_dir):
    other = spark.newSession()
    a = load_table(spark, sf_dir, "nation")
    b = load_table(other, sf_dir, "nation")
    assert a is not b


def test_cache_is_bounded(spark, sf_dir):
    from iceberg_poc_spark.sources import tables as T

    for t in ("region", "nation", "customer", "orders"):
        load_table(spark, sf_dir, t)
    assert len(_SCAN_PLANS) <= T.SCAN_PLAN_CACHE_MAX


def test_subdir_write_invalidates(spark, tmp_path):
    # ADVICE r12: a write INSIDE a partition subdirectory must be a miss
    # even though the root dir's stat is unchanged.
    from iceberg_poc_spark.sources.tables import scan_parquet

    root = str(tmp_path / "hive")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(root)
    first = scan_parquet(spark, root)
    n1 = first.count()
    # append a file into an EXISTING partition subdirectory only
    spark.range(100, 102).selectExpr("id", "0 AS p").write.mode(
        "append"
    ).partitionBy("p").parquet(root)
    again = scan_parquet(spark, root)
    assert again is not first
    assert again.count() == n1 + 2
