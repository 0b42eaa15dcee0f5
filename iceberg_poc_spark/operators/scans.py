"""Scans: full / projected / filter-pruned parquet scans.

Reference parity: full table scan (``aig/PartitionValueDebugger.java:118-157``
iterates rows one at a time in-process), projected scan
(``LocalReadParquetToS3Iceberg.java:89-92`` projects at the parquet reader),
filtered scan with pruning (``aig/TimeBasedPartitioningExamples.java:180-195``
hand-calls ``scan.filter(...).planTasks()``). In Spark all three are one
declarative plan: Catalyst prunes columns to the reader (ReadSchema) and
pushes predicates (PushedFilters) — verified in tests/test_plans.py.

Scale note: these scans are embarrassingly parallel (one task per ~128 MB
split, spark.sql.files.maxPartitionBytes); no shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.functions.sqlround import dround
from iceberg_poc_spark.registry import register
from iceberg_poc_spark.scratch import once, scratch_dir
from iceberg_poc_spark.sources import load_table


@register(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    """,
    doc="Projected full scan of the fact table (column pruning to the reader).",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


@register(
    "q_scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
           l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
    doc="Range-filtered scan; predicate reaches the parquet reader "
    "(PushedFilters), the Spark analogue of the reference's "
    "manifest-pruned scan (TimeBasedPartitioningExamples.java:180-195).",
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
            "l_quantity",
        )
    )


@register(
    "q_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
    doc="Pure projection (reference drops columns by prefix before table "
    "create, HiddenPartitionLoader.java:121-130; here: select).",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q_derived_columns",
    oracle=f"""
    SELECT o_orderkey,
           CAST(year(o_orderdate)  AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(day(o_orderdate)   AS INT) AS o_day,
           {dround('o_totalprice * 1.1', 2)} AS price_with_fee
    FROM orders
    """,
    doc="Derived partition-style columns from a timestamp — the Spark "
    "equivalent of the reference's hand-rolled epoch->year/month/day "
    "bucketing (AIGEventsTableCreator.java:226-234, "
    "BulkParquetToIcebergAtomicMultipart.java:162-176).",
)
def q_derived_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("o_day"),
        F.round(F.col("o_totalprice") * 1.1, 2).alias("price_with_fee"),
    )


@register(
    "q_scan_iceberg",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
    """,
    doc="Snapshot-table scan — the Iceberg-connector stand-in "
    "(iceberg-spark-runtime is unobtainable offline, SURVEY.md 7.0; "
    "tables/manager.py:iceberg_conf documents the one-line flip to the "
    "real catalog): lineitem is committed into the snapshot table layer "
    "with hidden monthly partitioning on l_shipdate, then read back "
    "through a manifest-pruned scan (the reference's "
    "newScan().filter().planTasks(), TimeBasedPartitioningExamples"
    ".java:180-195). The time predicate prunes partitions at the "
    "manifest BEFORE any file is opened AND applies as a row residual; "
    "the oracle checks the write->commit->prune->read roundtrip "
    "value-for-value against the raw parquet.",
)
def q_scan_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from datetime import datetime

    from iceberg_poc_spark.tables import ParquetTableManager, months

    mgr = ParquetTableManager(spark, scratch_dir("snapwh", sf_dir))

    def ingest() -> None:
        # the table owns the warehouse: a retry after a failed ingest
        # starts from an empty one
        shutil.rmtree(mgr.warehouse, ignore_errors=True)
        # one ship-year (the ingest demo doesn't need the whole fact; the
        # write cost would otherwise dominate the first call)
        lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
        hi = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
        li = load_table(spark, sf_dir, "lineitem").filter(
            (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
        )
        mgr.create_table("lineitem_snap", li.schema, [months("l_shipdate")])
        mgr.append("lineitem_snap", li)

    # ingested once per process per sf_dir, like every table set-up
    # (iceberg_poc_spark.scratch); later calls read the committed snapshot
    once(mgr.warehouse, ingest)

    df, _planned, _total = mgr.scan(
        "lineitem_snap", where=[("l_shipdate", ">=", datetime(1997, 6, 1))]
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )
