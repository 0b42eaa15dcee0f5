"""Table-layer semantics as oracle-checked queries: time travel,
incremental (CDC-lite) reads, and copy-on-write MERGE.

Reference parity: snapshot history iteration
(``aig/PartitionValueDebugger.java:169-195`` walks ``table.snapshots()``
and per-snapshot ``addedDataFiles``), atomic append commits
(``BulkParquetToIcebergAtomicMultipart.java:97-101``), and hidden
partitioning (``HiddenPartitionLoader.java``) — the capabilities the
snapshot table layer (:mod:`iceberg_poc_spark.tables.manager`) carries with
pytest coverage. These queries put the SAME capabilities behind the
driver's differential gate: each one ingests raw parquet through the table
layer (committed snapshots, tags, CoW merge), reads back through snapshot
resolution, and is value-checked against a DuckDB oracle that computes the
expected table state directly from the raw parquet.

Cost model (same convention as q_join_bucketed / q_scan_iceberg): the
ingest happens ONCE per process per sf_dir — the write is the one-time
cost the table pays at ingest; every query invocation after that is a pure
metadata-resolved read. Warehouses live under a deterministic per-process
temp path and are removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.registry import register
from iceberg_poc_spark.sources import load_table

CUTOFF = "1998-01-01 00:00:00"
MERGE_KEY_OFFSET = 100_000_000
TXN_KEY_OFFSET = 200_000_000
TXN_CUST_OFFSET = 10_000_000
OVERWRITE_YEAR = 1999
EVOLVE_NATION_SPLIT = 12
PE_DATE_LO = "1997-01-01 00:00:00"
PE_PRIORITY = "1-URGENT"

# (warehouse, table) -> snapshot bookmarks; presence of the key means that
# table's setup commits are done. PER-TABLE laziness, not one big setup:
# each registered query pays only its OWN table's one-time ingest, so
# benchmark attribution stays honest and a single query never fronts the
# whole warehouse.
_READY: dict[tuple[str, str], dict[str, int]] = {}


def _warehouse(sf_dir: str) -> str:
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"ttwh_{os.getpid()}_{key}")


def _mgr_for(spark: SparkSession, sf_dir: str):
    from iceberg_poc_spark.tables import ParquetTableManager

    wh = _warehouse(sf_dir)
    if not any(k[0] == wh for k in _READY):
        shutil.rmtree(wh, ignore_errors=True)
        atexit.register(shutil.rmtree, wh, ignore_errors=True)
        os.makedirs(wh, exist_ok=True)
    return ParquetTableManager(spark, wh), wh


def _setup_orders_tt(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_tt: batch1 (< cutoff) tagged, batch2 (>= cutoff), then a
    dynamic partition overwrite of one year — three commits whose pinned
    states the tag/incremental queries must still resolve."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_tt")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CUTOFF).cast("timestamp_ntz")
    mgr.create_table("orders_tt", orders.schema, [years("o_orderdate")])
    snap1 = mgr.append("orders_tt", orders.filter(F.col("o_orderdate") < cutoff))
    mgr.create_tag("orders_tt", "pre_cutoff", at_snapshot=snap1)
    snap2 = mgr.append("orders_tt", orders.filter(F.col("o_orderdate") >= cutoff))
    repriced = orders.filter(F.year("o_orderdate") == OVERWRITE_YEAR).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        "o_orderdate",
    )
    mgr.overwrite_partitions("orders_tt", repriced)
    _READY[key] = {"snap1": snap1, "snap2": snap2}
    return mgr, _READY[key]


def _setup_customer_m(spark: SparkSession, sf_dir: str) -> tuple:
    """customer_m: base snapshot, then ONE CoW merge (updates + inserts)."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "customer_m")
    if key in _READY:
        return mgr, _READY[key]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mgr.create_table("customer_m", cust.schema, [identity("c_mktsegment")])
    mgr.append("customer_m", cust)
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE")
    source = auto.select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    ).unionByName(
        auto.select(
            (F.col("c_custkey") + F.lit(MERGE_KEY_OFFSET)).alias("c_custkey"),
            F.lit("MERGED").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
    )
    mgr.merge("customer_m", source, on=["c_custkey"])
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_cust_ev(spark: SparkSession, sf_dir: str) -> tuple:
    """cust_ev: schema evolution (add column, then rename) across two file
    generations."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "cust_ev")
    if key in _READY:
        return mgr, _READY[key]
    cust_full = load_table(spark, sf_dir, "customer")
    base = cust_full.filter(F.col("c_nationkey") < EVOLVE_NATION_SPLIT).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    mgr.create_table("cust_ev", base.schema, [])
    mgr.append("cust_ev", base)
    mgr.add_column("cust_ev", "c_tier", "string")
    mgr.append(
        "cust_ev",
        cust_full.filter(F.col("c_nationkey") >= EVOLVE_NATION_SPLIT).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.col("c_mktsegment").alias("c_tier"),
        ),
    )
    mgr.rename_column("cust_ev", "c_name", "c_fullname")
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_orders_pe(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_pe: partition-SPEC evolution across file generations.
    Generation 1 (orders < CUTOFF) is written under spec A =
    [years(o_orderdate)]; the spec then evolves (ADD PARTITION FIELD
    identity(o_orderpriority) — metadata-only, no file rewritten) and
    generation 2 (orders >= CUTOFF) lands under spec B = [years, priority].
    """
    from iceberg_poc_spark.tables import identity, years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_pe")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CUTOFF).cast("timestamp_ntz")
    mgr.create_table("orders_pe", orders.schema, [years("o_orderdate")])
    mgr.append("orders_pe", orders.filter(F.col("o_orderdate") < cutoff))
    mgr.add_partition_field("orders_pe", identity("o_orderpriority"))
    mgr.append("orders_pe", orders.filter(F.col("o_orderdate") >= cutoff))
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_cust_cdc(spark: SparkSession, sf_dir: str) -> tuple:
    """cust_cdc: one MERGE applying a CDC batch — updates (BUILDING
    balances +50), inserts (new CDC_NEW segment), and DELETES (negative-
    balance MACHINERY customers) — in a single atomic commit, routed by
    an ``op`` flag column that is not part of the table schema."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "cust_cdc")
    if key in _READY:
        return mgr, _READY[key]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mgr.create_table("cust_cdc", cust.schema, [identity("c_mktsegment")])
    mgr.append("cust_cdc", cust)
    bld = cust.filter(F.col("c_mktsegment") == "BUILDING")
    cdc = (
        bld.select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + F.lit(50.0)).alias("c_acctbal"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            bld.select(
                (F.col("c_custkey") + F.lit(MERGE_KEY_OFFSET)).alias("c_custkey"),
                F.lit("CDC_NEW").alias("c_mktsegment"),
                F.lit(1.0).alias("c_acctbal"),
                F.lit("I").alias("op"),
            )
        )
        .unionByName(
            cust.filter(
                (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") < 0)
            ).select(
                "c_custkey", "c_mktsegment", "c_acctbal", F.lit("D").alias("op")
            )
        )
    )
    mgr.merge("cust_cdc", cdc, on=["c_custkey"], delete_when=F.col("op") == "D")
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_orders_dml(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_dml: row-level copy-on-write DELETE then UPDATE on a
    years-partitioned table — each op rewrites only the files whose
    partition values can hold matching rows."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_dml")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_dml", orders.schema, [years("o_orderdate")])
    mgr.append("orders_dml", orders)
    mgr.delete(
        "orders_dml",
        where=[
            ("o_orderdate", ">=", "1998-01-01 00:00:00"),
            ("o_orderdate", "<", "1999-01-01 00:00:00"),
            ("o_totalprice", "<", 100000.0),
        ],
    )
    mgr.update(
        "orders_dml",
        set_exprs={"o_totalprice": F.col("o_totalprice") + F.lit(5.0)},
        where=[
            ("o_orderdate", ">=", "2000-01-01 00:00:00"),
            ("o_orderdate", "<", "2001-01-01 00:00:00"),
        ],
    )
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_orders_mor(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_mor: merge-on-read deletes — two stacked predicate deletes
    committed as pure metadata (ZERO data files rewritten; asserted in
    tests/test_tablelayer.py), applied by every read until
    rewrite_deletes() folds them."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_mor")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_mor", orders.schema, [years("o_orderdate")])
    base = mgr.append("orders_mor", orders)
    mgr.delete(
        "orders_mor",
        where=[
            ("o_orderdate", ">=", "1997-01-01 00:00:00"),
            ("o_orderdate", "<", "1998-01-01 00:00:00"),
            ("o_totalprice", "<", 50000.0),
        ],
        mode="mor",
    )
    mor_head = mgr.delete(
        "orders_mor",
        where=[("o_orderpriority", "==", "5-LOW"), ("o_totalprice", ">=", 400000.0)],
        mode="mor",
    )
    _READY[key] = {"base": base, "mor_head": mor_head}
    return mgr, _READY[key]


def _setup_ev_exp(spark: SparkSession, sf_dir: str) -> tuple:
    """ev_exp: fragment appends + compaction leave dead files behind;
    expire_snapshots(keep_last=1) reaps expired manifests AND the data
    files no surviving snapshot references."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "ev_exp")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    mgr.create_table("ev_exp", ev.schema, [identity("event_type")])
    for k in range(3):
        mgr.append("ev_exp", ev.filter(F.col("event_id") % 3 == k))
    mgr.compact("ev_exp")
    gc = mgr.expire_snapshots("ev_exp", keep_last=1)
    _READY[key] = {"gc": gc}
    return mgr, _READY[key]


def _setup_li_w(spark: SparkSession, sf_dir: str) -> tuple:
    """li_w: type widening across file generations — batch 1 written with
    NARROW types (l_orderkey int, l_quantity float), the columns then
    widened (int->long, float->double: the value-preserving promotions
    Iceberg permits, metadata-only), batch 2 written wide. Quantities are
    integral 1..50 so the float generation is value-exact by construction
    — the oracle needs no narrowing simulation."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "li_w")
    if key in _READY:
        return mgr, _READY[key]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    narrow = li.select(
        F.col("l_orderkey").cast("int").alias("l_orderkey"),
        F.col("l_quantity").cast("float").alias("l_quantity"),
        "l_returnflag",
    )
    mgr.create_table("li_w", narrow.schema, [])
    mgr.append("li_w", narrow.filter(F.col("l_orderkey") % 2 == 0))
    mgr.widen_column("li_w", "l_orderkey", "long")
    mgr.widen_column("li_w", "l_quantity", "double")
    mgr.append("li_w", li.filter(F.col("l_orderkey") % 2 == 1))
    _READY[key] = {}
    return mgr, _READY[key]


def _setup_events_wap(spark: SparkSession, sf_dir: str) -> tuple:
    """events_wap: write-audit-publish branch flow."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "events_wap")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    mgr.create_table("events_wap", ev.schema, [identity("event_type")])
    wap_base = mgr.append(
        "events_wap", ev.filter(F.col("event_type") != "error")
    )
    mgr.create_branch("events_wap", "audit")
    mgr.append(
        "events_wap", ev.filter(F.col("event_type") == "error"), ref="audit"
    )
    # the audit step: validate the staged branch before anyone sees it.
    # An explicit raise, not assert — `python -O` compiles asserts out,
    # which would silently turn the audit gate into an unconditional
    # publish.
    n_err = ev.filter(F.col("event_type") == "error").count()
    staged = mgr.read("events_wap", ref="audit")
    staged_err = staged.filter(F.col("event_type") == "error").count()
    if staged_err != n_err:
        raise RuntimeError(
            f"WAP audit failed: staged branch has {staged_err} error "
            f"events, expected {n_err} — not publishing"
        )
    mgr.fast_forward("events_wap", "audit")
    _READY[key] = {"wap_base": wap_base}
    return mgr, _READY[key]


def _setup_li_cmp(spark: SparkSession, sf_dir: str) -> tuple:
    """li_cmp: three fragmented appends, then sorted compaction."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "li_cmp")
    if key in _READY:
        return mgr, _READY[key]
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    )
    mgr.create_table("li_cmp", li.schema, [])
    for k in range(3):  # micro-batch fragmentation
        mgr.append("li_cmp", li.filter(F.col("l_orderkey") % 3 == k))
    pre_files = len(mgr._load_manifest("li_cmp")["files"])
    mgr.compact("li_cmp", sort_by=["l_orderkey"])
    _READY[key] = {"cmp_pre_files": pre_files}
    return mgr, _READY[key]


@register(
    "q_time_travel",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{CUTOFF}'
    GROUP BY 1
    """,
    doc="Time travel by tag (≙ Iceberg VERSION AS OF 'ref', reference "
    "snapshot walk aig/PartitionValueDebugger.java:169-195): orders are "
    "committed in two append snapshots with a tag pinned at the first; "
    "the query reads THROUGH the tag and must see only the first batch — "
    "even though the live table head contains both. The oracle computes "
    "the tagged-snapshot state straight from the raw parquet. Read path "
    "is pure manifest resolution (tag file -> snapshot -> file list): no "
    "data is copied to travel, any snapshot is one pointer away — the "
    "reproducibility primitive for training-data lineage.",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_tt(spark, sf_dir)
    df = mgr.read("orders_tt", ref="pre_cutoff")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q_time_travel_sql",
    oracle=f"""
    WITH pinned AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS s
        FROM orders WHERE o_orderdate < TIMESTAMP '{CUTOFF}'
        GROUP BY 1
    ),
    head AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice
                         + CASE WHEN year(o_orderdate) = {OVERWRITE_YEAR}
                                THEN 10.0 ELSE 0.0 END), 2) AS s
        FROM orders
        GROUP BY 1
    )
    SELECT COALESCE(pinned.o_year, head.o_year) AS o_year,
           COALESCE(pinned.n, 0) AS n_asof,
           head.n AS n_head,
           COALESCE(pinned.s, 0.0) AS sum_asof,
           head.s AS sum_head
    FROM pinned FULL JOIN head ON pinned.o_year = head.o_year
    """,
    doc="Time travel specified ENTIRELY in SQL — the ``VERSION AS OF`` "
    "surface (≙ Iceberg's SQL time travel; reference snapshot walk "
    "aig/PartitionValueDebugger.java:169-195) reachable without any "
    "Python API call: two ``CREATE TEMPORARY VIEW ... USING snaptable "
    "OPTIONS (snapshot ...)`` statements mount the pinned snapshot and "
    "the live head of the SAME table, and one SQL full-outer join "
    "diffs them per order-year (the head carries a later append AND a "
    "partition overwrite, so both row counts and sums diverge — the "
    "audit-a-backfill query). The snapshot resolution, manifest "
    "pruning, and schema handling all run inside the DataSource "
    "(sources/pyds.py); ``as_of`` (TIMESTAMP AS OF) rides the same "
    "option surface (tests/test_pyds.py). The oracle reconstructs both "
    "states relationally from raw parquet.",
)
def q_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources.pyds import register_snaptable

    mgr, snaps = _setup_orders_tt(spark, sf_dir)
    register_snaptable(spark)
    wh = _warehouse(sf_dir)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ott_asof USING snaptable "
        f"OPTIONS (warehouse '{wh}', `table` 'orders_tt', "
        f"snapshot '{snaps['snap1']}')"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ott_head USING snaptable "
        f"OPTIONS (warehouse '{wh}', `table` 'orders_tt')"
    )
    return spark.sql(
        """
        WITH pinned AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS s
            FROM ott_asof GROUP BY 1
        ),
        head AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS s
            FROM ott_head GROUP BY 1
        )
        SELECT COALESCE(pinned.o_year, head.o_year) AS o_year,
               COALESCE(pinned.n, 0) AS n_asof,
               head.n AS n_head,
               COALESCE(pinned.s, 0.0) AS sum_asof,
               head.s AS sum_head
        FROM pinned FULL JOIN head ON pinned.o_year = head.o_year
        """
    )


@register(
    "q_scan_incremental",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{CUTOFF}'
    GROUP BY 1
    """,
    doc="Incremental snapshot read (≙ Iceberg incremental scan between "
    "snapshots — the CDC-lite pattern that lets a downstream job process "
    "only NEW data each run instead of rescanning the table): reads "
    "exactly the files the second append committed (manifest diff of the "
    "snapshot chain, per-file not per-row) and must see only batch 2. "
    "The oracle computes batch 2 directly from raw parquet. At 100 TB "
    "this is the nightly-pipeline contract: cost proportional to the "
    "delta, not the table.",
)
def q_scan_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, snaps = _setup_orders_tt(spark, sf_dir)
    df = mgr.read_incremental(
        "orders_tt", from_snapshot=snaps["snap1"], to_snapshot=snaps["snap2"]
    )
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q_merge_upsert",
    oracle=f"""
    WITH merged AS (
        SELECT c_custkey,
               c_mktsegment,
               CASE WHEN c_mktsegment = 'AUTOMOBILE'
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey + {MERGE_KEY_OFFSET}, 'MERGED', 0.0
        FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(bal), 2) AS total_bal
    FROM merged
    GROUP BY 1
    """,
    doc="Copy-on-write MERGE upsert (≙ Iceberg MERGE INTO, reference CoW "
    "layer tables/manager.py merge): the customer table is hidden-"
    "partitioned by segment, then one merge updates every AUTOMOBILE "
    "balance (+100) and inserts the same customers under a new MERGED "
    "segment. Partition-granular CoW: the source's partition values "
    "select only the AUTOMOBILE files for rewrite — every other segment's "
    "files survive byte-identical (asserted in tests/test_tablelayer.py). "
    "The query reads the merged table state; the oracle reconstructs that "
    "state relationally from the raw parquet.",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_customer_m(spark, sf_dir)
    df = mgr.read("customer_m")
    return df.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "q_overwrite_partition",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CASE WHEN year(o_orderdate) = {OVERWRITE_YEAR}
                          THEN o_totalprice + 10.0
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
    doc=f"Dynamic partition overwrite (≙ Iceberg dynamic overwrite / "
    f"Spark partitionOverwriteMode=dynamic — the idempotent-backfill "
    f"primitive): one commit atomically replaces EXACTLY the "
    f"{OVERWRITE_YEAR} partition of the years-partitioned orders table "
    f"with repriced rows; every other year's files survive untouched, "
    f"and the earlier tag/incremental queries still resolve their pinned "
    f"snapshots (isolation across the same chain). The oracle "
    f"reconstructs the post-backfill table state relationally from raw "
    f"parquet. At 100 TB: re-running a day's job replaces that day, "
    f"never truncates the table.",
)
def q_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_tt(spark, sf_dir)
    df = mgr.read("orders_tt")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN c_nationkey >= {EVOLVE_NATION_SPLIT}
                THEN c_mktsegment ELSE 'LEGACY' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           MIN(c_name) AS first_name,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    GROUP BY 1
    """,
    doc="Schema evolution read across heterogeneous data files (≙ Iceberg "
    "ALTER TABLE ADD/RENAME COLUMN, field-ID resolution): the table gains "
    "a c_tier column AFTER its first append (old files project NULL — "
    "surfaced as the LEGACY tier), takes a second append WITH the column, "
    "then renames c_name->c_fullname (metadata-only; the read coalesces "
    "former names so files written under the old name still resolve). "
    "The query reads head state through BOTH evolutions; the oracle "
    "reconstructs it from raw parquet. No data file is ever rewritten to "
    "evolve — the property that makes evolution free at 100 TB.",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_cust_ev(spark, sf_dir)
    df = mgr.read("cust_ev")
    return df.groupBy(
        F.coalesce("c_tier", F.lit("LEGACY")).alias("tier")
    ).agg(
        F.count("*").alias("n_cust"),
        F.min("c_fullname").alias("first_name"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "q_wap_publish",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Write-audit-publish (≙ Iceberg branching + fast_forward, the "
    "staged-ingest pattern): the error events are appended to an 'audit' "
    "branch — invisible to main — validated there, then published by "
    "fast-forwarding main to the branch head. Publication is one pointer "
    "CAS: no data moves, and a reader of main flips atomically from "
    "the pre-publish state to the full table. The query reads main AFTER "
    "publish (the oracle is the full events table); the pre-publish "
    "isolation is asserted in tests/test_tablelayer.py against the "
    "recorded base snapshot.",
)
def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_events_wap(spark, sf_dir)
    df = mgr.read("events_wap")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "q_compaction",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(l_quantity) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY 1
    """,
    doc="Sorted compaction (≙ Iceberg rewrite_data_files(strategy => "
    "'sort') — the maintenance op that keeps scan cost flat under "
    "micro-batch ingest): three fragmented appends are rewritten into "
    "order-clustered files in one REPLACE snapshot, and the query reads "
    "the post-compaction table — which must hold byte-for-byte the same "
    "rows (the oracle recomputes them from raw parquet; the file-count "
    "drop is asserted in tests/test_tablelayer.py). Sorting gives each "
    "output file a narrow key range, so min/max footer stats prune "
    "point/range scans after compaction.",
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_li_cmp(spark, sf_dir)
    df = mgr.read("li_cmp")
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "q_merge_cdc",
    oracle=f"""
    WITH merged AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 50.0 ELSE c_acctbal END AS bal
        FROM customer
        WHERE NOT (c_mktsegment = 'MACHINERY' AND c_acctbal < 0)
        UNION ALL
        SELECT c_custkey + {MERGE_KEY_OFFSET}, 'CDC_NEW', 1.0
        FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(bal), 2) AS total_bal
    FROM merged
    GROUP BY 1
    """,
    doc="CDC-apply MERGE (≙ Iceberg MERGE INTO ... WHEN MATCHED AND "
    "src.op = 'D' THEN DELETE): ONE atomic commit applies a change batch "
    "carrying updates (BUILDING balances +50), inserts (a new CDC_NEW "
    "segment), and deletes (negative-balance MACHINERY customers), "
    "routed by an op flag that is NOT a table column — the shape every "
    "Debezium/binlog-style downstream apply has. Copy-on-write stays "
    "partition-granular: delete rows contribute their partition values "
    "to file selection, so MACHINERY files are rewritten but e.g. "
    "HOUSEHOLD files survive byte-identical (tests/test_tablelayer.py). "
    "The oracle reconstructs the post-apply state relationally.",
)
def q_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_cust_cdc(spark, sf_dir)
    df = mgr.read("cust_cdc")
    return df.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "q_row_dml",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CASE WHEN year(o_orderdate) = 2000
                          THEN o_totalprice + 5.0
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    WHERE NOT (year(o_orderdate) = 1998 AND o_totalprice < 100000.0)
    GROUP BY 1
    """,
    doc="Row-level DELETE + UPDATE, copy-on-write (≙ Iceberg CoW DELETE "
    "FROM / UPDATE SET; the reference has no row-level ops at all): a "
    "predicate delete removes cheap 1998 orders and a predicate update "
    "reprices year-2000 orders, each as its own snapshot commit on the "
    "years-partitioned table. The manifest planner rewrites ONLY the "
    "files whose partition values can hold matching rows — 1998 files "
    "for the delete, 2000 files for the update; every other year's files "
    "survive byte-identical (asserted in tests/test_tablelayer.py). The "
    "oracle reconstructs the final state relationally from raw parquet. "
    "At 100 TB this is GDPR-erasure / backfill-correction cost: "
    "proportional to the touched partitions, never the table.",
)
def q_row_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_dml(spark, sf_dir)
    df = mgr.read("orders_dml")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q_meta_count",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY 1
    """,
    doc="Metadata-only aggregation (≙ Iceberg's count(*) push-down to "
    "manifests / the partitions metadata table; reference snapshot walk "
    "aig/PartitionValueDebugger.java:169-195 reads the same per-file "
    "record counts): per-year order counts answered ENTIRELY from the "
    "manifest's per-file record counts grouped by hidden partition value "
    "— zero data files opened, cost O(files) at any table size — while "
    "the oracle counts the raw rows, proving the manifest bookkeeping "
    "stayed exact through the table's whole commit history (two appends "
    "+ a dynamic partition overwrite). Only valid while no merge-on-read "
    "deletes are outstanding — a table with delete predicates must scan "
    "the dirty files (q_delete_mor's trade).",
)
def q_meta_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_tt(spark, sf_dir)
    p = mgr.partitions("orders_tt")
    return p.select(
        F.get_json_object("partition", "$.o_orderdate_years")
        .cast("int")
        .alias("o_year"),
        F.col("n_records").cast("bigint").alias("n_orders"),
    )


@register(
    "q_delete_mor",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE NOT (year(o_orderdate) = 1997 AND o_totalprice < 50000.0)
      AND NOT (o_orderpriority = '5-LOW' AND o_totalprice >= 400000.0)
    GROUP BY 1
    """,
    doc="Merge-on-read DELETE (≙ Iceberg v2 delete files, the other half "
    "of the CoW/MoR trade q_row_dml demonstrates): two stacked predicate "
    "deletes commit as PURE METADATA — zero data files rewritten "
    "(identical path sets asserted in tests/test_tablelayer.py) — and "
    "the read path applies NOT(predicate) to exactly the affected "
    "files, which is what this query exercises end-to-end against the "
    "oracle's filtered aggregate. Write cost O(1) per delete regardless "
    "of table size (the GDPR-erasure-stream trade); readers pay the "
    "filter until rewrite_deletes() folds it (only dirty files "
    "rewritten — tests/test_table_manager.py). Time travel to the "
    "pre-delete snapshot still sees every row.",
)
def q_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_mor(spark, sf_dir)
    df = mgr.read("orders_mor")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _setup_orders_eqd(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_eqd: EQUALITY deletes (≙ Iceberg v2 equality-delete files)
    — two stacked key-set deletes committed as metadata + a tiny delete
    file (ZERO data files rewritten; asserted in
    tests/test_tablelayer.py), then an append that RE-INSERTS half the
    first delete's keys — the CDC delete-then-reinsert replay, which the
    sequence semantics must keep (a delete binds only to files present
    at its commit)."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_eqd")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_eqd", orders.schema, [years("o_orderdate")])
    base = mgr.append("orders_eqd", orders)
    k1 = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") >= 350000.0)
    ).select("o_orderkey")
    mgr.delete("orders_eqd", equality=["o_orderkey"], keys=k1, mode="mor")
    k2 = (
        orders.filter(F.col("o_totalprice") < 1500.0)
        .select("o_custkey")
        .distinct()
    )
    eq_head = mgr.delete(
        "orders_eqd", equality=["o_custkey"], keys=k2, mode="mor"
    )
    readd = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") >= 350000.0)
        & (F.col("o_orderkey") % 2 == 0)
    ).withColumn("o_totalprice", F.round(F.col("o_totalprice") + F.lit(0.25), 2))
    head = mgr.append("orders_eqd", readd)
    _READY[key] = {"base": base, "eq_head": eq_head, "head": head}
    return mgr, _READY[key]


@register(
    "q_delete_mor_eq",
    oracle="""
    WITH k1 AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 350000.0
    ),
    k2 AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice < 1500.0
    ),
    survived AS (
        SELECT o_totalprice, o_orderdate FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM k1)
          AND o_custkey  NOT IN (SELECT o_custkey FROM k2)
    ),
    readded AS (
        SELECT ROUND(o_totalprice + 0.25, 2) AS o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 350000.0
          AND o_orderkey % 2 = 0
    ),
    state AS (
        SELECT * FROM survived UNION ALL SELECT * FROM readded
    )
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM state GROUP BY 1
    """,
    doc="EQUALITY-delete merge-on-read (≙ Iceberg v2 equality-delete "
    "files — the one delete class q_delete_mor's predicates can't "
    "express, and the shape a streaming CDC upsert pipeline commits "
    "daily): two stacked key-set deletes (single-column order keys, "
    "then customer keys — distinct column sets exercising the per-set "
    "anti-join grouping) land as parquet delete files recorded as "
    "table-level descriptors, with ZERO data files rewritten and no "
    "manifest entry changed (path identity asserted in "
    "tests/test_tablelayer.py). Reads apply one null-safe BROADCAST "
    "anti-join per key-column set, scoped by sequence number — at "
    "100 TB the delete file is KBs against TBs scanned. A follow-up "
    "append RE-INSERTS half the first delete's keys and survives "
    "(sequence semantics: a delete applies only to files with a lower "
    "seq, i.e. present at its commit) — delete-then-reinsert replay, which "
    "the oracle reproduces relationally. rewrite_deletes() folds key "
    "sets in and frees the delete files for snapshot-expiry GC "
    "(tests/test_table_manager.py).",
)
def q_delete_mor_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_eqd(spark, sf_dir)
    df = mgr.read("orders_eqd")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _setup_txn_tables(spark: SparkSession, sf_dir: str) -> tuple:
    """fact_txn + dim_txn: a base load of orders/customer, then a
    BACKFILL delta (new orders under NEW customer keys + the matching
    dim rows) staged and landed through ONE multi-table transaction —
    the fact-and-dims-together-or-not-at-all shape
    (manager.transaction; crash injection in tests/test_table_manager.py
    proves no partial visibility)."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "fact_txn")
    if key in _READY:
        return mgr, _READY[key]
    from iceberg_poc_spark.tables import years

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    mgr.create_table("fact_txn", orders.schema, [years("o_orderdate")])
    mgr.create_table("dim_txn", cust.schema, [])
    mgr.append("fact_txn", orders)
    mgr.append("dim_txn", cust)
    src = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1997)
    )
    delta_orders = src.select(
        (F.col("o_orderkey") + TXN_KEY_OFFSET).alias("o_orderkey"),
        (F.col("o_custkey") + TXN_CUST_OFFSET).alias("o_custkey"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderdate",
    )
    delta_cust = (
        src.select(
            (F.col("o_custkey") + TXN_CUST_OFFSET).alias("c_custkey"),
            F.concat(
                F.lit("TXN-"), (F.col("o_custkey") % 3).cast("string")
            ).alias("c_mktsegment"),
        )
        .distinct()
    )
    txn = mgr.transaction()
    txn.append("fact_txn", delta_orders)
    txn.append("dim_txn", delta_cust)
    heads = txn.commit()
    _READY[key] = {"heads": heads}
    return mgr, _READY[key]


@register(
    "q_txn_multi_table",
    oracle=f"""
    WITH src AS (
        SELECT * FROM orders
        WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997
    ),
    f AS (
        SELECT o_custkey, o_totalprice, o_orderdate FROM orders
        UNION ALL
        SELECT o_custkey + {TXN_CUST_OFFSET}, o_totalprice, o_orderdate
        FROM src
    ),
    d AS (
        SELECT c_custkey, c_mktsegment FROM customer
        UNION ALL
        SELECT DISTINCT o_custkey + {TXN_CUST_OFFSET},
               'TXN-' || CAST(o_custkey % 3 AS VARCHAR)
        FROM src
    )
    SELECT d.c_mktsegment AS segment,
           CAST(year(f.o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(f.o_totalprice), 2) AS revenue
    FROM f JOIN d ON f.o_custkey = d.c_custkey
    GROUP BY 1, 2
    """,
    doc="Multi-table ATOMIC commit (≙ Iceberg catalog multi-table "
    "transactions — the capability a per-table CAS can't give): a "
    "backfill delta of new fact rows under NEW dimension keys plus the "
    "matching dim rows lands through manager.transaction() — data files "
    "staged in parallel first, then ONE exclusive-create of the txn "
    "record as the commit point, then idempotent per-table head "
    "advances with crash repair rolled forward by the next reader of "
    "ANY involved table (no partial visibility; crash-injection pytest "
    "in tests/test_table_manager.py). The query joins fact to dim "
    "post-commit: every TXN-segment row in the result depends on BOTH "
    "tables' halves of the transaction having landed, which the oracle "
    "reproduces relationally. At 100 TB the expensive distributed "
    "writes happen before the commit point; the atomic step is "
    "metadata-only, so the consistency guarantee costs O(tables), not "
    "O(data).",
)
def q_txn_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_txn_tables(spark, sf_dir)
    f = mgr.read("fact_txn")
    d = mgr.read("dim_txn")
    return (
        f.join(F.broadcast(d), f.o_custkey == d.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _setup_txn_rb(spark: SparkSession, sf_dir: str) -> tuple:
    """fact_rb + dim_rb: base load, a BAD multi-table txn delta
    (1-URGENT/1997 under shifted keys) committed and then UNDONE with
    rollback_transaction — one rollback CAS per member table, published
    as a rollback txn record with the same crash repair as forward
    applies — then a GOOD delta (2-HIGH/1996) committed and kept. Final
    state must be base + good delta only."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "fact_rb")
    if key in _READY:
        return mgr, _READY[key]
    from iceberg_poc_spark.tables import years

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    mgr.create_table("fact_rb", orders.schema, [years("o_orderdate")])
    mgr.create_table("dim_rb", cust.schema, [])
    mgr.append("fact_rb", orders)
    mgr.append("dim_rb", cust)

    def deltas(prio: str, year: int, tag: str):
        src = orders.filter(
            (F.col("o_orderpriority") == prio)
            & (F.year("o_orderdate") == year)
        )
        d_orders = src.select(
            (F.col("o_orderkey") + TXN_KEY_OFFSET).alias("o_orderkey"),
            (F.col("o_custkey") + TXN_CUST_OFFSET).alias("o_custkey"),
            "o_orderpriority",
            "o_totalprice",
            "o_orderdate",
        )
        d_cust = src.select(
            (F.col("o_custkey") + TXN_CUST_OFFSET).alias("c_custkey"),
            F.concat(
                F.lit(tag), (F.col("o_custkey") % 3).cast("string")
            ).alias("c_mktsegment"),
        ).distinct()
        return d_orders, d_cust

    bad_o, bad_c = deltas("1-URGENT", 1997, "BAD-")
    txn = mgr.transaction()
    txn.append("fact_rb", bad_o)
    txn.append("dim_rb", bad_c)
    txn.commit()
    mgr.rollback_transaction(txn.txn_id)
    good_o, good_c = deltas("2-HIGH", 1996, "KEEP-")
    txn2 = mgr.transaction()
    txn2.append("fact_rb", good_o)
    txn2.append("dim_rb", good_c)
    heads = txn2.commit()
    _READY[key] = {"heads": heads}
    return mgr, _READY[key]


@register(
    "q_txn_rollback",
    oracle=f"""
    WITH src AS (
        SELECT * FROM orders
        WHERE o_orderpriority = '2-HIGH' AND year(o_orderdate) = 1996
    ),
    f AS (
        SELECT o_custkey, o_totalprice, o_orderdate FROM orders
        UNION ALL
        SELECT o_custkey + {TXN_CUST_OFFSET}, o_totalprice, o_orderdate
        FROM src
    ),
    d AS (
        SELECT c_custkey, c_mktsegment FROM customer
        UNION ALL
        SELECT DISTINCT o_custkey + {TXN_CUST_OFFSET},
               'KEEP-' || CAST(o_custkey % 3 AS VARCHAR)
        FROM src
    )
    SELECT d.c_mktsegment AS segment,
           CAST(year(f.o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(f.o_totalprice), 2) AS revenue
    FROM f JOIN d ON f.o_custkey = d.c_custkey
    GROUP BY 1, 2
    """,
    doc="Catalog-level multi-table ROLLBACK (the undo q_txn_multi_table "
    "lacks — ≙ what Iceberg's per-table rollback_to_snapshot cannot give "
    "a multi-table commit): a bad backfill txn lands on fact_rb+dim_rb, "
    "then rollback_transaction(txn_id) publishes ONE rollback txn record "
    "(the atomic undo point) and CASes every member table back to its "
    "pre-txn head — all or none, crash-repaired forward by the next "
    "reader of any member table (crash-injection + refuses-after-"
    "foreign-commit pytests in tests/test_table_manager.py). A second, "
    "good txn then lands and stays. The oracle reproduces base + good "
    "delta relationally: any BAD- row surviving, or any KEEP- row lost, "
    "hash-mismatches. The rollback is metadata-only — O(tables) CASes, "
    "zero data files moved — the only cost model that works at 100 TB.",
)
def q_txn_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_txn_rb(spark, sf_dir)
    f = mgr.read("fact_rb")
    d = mgr.read("dim_rb")
    return (
        f.join(F.broadcast(d), f.o_custkey == d.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


UPSERT_B1 = "2024-01-11 00:00:00"
UPSERT_B2 = "2024-01-21 00:00:00"


def _setup_users_upsert(spark: SparkSession, sf_dir: str) -> tuple:
    """users_up: three CDC batches (events split at fixed ts boundaries,
    deduped to the last event per user within each batch) applied in ts
    order through :meth:`upsert_equality` — each application is ONE
    commit carrying an equality-delete file + the batch's data files, no
    existing file rewritten (asserted in tests/test_tablelayer.py)."""
    from pyspark.sql import Window

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "users_up")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    mgr.create_table(
        "users_up",
        ev.drop("event_id").schema,
        [],
    )
    base = None
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b1 = F.lit(UPSERT_B1).cast("timestamp_ntz")
    b2 = F.lit(UPSERT_B2).cast("timestamp_ntz")
    batches = [
        ev.filter(F.col("ts") < b1),
        ev.filter((F.col("ts") >= b1) & (F.col("ts") < b2)),
        ev.filter(F.col("ts") >= b2),
    ]
    heads = []
    for batch in batches:
        last = (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "event_id")
        )
        heads.append(mgr.upsert_equality("users_up", last, ["user_id"]))
        if base is None:
            base = heads[0]
    _READY[key] = {"heads": heads}
    return mgr, _READY[key]


@register(
    "q_upsert_equality",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_type AS last_type,
           value AS last_value,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="Streaming-CDC UPSERT as one-commit merge-on-read epochs (≙ an "
    "Iceberg v2 upsert write: equality-delete file + data files under "
    "ONE snapshot — what a foreachBatch CDC sink commits per "
    "micro-batch, and the write shape q_merge_upsert's copy-on-write "
    "deliberately avoids): three batches of per-user latest events are "
    "applied in order through manager.upsert_equality, each commit "
    "atomically retiring every prior version of its keys (one "
    "table-level delete descriptor whose seq exceeds every older "
    "file's) while its OWN new rows are exempt by sequence position "
    "(same seq). ZERO existing files or manifest entries "
    "rewritten across all three epochs (path-identity asserted in "
    "tests/test_tablelayer.py); write cost per epoch is O(batch), not "
    "O(table) — the property that makes minute-level CDC ingestion "
    "affordable at 100 TB. The final read must collapse to exactly the "
    "last event per user, which the oracle computes with one window "
    "over the raw events.",
)
def q_upsert_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_users_upsert(spark, sf_dir)
    df = mgr.read("users_up")
    return df.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
    )


CD_BOUNDS = [f"2024-01-{d:02d} 00:00:00" for d in (6, 11, 16, 21, 26)]


def _setup_users_cd(spark: SparkSession, sf_dir: str) -> tuple:
    """users_cd: SIX CDC upsert epochs (5-day event slices, each the
    latest row per user in its slice), then ONE compact_deletes pass —
    the per-epoch equality-delete files merge into a single
    table-level delete file, zero data files touched."""
    from pyspark.sql import Window

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "users_cd")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    mgr.create_table("users_cd", ev.drop("event_id").schema, [])
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bs = [F.lit(b).cast("timestamp_ntz") for b in CD_BOUNDS]
    slices = (
        [ev.filter(F.col("ts") < bs[0])]
        + [
            ev.filter((F.col("ts") >= bs[i]) & (F.col("ts") < bs[i + 1]))
            for i in range(len(bs) - 1)
        ]
        + [ev.filter(F.col("ts") >= bs[-1])]
    )
    for batch in slices:
        last = (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "event_id")
        )
        mgr.upsert_equality("users_cd", last, ["user_id"])
    mgr.compact_deletes("users_cd")
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_compact_deletes",
    oracle="""
    WITH last AS (
        SELECT user_id, event_type, value FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT event_type AS last_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           MAX(value) AS max_last_value,
           MIN(value) AS min_last_value
    FROM last GROUP BY 1
    """,
    doc="SEQUENCE-SCOPED equality-delete compaction (≙ Iceberg v2's "
    "actual delete design — delete files scoped by data sequence number "
    "— and the light alternative to rewrite_deletes' full data "
    "rewrite): six upsert epochs leave six table-level delete files, "
    "each carrying its commit's seq; every data file carries its own. "
    "Reads apply ONE broadcast anti-join per key-column set — `keys "
    "match AND __del_seq > file seq` — however many epochs are "
    "outstanding. compact_deletes merges the six files into ONE "
    "carrying (keys, highest seq per key), so a read scans one delete "
    "file instead of one per epoch. Zero data files moved, one "
    "metadata commit (one merged file + unchanged values + "
    "post-compaction-epoch re-merge + superseded-file expiry asserted "
    "in tests/test_table_manager.py, which also pins the plan shape: "
    "exactly one LeftAnti before the merge and after). The "
    "post-compaction read must still collapse to exactly the last "
    "event per user, which the oracle computes with one window over "
    "raw events; a wrong seq on any file or key breaks the hash.",
)
def q_compact_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_users_cd(spark, sf_dir)
    df = mgr.read("users_cd")
    return df.groupBy(F.col("event_type").alias("last_type")).agg(
        F.count("*").alias("n_users"),
        F.max("value").alias("max_last_value"),
        F.min("value").alias("min_last_value"),
    )


TXN_EPOCH_SPLIT = "2024-01-16 00:00:00"


def _setup_txn_cdc(spark: SparkSession, sf_dir: str) -> tuple:
    """users_st + user_tot: a CDC EPOCH across two tables — the latest
    user state AND the per-user running totals derived from the same
    event batch — staged as two transaction upserts and landed with ONE
    atomic publish (Transaction.upsert): a reader joining state to
    totals can never see a half-applied epoch."""
    from pyspark.sql import Window

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "users_st")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    split = F.lit(TXN_EPOCH_SPLIT).cast("timestamp_ntz")
    b1, b2 = ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(batch):
        return (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "ts")
        )

    def totals(batch):
        return batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.max("value").alias("max_value"),
        )

    st1, tot1 = latest(b1), totals(b1)
    mgr.create_table("users_st", st1.schema, [])
    mgr.create_table("user_tot", tot1.schema, [])
    mgr.upsert_equality("users_st", st1, ["user_id"])
    mgr.upsert_equality("user_tot", tot1, ["user_id"])
    # the epoch: batch2's state and totals land together or not at all
    cur = mgr.read("user_tot").select(
        F.col("user_id"),
        F.col("n_events").alias("n_old"),
        F.col("max_value").alias("mx_old"),
    )
    tot2 = (
        totals(b2)
        .join(cur, "user_id", "left")
        .select(
            "user_id",
            (F.col("n_events") + F.coalesce(F.col("n_old"), F.lit(0))).alias(
                "n_events"
            ),
            F.greatest(
                F.col("max_value"),
                F.coalesce(F.col("mx_old"), F.col("max_value")),
            ).alias("max_value"),
        )
    )
    txn = mgr.transaction()
    txn.upsert("users_st", latest(b2), ["user_id"])
    txn.upsert("user_tot", tot2, ["user_id"])
    heads = txn.commit()
    _READY[key] = {"heads": heads}
    return mgr, _READY[key]


@register(
    "q_txn_cdc_epoch",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ),
    tot AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(value) AS max_value
        FROM events GROUP BY 1
    )
    SELECT CAST(l.user_id AS BIGINT) AS user_id,
           l.event_type AS last_type,
           t.n_events,
           t.max_value
    FROM latest l JOIN tot t USING (user_id)
    """,
    doc="Atomic CDC EPOCH across two tables — Transaction.upsert "
    "composing the round's two commit primitives (multi-table publish + "
    "one-commit merge-on-read upsert): the per-user latest state AND "
    "the per-user running totals derived from the same event batch are "
    "staged as two equality-delete upsert epochs and landed with ONE "
    "txn-record publish, so a reader joining state to totals can never "
    "observe state-new/totals-old (crash injection + read-repair in "
    "tests/test_table_manager.py). The delete takes its sequence "
    "number at APPLY time against the then-current head — concurrent "
    "commits that win in between correctly fall under the delete, "
    "Iceberg sequence-order semantics. The oracle recomputes both tables' "
    "final states from raw events and joins them; any torn epoch, "
    "lost key, or double-applied delta breaks the hash. At 100 TB "
    "each epoch costs O(batch) writes + one metadata publish.",
)
def q_txn_cdc_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_txn_cdc(spark, sf_dir)
    st = mgr.read("users_st")
    tot = mgr.read("user_tot")
    return st.join(tot, "user_id").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_type").alias("last_type"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("max_value"),
    )


def _setup_orders_mc(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_mc: year-partitioned orders with ONE partition-bounded MoR
    delete (1997 cheap orders) — exactly one year's files carry the
    delete, every other year stays metadata-countable. A vacuous split
    (all files dirty) is asserted against in tests/test_tablelayer.py."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_mc")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_mc", orders.schema, [years("o_orderdate")])
    base = mgr.append("orders_mc", orders)
    head = mgr.delete(
        "orders_mc",
        where=[
            ("o_orderdate", ">=", "1997-01-01 00:00:00"),
            ("o_orderdate", "<", "1998-01-01 00:00:00"),
            ("o_totalprice", "<", 50000.0),
        ],
        mode="mor",
    )
    _READY[key] = {"base": base, "head": head}
    return mgr, _READY[key]


@register(
    "q_meta_count_mor",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE NOT (year(o_orderdate) = 1997 AND o_totalprice < 50000.0)
    GROUP BY 1
    """,
    doc="Metadata count UNDER outstanding merge-on-read deletes — the "
    "case q_meta_count's pure-manifest answer disclaims: per-year "
    "counts over a table carrying a partition-bounded MoR delete, "
    "computed as manifest record counts for every CLEAN file plus a "
    "real post-delete scan of ONLY the delete-dirty files. Which files "
    "a delete may touch comes from the manager's one owner of the "
    "delete format (file_deletes: predicate deletes on the entry, "
    "equality deletes with a higher seq whose key bounds may match the "
    "file, deletion vectors naming the file) — here: the 1997 partition; the only-dirty-year split is "
    "asserted in tests/test_tablelayer.py, so the metadata half is "
    "provably doing the work for the other years. Cost is O(files) "
    "metadata + O(dirty data) — at 100 TB with a GDPR erasure stream "
    "touching one partition, the count never rescans the other 99.9% "
    "(the exactness-with-deletes trick Iceberg's count(*) planning "
    "uses). The oracle recomputes post-delete counts from raw parquet, "
    "so a clean file misclassified as dirty (or a dirty file's deletes "
    "skipped) breaks the hash.",
)
def q_meta_count_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_mc(spark, sf_dir)
    m = mgr._load_manifest("orders_mc")
    deletes = mgr.file_deletes("orders_mc", m)
    clean = [e for e in m["files"] if not deletes[e["path"]].dirty]
    dirty = [e for e in m["files"] if deletes[e["path"]].dirty]
    # clean half: pure manifest arithmetic (no file opened)
    meta_rows = [
        (int(e["partition"]["o_orderdate_years"]), int(e["records"]))
        for e in clean
    ]
    meta = spark.createDataFrame(
        meta_rows, "o_year int, n long"
    ).groupBy("o_year").agg(F.sum("n").alias("n"))
    # dirty half: scan ONLY the delete-carrying files, post-delete view
    scanned = (
        mgr._read_files("orders_mc", m, dirty)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.count("*").alias("n"))
    )
    return (
        meta.unionByName(scanned)
        .groupBy("o_year")
        .agg(F.sum("n").cast("bigint").alias("n_orders"))
    )


@register(
    "q_snapshot_expiry",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Snapshot expiry + orphan-file GC (≙ Iceberg expire_snapshots + "
    "remove_orphan_files — the maintenance loop that stops metadata and "
    "storage growing without bound under streaming ingest): three "
    "fragment appends and a compaction leave dead pre-compaction files "
    "behind; expire_snapshots(keep_last=1) deletes the expired manifests "
    "AND every data file no surviving snapshot references. The query "
    "then reads the table THROUGH the post-GC head — if expiry had "
    "reaped a live file the read loses rows and the hash breaks; the "
    "oracle is the full events aggregate. That snapshots/files were "
    "actually removed (and that tagged history survives expiry) is "
    "asserted in tests/test_table_manager.py and tests/test_tablelayer."
    "py.",
)
def q_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_ev_exp(spark, sf_dir)
    df = mgr.read("ev_exp")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "q_type_widening",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1
    """,
    doc="Type widening read across heterogeneous file generations (≙ "
    "Iceberg ALTER COLUMN TYPE int->long / float->double, the only "
    "promotions that are value-preserving): generation-1 files hold "
    "narrow int/float values, the widen commits are metadata-only (zero "
    "files rewritten), generation 2 lands wide; the read up-casts old "
    "files through the table schema so both generations aggregate as one "
    "long/double column. The oracle aggregates the raw parquet — any "
    "value corrupted by the promotion (or a disallowed narrowing slipped "
    "through: manager.widen_column rejects those) breaks count, quantity "
    "sum, and key sum. Quantities are integral so the float generation "
    "is exact by construction.",
)
def q_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_li_w(spark, sf_dir)
    df = mgr.read("li_w")
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_okey"),
    )


@register(
    "q_partition_evolution",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{PE_DATE_LO}'
      AND o_orderpriority = '{PE_PRIORITY}'
    GROUP BY 1
    """,
    doc="Partition-spec evolution read (≙ ALTER TABLE ADD PARTITION "
    "FIELD, aig/TimeBasedPartitioningExamples.java:211-223): generation-1 "
    "files were written under years(o_orderdate) only; the spec then "
    "gained identity(o_orderpriority) — a metadata-only commit, zero "
    "files rewritten — and generation 2 landed under the two-level "
    "layout. The probe filters on BOTH dimensions and scans through the "
    "manifest planner: the date bound prunes files of EITHER generation "
    "by their years partition value, the priority bound prunes "
    "generation-2 files by their identity partition value (generation-1 "
    "files lack that value and are conservatively kept, finished by the "
    "row-level residual). Per-generation planned-file assertions live in "
    "tests/test_tablelayer.py. The oracle reconstructs the same filtered "
    "state from raw parquet. At 100 TB this is how a table re-partitions "
    "as query patterns change — without rewriting history.",
)
def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_pe(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "orders_pe",
        where=[
            ("o_orderdate", ">=", PE_DATE_LO),
            ("o_orderpriority", "==", PE_PRIORITY),
        ],
    )
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ------------------------------------------------------------- CDC read

CHG_BASE_MAX_YEAR = 1997  # base load: 1995..1997
CHG_APPEND_YEAR = 1998  # second commit appends this year
CHG_OVR_YEAR = 1996  # third commit overwrites this year's partition
CHG_PRIORITY = "1-URGENT"  # rows repriced in the overwrite / MoR-deleted


def _setup_orders_chg(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_chg: base append (1995-1997), append 1998, a partition
    overwrite that reprices ONLY the urgent rows of 1996 (the untouched
    rows of that partition are rewritten carry-overs the changelog must
    cancel), and a merge-on-read delete of 1997 urgent rows (a pure
    metadata commit the changelog must still surface as deletes)."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_chg")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_chg", orders.schema, [years("o_orderdate")])
    base = mgr.append(
        "orders_chg", orders.filter(F.year("o_orderdate") <= CHG_BASE_MAX_YEAR)
    )
    mgr.append(
        "orders_chg", orders.filter(F.year("o_orderdate") == CHG_APPEND_YEAR)
    )
    ovr = orders.filter(F.year("o_orderdate") == CHG_OVR_YEAR).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == CHG_PRIORITY,
            F.col("o_totalprice") + F.lit(10.0),
        ).otherwise(F.col("o_totalprice")),
    )
    mgr.overwrite_partitions("orders_chg", ovr)
    mgr.delete(
        "orders_chg",
        where=[
            ("o_orderdate", ">=", f"{CHG_BASE_MAX_YEAR}-01-01 00:00:00"),
            ("o_orderdate", "<", f"{CHG_BASE_MAX_YEAR + 1}-01-01 00:00:00"),
            ("o_orderpriority", "==", CHG_PRIORITY),
        ],
        mode="mor",
    )
    _READY[key] = {"base": base}
    return mgr, _READY[key]


@register(
    "q_cdc_read",
    oracle=f"""
    WITH chg AS (
        SELECT 'insert' AS change_type, o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_APPEND_YEAR}
        UNION ALL
        SELECT 'insert', o_orderdate, o_totalprice + 10
        FROM orders WHERE year(o_orderdate) = {CHG_OVR_YEAR}
                      AND o_orderpriority = '{CHG_PRIORITY}'
        UNION ALL
        SELECT 'delete', o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_OVR_YEAR}
                      AND o_orderpriority = '{CHG_PRIORITY}'
        UNION ALL
        SELECT 'delete', o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_BASE_MAX_YEAR}
                      AND o_orderpriority = '{CHG_PRIORITY}'
    )
    SELECT change_type,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM chg
    GROUP BY 1, 2
    """,
    doc="Row-level change stream between snapshots (≙ Iceberg "
    "create_changelog_view / Delta change data feed) read from the "
    "manifest file diff — NEVER a full-table diff: each commit "
    "contributes only the files it touched. The range spans an append "
    "(pure inserts), a partition overwrite that repriced only the "
    f"urgent rows of {CHG_OVR_YEAR} (its untouched same-partition rows "
    "are rewritten carry-overs, cancelled exceptAll-wise within the "
    "affected files — Iceberg's carry-over removal), and a merge-on-read "
    "delete (zero files moved; the newly-attached predicate is evaluated "
    "against the parent-visible file content to emit the delete rows). "
    "The oracle reconstructs the expected +/- stream from raw parquet. "
    "At 100 TB this is the downstream-sync primitive: a consumer applies "
    "per-commit deltas proportional to what changed, not to table size.",
)
def q_cdc_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, snaps = _setup_orders_chg(spark, sf_dir)
    chg = mgr.changelog("orders_chg", from_snapshot=snaps["base"])
    return chg.groupBy(
        F.col("_change_type").alias("change_type"),
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ----------------------------------------------- WAP branch diff (CDC)

WAPD_BASE_MAX_YEAR = 1995  # base load on main: years <= 1995
WAPD_APPEND_YEAR = 1996  # audit-branch commit 1: appends this year
WAPD_OVR_YEAR = 1995  # audit-branch commit 2: overwrites this partition
WAPD_PRIORITY = "1-URGENT"  # rows repriced in the branch overwrite


def _setup_orders_wapd(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_wapd: base load on MAIN (years <= 1995), then an audit
    branch carrying the unpublished backfill — an append of 1996 and a
    partition overwrite repricing only the urgent rows of 1995 (the
    other 1995 rows are rewritten carry-overs the diff must cancel).
    Main never moves: the branch is the staged, reviewable state."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_wapd")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_wapd", orders.schema, [years("o_orderdate")])
    base = mgr.append(
        "orders_wapd",
        orders.filter(F.year("o_orderdate") <= WAPD_BASE_MAX_YEAR),
    )
    mgr.create_branch("orders_wapd", "audit")
    mgr.append(
        "orders_wapd",
        orders.filter(F.year("o_orderdate") == WAPD_APPEND_YEAR),
        ref="audit",
    )
    ovr = orders.filter(F.year("o_orderdate") == WAPD_OVR_YEAR).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == WAPD_PRIORITY,
            F.col("o_totalprice") + F.lit(10.0),
        ).otherwise(F.col("o_totalprice")),
    )
    mgr.overwrite_partitions("orders_wapd", ovr, ref="audit")
    _READY[key] = {"base": base}
    return mgr, _READY[key]


@register(
    "q_cdc_branch_diff",
    oracle=f"""
    WITH chg AS (
        SELECT 'insert' AS change_type, o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {WAPD_APPEND_YEAR}
        UNION ALL
        SELECT 'insert', o_orderdate, o_totalprice + 10
        FROM orders WHERE year(o_orderdate) = {WAPD_OVR_YEAR}
                      AND o_orderpriority = '{WAPD_PRIORITY}'
        UNION ALL
        SELECT 'delete', o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {WAPD_OVR_YEAR}
                      AND o_orderpriority = '{WAPD_PRIORITY}'
    )
    SELECT change_type,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM chg
    GROUP BY 1, 2
    """,
    doc="Cross-ref changelog — the write-audit-publish REVIEW step: "
    "diff the audit branch against main BEFORE fast_forward ('what "
    "would publishing change?'), over a staged backfill holding an "
    f"append ({WAPD_APPEND_YEAR}) and a partition overwrite that "
    f"repriced only the urgent rows of {WAPD_OVR_YEAR} (its untouched "
    "same-partition rows are rewritten carry-overs, cancelled "
    "exceptAll-wise within the affected files). Main's head must be an "
    "ancestor of the branch head — the fast_forward precondition — so "
    "the diff is exactly what a publish makes visible; applying it to "
    "main reproduces the branch head row-for-row (the fast-forward-"
    "equivalence invariant, pytest in tests/test_table_manager.py). "
    "The oracle reconstructs the expected +/- stream from raw parquet. "
    "At 100 TB this is the data-platform review gate: the diff costs "
    "O(branch commits' touched files), never a two-table comparison.",
)
def q_cdc_branch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_wapd(spark, sf_dir)
    chg = mgr.diff_refs("orders_wapd", to_ref="audit")
    return chg.groupBy(
        F.col("_change_type").alias("change_type"),
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --------------------------------------- incremental materialized view

MV_BATCH_YEARS = (1996, 1998, 2001)  # upper bound (inclusive) per batch


def _setup_sales_mv(spark: SparkSession, sf_dir: str) -> tuple:
    """sales_base + sales_mv: the base table lands in three appends; after
    each, ONLY the delta (read_incremental) is aggregated and merged into
    the MV — the standard incremental-view-maintenance loop. Totals are
    kept in exact integer cents so incremental accumulation is
    bit-identical to a full recompute."""
    from iceberg_poc_spark.tables import identity, years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "sales_mv")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )

    def agg_cents(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )

    mgr.create_table("sales_base", orders.schema, [years("o_orderdate")])
    mv_schema = agg_cents(orders.limit(0)).schema
    mgr.create_table("sales_mv", mv_schema, [identity("o_orderpriority")])
    last = None
    lo = None
    for hi in MV_BATCH_YEARS:
        batch = orders.filter(F.year("o_orderdate") <= hi)
        if lo is not None:
            batch = batch.filter(F.year("o_orderdate") > lo)
        head = mgr.append("sales_base", batch)
        delta = (
            mgr.read_incremental("sales_base", last, head)
            if last is not None
            else mgr.read("sales_base")
        )
        mv_new = agg_cents(delta)
        if last is not None:
            mv_new = (
                mgr.read("sales_mv")
                .unionByName(mv_new)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_orders").alias("n_orders"),
                    F.sum("total_cents").alias("total_cents"),
                )
            )
        mgr.merge("sales_mv", mv_new, on=["o_orderpriority"])
        last, lo = head, hi
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_mv_incremental",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1
    """,
    doc="Incremental materialized-view maintenance: the base table lands "
    "in three append commits; after each, ONLY the new snapshot delta "
    "(read_incremental — file-level, never a rescan of the base) is "
    "aggregated and merged into the per-priority MV table, which this "
    "query then reads back. The oracle is the FULL aggregate over the "
    "final base state — the MV must be indistinguishable from a "
    "recompute while having read each base row exactly once. Totals "
    "accumulate in exact integer cents, so incremental and full sums "
    "are bit-identical (no float-order drift across batches). At 100 TB "
    "this is the nightly-rollup pattern: maintenance cost tracks the "
    "delta, not the table.",
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_sales_mv(spark, sf_dir)
    return mgr.read("sales_mv").select("o_orderpriority", "n_orders", "total_cents")


# ------------------------------------------------------ Z-order pruning

Z_UID_LO, Z_UID_HI = 30, 59  # ~20% of the 0..149 user range
Z_TS_LO, Z_TS_HI = "2024-01-05 00:00:00", "2024-01-10 00:00:00"


def _setup_ev_z(spark: SparkSession, sf_dir: str) -> tuple:
    """ev_z: events landed unpartitioned, then Z-order-compacted on
    (user_id, ts) into many small files so BOTH dimensions get narrow
    per-file min/max stats."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "ev_z")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mgr.create_table("ev_z", ev.schema, [])
    mgr.append("ev_z", ev)
    m = mgr._load_manifest("ev_z")
    total_bytes = sum(e["bytes"] for e in m["files"])
    # ~16 output files regardless of SF: enough stats granularity for
    # pruning to be visible, never a small-file explosion
    mgr.compact("ev_z", target_bytes=max(1, total_bytes // 16),
                zorder=["user_id", "ts"])
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_zorder_prune",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE user_id >= {Z_UID_LO} AND user_id <= {Z_UID_HI}
    GROUP BY 1
    """,
    doc="Z-order file skipping (≙ rewrite_data_files(strategy => 'sort', "
    "sort_order => 'zorder(user_id, ts)')): events are compacted along "
    "the interleaved-bits space-filling curve built from manifest stats "
    "(tables/manager.py:_zvalue — pure JVM shift/and/or, no extra data "
    "pass), so EVERY listed dimension gets narrow per-file min/max "
    "ranges simultaneously. This probe filters on user_id ALONE — the "
    "dimension a linear sort on ts would spread across every file — and "
    "the manifest planner skips the files whose user_id range misses "
    "(planned < total asserted for BOTH dimensions independently in "
    "tests/test_tablelayer.py). The oracle filters raw parquet. At "
    "100 TB this is how a second/third filter dimension gets pruning "
    "without a second copy of the data.",
)
def q_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_ev_z(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "ev_z", where=[("user_id", ">=", Z_UID_LO), ("user_id", "<=", Z_UID_HI)]
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# -------------------------------------------------- branch + cherry-pick

CP_BASE_MAX_YEAR = 1997  # main's base load
CP_PICK_YEAR = 1998  # the one audited batch that ships
CP_HOLD_YEAR = 1999  # stays on the audit branch


def _setup_orders_cp(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_cp: base on main, an audit branch carrying TWO staged
    appends, then cherry-pick of only the first onto main — the selective
    WAP publish (ship one audited batch, hold the other)."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_cp")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_cp", orders.schema, [years("o_orderdate")])
    mgr.append(
        "orders_cp", orders.filter(F.year("o_orderdate") <= CP_BASE_MAX_YEAR)
    )
    mgr.create_branch("orders_cp", "audit")
    picked = mgr.append(
        "orders_cp",
        orders.filter(F.year("o_orderdate") == CP_PICK_YEAR),
        ref="audit",
    )
    mgr.append(
        "orders_cp",
        orders.filter(F.year("o_orderdate") == CP_HOLD_YEAR),
        ref="audit",
    )
    mgr.cherry_pick("orders_cp", picked)
    _READY[key] = {"picked": picked}
    return mgr, _READY[key]


@register(
    "q_branch_cherry_pick",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE year(o_orderdate) <= {CP_PICK_YEAR}
    GROUP BY 1
    """,
    doc="Selective write-audit-publish via cherry-pick (≙ Iceberg "
    "cherrypick_snapshot — the OTHER publish path next to q_wap_publish's "
    "fast-forward): two batches land on an audit branch; only the first "
    f"(year {CP_PICK_YEAR}) passes audit and is cherry-picked onto main "
    "— a metadata-only re-application of that snapshot's added files "
    f"with a double-publish guard — while year {CP_HOLD_YEAR} stays "
    "staged. The query reads MAIN, which must contain exactly "
    "base + the picked batch; the held batch leaking onto main breaks "
    "the oracle hash. Branch isolation both ways is asserted in "
    "tests/test_tablelayer.py. At 100 TB this is per-batch quality "
    "gating: audit N ingest commits, ship the good ones individually, "
    "zero data rewritten either way.",
)
def q_branch_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_cp(spark, sf_dir)
    df = mgr.read("orders_cp")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q_mv_from_changelog",
    oracle=f"""
    WITH final AS (
        SELECT o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_BASE_MAX_YEAR - 2}
        UNION ALL
        SELECT o_orderdate,
               o_totalprice + CASE WHEN o_orderpriority = '{CHG_PRIORITY}'
                                   THEN 10 ELSE 0 END
        FROM orders WHERE year(o_orderdate) = {CHG_OVR_YEAR}
        UNION ALL
        SELECT o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_BASE_MAX_YEAR}
                      AND o_orderpriority <> '{CHG_PRIORITY}'
        UNION ALL
        SELECT o_orderdate, o_totalprice
        FROM orders WHERE year(o_orderdate) = {CHG_APPEND_YEAR}
    )
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM final
    GROUP BY 1
    """,
    doc="Incremental view maintenance from the CHANGELOG — the general "
    "IVM form that q_mv_incremental's append-only delta loop can't "
    "cover: the per-year MV state is the base snapshot's aggregate plus "
    "SIGNED changelog deltas (+count/+cents per insert row, -count/"
    "-cents per delete row), so copy-on-write overwrites and "
    "merge-on-read deletes maintain the view without rescanning the "
    "base — an update is its delete+insert pair and nets out exactly. "
    "The oracle recomputes the FINAL table state closed-form from raw "
    "parquet and aggregates it: the base-plus-deltas result must be "
    "indistinguishable from a full recompute across an append, a "
    "partial partition overwrite, and a MoR delete. Integer-cents "
    "totals keep the signed accumulation exact. At 100 TB this is how "
    "a rollup stays fresh under GDPR deletes and backfills, at cost "
    "proportional to the change stream.",
)
def q_mv_from_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, snaps = _setup_orders_chg(spark, sf_dir)
    yr = F.year("o_orderdate").cast("int").alias("o_year")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = mgr.read("orders_chg", snapshot_id=snaps["base"]).groupBy(yr).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents).alias("total_cents"),
    )
    sgn = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = (
        mgr.changelog("orders_chg", from_snapshot=snaps["base"])
        .groupBy(yr)
        .agg(
            F.sum(sgn).cast("long").alias("n_orders"),
            F.sum(sgn * cents).alias("total_cents"),
        )
    )
    return (
        base.unionByName(delta)
        .groupBy("o_year")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )


@register(
    "q_scan_pyds",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{CUTOFF}'
    GROUP BY 1
    """,
    doc="The snapshot table read through Spark's Python DataSource API "
    "behind the differential gate: spark.read.format('snaptable') "
    "resolves the tag through the SAME manifest machinery as "
    "manager.read, pushes the date filter into the reader "
    "(pushFilters -> per-file Arrow batches, manifest-pruned before "
    "any file opens), and hands Spark one partition per surviving "
    "file. This is the third access path to the table layer "
    "(manager.read, SQL via temp views, and now the DataSource V2 "
    "reader) — a user can mount the table into any Spark pipeline "
    "with .format(); the oracle recomputes the tagged state from raw "
    "parquet. Streaming reads from the same source are covered in "
    "tests/test_pyds.py.",
)
def q_scan_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources.pyds import register_snaptable

    mgr, _snaps = _setup_orders_tt(spark, sf_dir)
    register_snaptable(spark)
    df = (
        spark.read.format("snaptable")
        .option("warehouse", _warehouse(sf_dir))
        .option("table", "orders_tt")
        .option("ref", "pre_cutoff")
        .load()
    )
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# -------------------------------------------------- rollback + targeted compaction

RB_BAD_FACTOR = 100.0  # the corrupted load multiplies prices by this
EV_CP_SPLIT = "2024-01-25 00:00:00"  # streaming-tail fragmentation starts here


def _setup_orders_rb(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_rb: good batch1 -> corrupted batch2 (prices x100) ->
    ``rollback`` to batch1 -> corrected batch3. The head must equal
    batch1+batch3 exactly; the bad snapshot stays in history as an
    unreferenced ancestor (still time-travelable until expiry)."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_rb")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CUTOFF).cast("timestamp_ntz")
    tail = orders.filter(F.col("o_orderdate") >= cutoff)
    mgr.create_table("orders_rb", orders.schema, [years("o_orderdate")])
    good = mgr.append("orders_rb", orders.filter(F.col("o_orderdate") < cutoff))
    bad = mgr.append(
        "orders_rb",
        tail.withColumn("o_totalprice", F.col("o_totalprice") * F.lit(RB_BAD_FACTOR)),
    )
    mgr.rollback("orders_rb", good)
    mgr.append("orders_rb", tail)
    _READY[key] = {"good": good, "bad": bad}
    return mgr, _READY[key]


@register(
    "q_rollback",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
    doc="Snapshot rollback (≙ Iceberg rollback_to_snapshot — the recovery "
    "primitive the reference's atomic-commit design exists to enable, "
    "BulkParquetToIcebergAtomicMultipart.java:97-101): a corrupted load "
    "(every price x100) lands as a normal commit, rollback moves the head "
    "pointer back to the last good snapshot (metadata-only, no data "
    "rewritten), and the corrected batch re-lands on top. The head read "
    "must equal good+corrected exactly — the oracle computes that state "
    "from raw parquet, so surviving ANY corrupted row inflates totals "
    "100x and fails the hash. History keeps the bad snapshot as an "
    "unreferenced ancestor for forensics (asserted in "
    "tests/test_tablelayer.py). At 100 TB rollback is one pointer CAS.",
)
def q_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_rb(spark, sf_dir)
    df = mgr.read("orders_rb")
    return df.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _setup_ev_cp(spark: SparkSession, sf_dir: str) -> tuple:
    """ev_cp: bulk history (one append => one file per day partition) +
    four micro-appends over the tail days (=> 4 small files in each) —
    the fragmentation profile streaming ingest leaves. Targeted
    compaction rewrites ONLY the fragmented tail partitions."""
    from iceberg_poc_spark.tables import days

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "ev_cp")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    split = F.lit(EV_CP_SPLIT).cast("timestamp_ntz")
    mgr.create_table("ev_cp", ev.schema, [days("ts")])
    mgr.append("ev_cp", ev.filter(F.col("ts") < split))
    for k in range(4):
        mgr.append(
            "ev_cp",
            ev.filter((F.col("ts") >= split) & (F.col("event_id") % 4 == k)),
        )
    res = mgr.compact_partitions("ev_cp", min_files=2)
    _READY[key] = {"rewritten": res["rewritten"], "added": res["added"]}
    return mgr, _READY[key]


@register(
    "q_compaction_targeted",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="Targeted partition compaction (≙ Iceberg rewrite_data_files with "
    "a partition filter — the ONLY maintenance shape that stays viable at "
    "100 TB, where a full-table rewrite is off the table): "
    "manager.compact_partitions rewrites exactly the day-partitions "
    "fragmented by micro-appends (>=2 files, any under the small-file "
    "threshold) and leaves the bulk history's files byte-identical — "
    "untouched-partition file identity and tail file-count collapse are "
    "asserted in tests/test_tablelayer.py. The read-back must hold every "
    "row exactly (oracle recomputes from raw parquet): compaction is a "
    "data-equivalent REPLACE snapshot.",
)
def q_compaction_targeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_ev_cp(spark, sf_dir)
    df = mgr.read("ev_cp")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


BLM_SLICES = 8
BLM_LOOKUP_IDS = [11, 23, 42]  # present at every sf; three distinct slices


def _setup_docs_blm(spark: SparkSession, sf_dir: str) -> tuple:
    """docs_blm: documents bloom-indexed on doc_id, landed as 8 appends
    sliced by doc_id % 8 — every file's doc_id [min, max] spans nearly the
    whole id range, so column STATS cannot prune a point lookup and the
    table has no partition or bucket on doc_id either: the per-file Bloom
    filter is the only thing standing between a point read and a full
    scan (the honest setup; a clustered table would let stats do it)."""
    from iceberg_poc_spark.tables.manager import (
        BLOOM_BITS_PROP,
        BLOOM_COLS_PROP,
    )

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_blm")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents")
    mgr.create_table("docs_blm", docs.schema, [])
    mgr.set_properties(
        "docs_blm", {BLOOM_COLS_PROP: "doc_id", BLOOM_BITS_PROP: "65536"}
    )
    for k in range(BLM_SLICES):
        mgr.append("docs_blm", docs.filter(F.col("doc_id") % BLM_SLICES == k))
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_point_lookup_bloom",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    WHERE doc_id IN ({", ".join(str(i) for i in BLM_LOOKUP_IDS)})
    """,
    doc="Point lookup through a per-file Bloom index (≙ Iceberg's "
    "write.parquet.bloom-filter-enabled.column.X / Puffin index blobs): "
    "docs_blm is deliberately hostile to every other pruning path — "
    "unpartitioned, unbucketed, and id-interleaved so each file's "
    "doc_id min/max spans the whole range — yet manager.scan plans only "
    "the files whose Bloom filter admits one of the three looked-up ids "
    "(definite-absence skips the rest at the MANIFEST; files are never "
    "opened). tests/test_tablelayer.py asserts planned <= files holding "
    "the ids (+ fp slack) out of all data files, and that a lookup of an "
    "absent id plans ZERO files. This is what makes 'fetch document N' "
    "a handful-of-files read on a 100 TB corpus without burning the "
    "partition spec on the lookup key; filter cost is 8 KiB per file in "
    "the manifest, built by the writer (stand-in reads back only the "
    "indexed column per staged file — see tables/manager.py "
    "_write_files).",
)
def q_point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_docs_blm(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "docs_blm", where=[("doc_id", "in", BLM_LOOKUP_IDS)]
    )
    return df.select("doc_id", "text", "lang", "source", "n_chars")


CONS_BAD_MOD = 7  # doc_id % 7 == 3 rows get corrupted in the rejected batch


def _setup_docs_cons(spark: SparkSession, sf_dir: str) -> tuple:
    """docs_cons: CHECK-constrained documents table. Clean half lands;
    a corrupted second half (negative n_chars, nulled lang on some rows)
    is REJECTED atomically by the write-time gate — the setup insists the
    rejection actually raises and that the head did not move — then the
    clean second half lands. Final state must equal the raw corpus."""
    from iceberg_poc_spark.tables.manager import (
        CONSTRAINT_PROP_PREFIX,
        ConstraintViolation,
    )

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_cons")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents")
    mgr.create_table("docs_cons", docs.schema, [])
    mgr.set_properties(
        "docs_cons",
        {
            CONSTRAINT_PROP_PREFIX + "len_nonneg": "n_chars >= 0",
            CONSTRAINT_PROP_PREFIX + "lang_present": "lang IS NOT NULL",
        },
    )
    mgr.append("docs_cons", docs.filter(F.col("doc_id") % 2 == 0))
    v_before = mgr._current_version("docs_cons")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    bad_row = F.col("doc_id") % CONS_BAD_MOD == 3
    corrupted = odd.select(
        "doc_id",
        "text",
        F.when(bad_row, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        "source",
        F.when(bad_row, -(F.col("n_chars") + 1))
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    try:
        mgr.append("docs_cons", corrupted)
    except ConstraintViolation:
        pass
    else:  # pragma: no cover - gate regression must fail the query loudly
        raise RuntimeError("constraint gate let a corrupted batch commit")
    if mgr._current_version("docs_cons") != v_before:
        raise RuntimeError("rejected batch moved the table head")
    mgr.append("docs_cons", odd)
    _READY[key] = {"v_before": v_before}
    return mgr, _READY[key]


@register(
    "q_write_constraints",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    doc="Write-time CHECK constraints (≙ Delta Lake table constraints / "
    "the validate-before-commit half of Iceberg's WAP pattern, here "
    "enforced in the writer itself): docs_cons carries "
    "constraints.check.* properties (n_chars >= 0, lang IS NOT NULL); a "
    "batch with corrupted rows is rejected ATOMICALLY — the setup "
    "asserts the rejection raises and the snapshot head does not move, "
    "and tests/test_tablelayer.py additionally asserts no orphan files "
    "appear under data/ — then the clean batch lands. The final table "
    "must equal the raw corpus exactly (oracle aggregates raw "
    "documents): a gate that dropped rows, half-applied a batch, or "
    "leaked the corrupted append would all diverge. Enforcement is one "
    "map-side pass over the incoming batch (partial violation counts, "
    "no shuffle, never a table scan) — O(batch) at any table size, the "
    "only viable place for a quality gate at 100 TB ingest volume.",
)
def q_write_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_docs_cons(spark, sf_dir)
    df = mgr.read("docs_cons")
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


PD_DUP_MOD = 5  # event_id % 5 == 0 rows get committed twice


def _setup_ev_pd(spark: SparkSession, sf_dir: str) -> tuple:
    """ev_pd: events committed once in full, then a partial batch
    RE-COMMITTED (the double-delivery accident), leaving physically
    identical duplicate rows. The repair is a POSITIONAL delete: an audit
    read with (_file_name, _pos) coordinates picks every copy after the
    first per event_id, and delete_positions retires exactly those rows
    — the one delete class that can separate identical twins (a
    predicate or key set would kill both copies)."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "ev_pd")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    mgr.create_table("ev_pd", ev.schema, [])
    mgr.append("ev_pd", ev)
    mgr.append("ev_pd", ev.filter(F.col("event_id") % PD_DUP_MOD == 0))
    n_dup = mgr.read("ev_pd").count()
    rp = mgr.read_with_positions("ev_pd")
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy("_file_name", "_pos")
    extras = (
        rp.select("event_id", "_file_name", "_pos")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("_file_name", "_pos")
    )
    snap_dup = mgr._current_version("ev_pd")
    snap_fixed = mgr.delete_positions("ev_pd", extras)
    _READY[key] = {
        "n_dup": n_dup,
        "snap_dup": snap_dup,
        "snap_fixed": snap_fixed,
    }
    return mgr, _READY[key]


@register(
    "q_delete_mor_pos",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="POSITIONAL delete, merge-on-read (≙ Iceberg v2 position-delete "
    "files — completing the v2 delete triad next to q_delete_mor's "
    "predicate deletes and q_delete_mor_eq's equality deletes): a "
    "double-delivered batch leaves physically IDENTICAL duplicate rows "
    "that no predicate or key set can separate; an audit read exposing "
    "(_file_name, _pos) coordinates (Spark _metadata hidden columns) "
    "names every copy after the first, and manager.delete_positions "
    "commits those coordinates as one deletion vector naming EXACTLY "
    "those rows — zero data files rewritten (path identity "
    "asserted in tests/test_tablelayer.py, along with changelog "
    "rendering, time travel to the dup state, rewrite_deletes folding, "
    "and the snaptable DataSource honoring the positions). Reads "
    "anti-join the broadcast (file,row) set decoded from the vector. "
    "The final state must equal the raw corpus exactly — the oracle "
    "aggregates raw events. At 100 TB this is the surgical post-hoc "
    "dedup tool: commit cost O(delete set), never a table pass.",
)
def q_delete_mor_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_ev_pd(spark, sf_dir)
    df = mgr.read("ev_pd")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


DEF_NULL_MOD = 7  # post-add rows with o_orderkey % 7 == 0 carry a real NULL


def _setup_orders_def(spark: SparkSession, sf_dir: str) -> tuple:
    """orders_def: even-keyed orders land, then ADD COLUMN o_channel
    DEFAULT 'LEGACY' (metadata-only), then odd-keyed orders land with
    explicit channels — including genuine NULLs. Pre-add rows must read
    the default; post-add rows must keep their values, NULLs intact
    (presence decided by each file's recorded writer schema, never by
    value coalescing)."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_def")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    mgr.create_table("orders_def", orders.schema, [])
    mgr.append("orders_def", orders.filter(F.col("o_orderkey") % 2 == 0))
    mgr.add_column("orders_def", "o_channel", "string", default="LEGACY")
    odd = orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel",
        F.when(F.col("o_orderkey") % DEF_NULL_MOD == 0, F.lit(None)).otherwise(
            F.lit("ONLINE")
        ),
    )
    mgr.append("orders_def", odd)
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_schema_default",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'LEGACY'
                WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE 'ONLINE' END AS o_channel,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
    doc="ADD COLUMN ... DEFAULT — initial-default resolution (≙ Iceberg "
    "v3 initial-default values / SQL DEFAULT clauses; deepens "
    "q_schema_evolution's NULL-projection): the add is METADATA-ONLY "
    "(no file rewritten), yet rows written before it read 'LEGACY' "
    "while rows written after keep their explicit channels INCLUDING "
    "genuine NULLs — the distinction value-coalescing cannot make; the "
    "read path decides per data file from its recorded writer schema "
    "(tables/manager.py _read_files), exactly how Iceberg decides by "
    "field-id presence. The three-way group (LEGACY / ONLINE / NULL) "
    "totals must match the oracle's relational reconstruction over raw "
    "orders.",
)
def q_schema_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_def(spark, sf_dir)
    df = mgr.read("orders_def")
    return df.groupBy("o_channel").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


UM_BUMP = 100.0  # purchase rows get value + 100.0 via the MoR update


def _setup_ev_um(spark: SparkSession, sf_dir: str) -> tuple:
    """ev_um: events landed once, then a merge-on-read UPDATE bumps every
    purchase row's value — positional delete of the old versions + new
    data files with the updated copies, ONE commit, zero existing files
    rewritten."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "ev_um")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    mgr.create_table("ev_um", ev.schema, [])
    snap_base = mgr.append("ev_um", ev)
    snap_upd = mgr.update(
        "ev_um",
        {"value": F.col("value") + F.lit(UM_BUMP)},
        [("event_type", "==", "purchase")],
        mode="mor",
    )
    _READY[key] = {"snap_base": snap_base, "snap_upd": snap_upd}
    return mgr, _READY[key]


@register(
    "q_update_mor",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(CASE WHEN event_type = 'purchase' THEN value + 100.0
                    ELSE value END) AS min_value,
           MAX(CASE WHEN event_type = 'purchase' THEN value + 100.0
                    ELSE value END) AS max_value
    FROM events
    GROUP BY 1
    """,
    doc="Merge-on-read UPDATE (≙ Iceberg MERGE-ON-READ update mode: "
    "position-delete file + replacement data files under ONE snapshot "
    "— the counterpart to q_row_dml's copy-on-write): bumping every "
    "purchase's value retires the old row versions by (file, row) "
    "coordinate and lands only the updated copies as new files — zero "
    "existing files rewritten (path identity + changelog delete/insert "
    "pairing asserted in tests/test_tablelayer.py). Write cost is "
    "O(matched rows); a CoW update of the same rows would rewrite "
    "every affected file — the difference between kilobytes and "
    "terabytes for a small update on a 100 TB table. MIN/MAX of "
    "identically-computed doubles keeps the oracle comparison "
    "bit-exact (no cross-engine float-sum ordering).",
)
def q_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_ev_um(spark, sf_dir)
    df = mgr.read("ev_um")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _setup_docs_cw(spark: SparkSession, sf_dir: str) -> tuple:
    """docs_cw: the table is POPULATED entirely through the connector's
    write path — two df.write.format('snaptable') appends (each one
    atomic snapshot staged by executor tasks and committed by the
    driver), one of them racing nothing but still exercising the CAS
    head advance — then read back through the manager."""
    from iceberg_poc_spark.sources.pyds import register_snaptable

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_cw")
    if key in _READY:
        return mgr, _READY[key]
    register_snaptable(spark)
    docs = load_table(spark, sf_dir, "documents")
    mgr.create_table("docs_cw", docs.schema, [])
    for half in (0, 1):
        (
            docs.filter(F.col("doc_id") % 2 == half)
            .write.format("snaptable")
            .option("warehouse", wh)
            .option("table", "docs_cw")
            .mode("append")
            .save()
        )
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_connector_write",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1
    """,
    doc="The WRITE half of the connector face (≙ Iceberg's DataSourceV2 "
    "batch write; completes q_scan_pyds' read half): docs_cw is "
    "populated ONLY through df.write.format('snaptable') — executor "
    "tasks stream Arrow batches into invisible staged parquet, the "
    "driver commit() collects stats, builds any configured Bloom "
    "indexes, enforces CHECK constraints over the still-invisible "
    "batch, and CAS-publishes ONE snapshot per save() (two appends "
    "here = two snapshots; atomic-abort staging cleanup and "
    "constraint rejection on this path are asserted in "
    "tests/test_pyds.py). Read back through manager.read, the table "
    "must equal the raw corpus exactly. With this, every access path "
    "of the table layer — manager API, SQL views, DataSource read, "
    "DataSource write — goes through the same snapshot-commit "
    "machinery.",
)
def q_connector_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_docs_cw(spark, sf_dir)
    df = mgr.read("docs_cw")
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


MS_CUTOFF = "2024-01-16 00:00:00"  # schema-merge batch boundary


def _setup_events_ms(spark: SparkSession, sf_dir: str) -> tuple:
    """events_ms: batch1 lands under a NARROW schema (no value column,
    user_id as int); batch2 arrives with the wider real shape and
    merge_schema=True auto-evolves the table (value ADDED, user_id
    WIDENED int→bigint) before the append."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "events_ms")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    cutoff = F.lit(MS_CUTOFF).cast("timestamp_ntz")
    b1 = ev.filter(F.col("ts") < cutoff).select(
        "event_id",
        "ts",
        "event_type",
        F.col("user_id").cast("int").alias("user_id"),
    )
    b2 = ev.filter(F.col("ts") >= cutoff)
    mgr.create_table("events_ms", b1.schema, [])
    mgr.append("events_ms", b1)
    mgr.append("events_ms", b2, merge_schema=True)
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_schema_merge_write",
    oracle=f"""
    WITH t AS (
        SELECT event_id, event_type, CAST(user_id AS BIGINT) AS user_id,
               CAST(NULL AS DOUBLE) AS value
        FROM events WHERE ts < TIMESTAMP '{MS_CUTOFF}'
        UNION ALL
        SELECT event_id, event_type, user_id, value
        FROM events WHERE ts >= TIMESTAMP '{MS_CUTOFF}'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(value) AS BIGINT) AS n_with_value,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM t GROUP BY 1
    """,
    doc="Schema-MERGING writes (≙ Iceberg's write.spark.accept-any-"
    "schema + Spark's mergeSchema write option — the evolve-on-write "
    "mode streaming producers need when the upstream payload grows a "
    "field): batch1 lands under a narrow schema, batch2 arrives wider "
    "and append(merge_schema=True) auto-evolves the table first — the "
    "value column is ADDED (metadata-only; batch1's files read NULL for "
    "it) and user_id WIDENS int→bigint (batch1's int files read through "
    "parquet's widening promotion). Drops/renames/narrowing still "
    "require explicit DDL — silent destructive evolution stays "
    "impossible (the default append keeps dropping unknown columns, "
    "asserted along with the evolution commits in "
    "tests/test_table_manager.py). The oracle reconstructs the merged "
    "shape relationally: NULL value for pre-evolution rows, widened "
    "user_id everywhere.",
)
def q_schema_merge_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_events_ms(spark, sf_dir)
    df = mgr.read("events_ms")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("value").cast("bigint").alias("n_with_value"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("user_id").cast("bigint").alias("max_user"),
    )


CWP_CUTOFF = "2024-01-20 00:00:00"  # days-partition scan bound


def _setup_events_cwp(spark: SparkSession, sf_dir: str) -> tuple:
    """events_cwp: hidden-partitioned by days(ts), populated ONLY through
    the connector write path — each append's input wrapped by
    route_partitions (spec transforms computed JVM-side + repartition),
    the writer group-splitting pre-routed Arrow batches into one staged
    hive subdir per day."""
    from iceberg_poc_spark.sources.pyds import (
        register_snaptable,
        route_partitions,
    )
    from iceberg_poc_spark.tables import days

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "events_cwp")
    if key in _READY:
        return mgr, _READY[key]
    register_snaptable(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mgr.create_table("events_cwp", ev.schema, [days("ts")])
    for half in (0, 1):
        (
            route_partitions(
                ev.filter(F.col("event_id") % 2 == half), wh, "events_cwp"
            )
            .write.format("snaptable")
            .option("warehouse", wh)
            .option("table", "events_cwp")
            .mode("append")
            .save()
        )
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_connector_write_partitioned",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE ts >= TIMESTAMP '{CWP_CUTOFF}'
    GROUP BY 1
    """,
    doc="PARTITIONED connector writes (closes the r6 surface gap at "
    "sources/pyds.py — ≙ the hand-rolled per-record partition routing in "
    "aig/AIGEventsTableCreator.java:385-394, done declaratively): "
    "events_cwp is hidden-partitioned by days(ts) and populated ONLY "
    "through df.write.format('snaptable') with route_partitions-wrapped "
    "input — the transform columns are computed by Catalyst (exact "
    "xxhash64 bucket hashes, no Python reimplementation) and the "
    "repartition makes each task partition-pure, so the writer's Arrow "
    "group-split is a no-op select, one staged hive subdir per day. "
    "commit() records per-file partition values byte-identical to "
    "manager.append's (routing/pruning/read-back parity asserted in "
    "tests/test_pyds.py), so this days-bounded scan prunes pre-cutoff "
    "files at the manifest exactly as if the manager had written them. "
    "The oracle aggregates raw parquet over the same bound.",
)
def q_connector_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    mgr, _snaps = _setup_events_cwp(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "events_cwp",
        where=[("ts", ">=", dt.datetime.fromisoformat(CWP_CUTOFF))],
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


SW_LO, SW_HI = 400, 700  # n_chars range scan that clustering must prune


def _setup_docs_sw(spark: SparkSession, sf_dir: str) -> tuple:
    """docs_sw: declared clustering — write.sort-order=n_chars +
    write.distribution-mode=range — so the very first append lands
    range-disjoint, stats-tight files with NO compaction pass."""
    from iceberg_poc_spark.tables.manager import (
        DISTRIBUTION_PROP,
        SORT_ORDER_PROP,
    )

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_sw")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    mgr.create_table("docs_sw", docs.schema, [])
    mgr.set_properties(
        "docs_sw",
        {SORT_ORDER_PROP: "n_chars", DISTRIBUTION_PROP: "range"},
    )
    mgr.append("docs_sw", docs)
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_sorted_write",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars BETWEEN {SW_LO} AND {SW_HI}
    GROUP BY 1
    """,
    doc="Declared write clustering (≙ Iceberg table properties "
    "write.sort-order + write.distribution-mode=range; the INGEST-time "
    "counterpart to q_zorder_prune's compaction-time clustering): with "
    "the properties set, every append range-repartitions on n_chars and "
    "sorts within tasks, so each data file covers a DISJOINT n_chars "
    "range from the very first commit — and a range scan on this "
    "non-partition column prunes most files at the manifest with no "
    "compaction ever run (planned<total asserted in "
    "tests/test_tablelayer.py, plus per-file range disjointness). At "
    "100 TB this is the difference between clustering paid "
    "incrementally at write time and a petabyte rewrite later; the "
    "residual row filter still applies, so the oracle's BETWEEN "
    "aggregate must match exactly.",
)
def q_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_docs_sw(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "docs_sw",
        where=[("n_chars", ">=", SW_LO), ("n_chars", "<=", SW_HI)],
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_meta_count_pos",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM events
    """,
    doc="Metadata-EXACT count under outstanding POSITIONAL deletes — the "
    "arithmetic q_meta_count_mor cannot do for its predicate/equality "
    "deletes (those need a scan of the dirty files to know how many "
    "rows they kill): a deletion vector names exact (file, row) "
    "positions, so each file's live count is records minus its "
    "deleted-position count — pure manifest + delete-file metadata "
    "(file_deletes decodes the vectors' bitmaps driver-side, exact "
    "across overlapping vectors), ZERO data files opened (the vectors "
    "are O(delete set), kilobytes). Computed at the PINNED post-delete "
    "snapshot of ev_pd (time-traveled metadata: the later "
    "rewrite_deletes in pytest doesn't perturb it), and the "
    "double-delivery dups retired by q_delete_mor_pos's repair mean the "
    "exact count must equal the raw corpus — same total as the "
    "oracle's COUNT(*). This is precisely why Iceberg's count(*) "
    "planning stays metadata-only under position deletes but degrades "
    "to a scan under equality deletes.",
)
def q_meta_count_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, snaps = _setup_ev_pd(spark, sf_dir)
    m = mgr._load_manifest("ev_pd", snaps["snap_fixed"])
    deletes = mgr.file_deletes("ev_pd", m)
    total = sum(
        int(e["records"]) - deletes[e["path"]].n_pos for e in m["files"]
    )
    return spark.createDataFrame([(total,)], "n_events BIGINT")


def _setup_docs_nn(spark: SparkSession, sf_dir: str):
    """docs_nn: the incremental-enrichment table — documents land in two
    waves, the first only PARTIALLY enriched (lang_conf NULL where
    doc_id % 7 >= 5), the second fully enriched. Each wave's files carry
    exact per-column null counts in the manifest, so the 'what still
    needs enriching' scan prunes every fully-enriched file without
    opening it."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_nn")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    wave1 = docs.where(F.pmod("doc_id", F.lit(2)) == 0).withColumn(
        "lang_conf",
        F.when(
            F.pmod("doc_id", F.lit(7)) < 5, F.col("n_chars") / F.lit(1000.0)
        ),
    )
    wave2 = docs.where(F.pmod("doc_id", F.lit(2)) == 1).withColumn(
        "lang_conf", F.col("n_chars") / F.lit(2000.0)
    )
    mgr.create_table("docs_nn", wave1.schema, [])
    mgr.append("docs_nn", wave1)
    mgr.append("docs_nn", wave2)
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_scan_null_pruned",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 2 = 0 AND doc_id % 7 >= 5
    GROUP BY 1
    """,
    doc="IS NULL file pruning from manifest null counts (≙ Iceberg's "
    "``null_value_counts`` manifest field feeding its evaluator's "
    "notNull/isNull residuals): the incremental-enrichment query every "
    "100 TB pipeline runs between passes — 'which rows still lack "
    "lang_conf?' — against a table where one ingest wave is partially "
    "enriched and another fully. Every write records exact per-column "
    "null counts per file, so the IS NULL scan plans ONLY the "
    "partially-enriched wave's files; the fully-enriched wave is "
    "skipped at the manifest, zero data files opened (planned<total "
    "and the planned-set's null counts asserted in "
    "tests/test_tablelayer.py, along with the dual prunes: IS NOT NULL "
    "skipping all-null files and comparison predicates skipping "
    "all-null columns that carry no min/max at all). The oracle "
    "re-derives the null rows from the enrichment rule, so a file "
    "wrongly pruned (or a null count drifting from the data) breaks "
    "the hash.",
)
def q_scan_null_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _s = _setup_docs_nn(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "docs_nn", where=[("lang_conf", "isnull", None)]
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q_meta_profile",
    oracle="""
    WITH conf AS (
        SELECT CASE WHEN doc_id % 2 = 0
                    THEN CASE WHEN doc_id % 7 < 5
                              THEN n_chars / 1000.0 END
                    ELSE n_chars / 2000.0 END AS lang_conf
        FROM documents
    )
    SELECT 'doc_id' AS col_name,
           CAST(MIN(doc_id) AS VARCHAR) AS min_v,
           CAST(MAX(doc_id) AS VARCHAR) AS max_v,
           CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR),
           CAST(COUNT(*) - COUNT(lang) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(MIN(n_chars) AS VARCHAR),
           CAST(MAX(n_chars) AS VARCHAR),
           CAST(COUNT(*) - COUNT(n_chars) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lang_conf', CAST(MIN(lang_conf) AS VARCHAR),
           CAST(MAX(lang_conf) AS VARCHAR),
           CAST(COUNT(*) - COUNT(lang_conf) AS BIGINT)
    FROM conf
    """,
    doc="Metadata-only column profile (≙ Iceberg's per-column manifest "
    "stats surfaced as a table — lower_bounds/upper_bounds/"
    "null_value_counts in the files metadata table): global MIN/MAX/"
    "null-count for every column of the enrichment table, folded "
    "ENTIRELY from the manifest's per-file stats — zero data files "
    "opened, cost O(files) at any table size. This is the profile a "
    "query planner (or a data-quality monitor) consults before touching "
    "a 100 TB table: value ranges for CBO selectivity, null densities "
    "for enrichment-progress tracking. The oracle recomputes all three "
    "from the raw rows, so a single file whose parquet footer stats "
    "drifted from its data — or a fold that lost a file — breaks the "
    "hash. MIN/MAX strings compare the manifest's normalized stat "
    "values (shortest-repr doubles, raw ints/strings) against DuckDB's "
    "VARCHAR casts: bit-exact because MIN/MAX are order-independent "
    "and both engines print shortest round-trip representations.",
)
def q_meta_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _s = _setup_docs_nn(spark, sf_dir)
    m = mgr._load_manifest("docs_nn")
    files = m["files"]
    rows = []
    for col in ["doc_id", "lang", "n_chars", "lang_conf"]:
        stats = [e["stats"][col] for e in files if col in e.get("stats", {})]
        nulls = [e["nulls"][col] for e in files if col in e.get("nulls", {})]
        # every file must carry the column's bounds and null count for
        # the fold to be exact; a file whose footer lacked them would
        # force a scan (raise, not assert: must survive python -O)
        if len(stats) != len(files) or len(nulls) != len(files):
            raise ValueError(f"incomplete manifest stats for {col}")
        rows.append(
            (
                col,
                str(min(s[0] for s in stats)),
                str(max(s[1] for s in stats)),
                int(sum(nulls)),
            )
        )
    return spark.createDataFrame(
        rows, "col_name STRING, min_v STRING, max_v STRING, n_nulls BIGINT"
    )


def _setup_docs_txn_ddl(spark: SparkSession, sf_dir: str) -> tuple:
    """docs_ddl: the evolve-then-backfill shape through ONE multi-table
    transaction (manager.transaction DDL staging): wave 1 (even doc_ids)
    lands under the original (doc_id, lang, n_chars) schema; then a
    SINGLE txn stages add_column('quality', default=-1.0) AND the wave-2
    append (odd doc_ids, carrying explicit quality) — the new column and
    the data that fills it become visible at one commit point, never a
    window where the column exists but its backfill doesn't (crash
    injection both sides of the commit point in
    tests/test_table_manager.py::test_txn_ddl_applies_atomically_with_data).
    Wave-1 rows read the INITIAL DEFAULT (-1.0, Iceberg v3 semantics);
    wave-2 rows keep explicit values. quality = (n_chars % 500) / 4.0 —
    exact quarters, so cross-engine SUMs cannot drift by summation
    order."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_ddl")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    mgr.create_table("docs_ddl", docs.schema, [])
    mgr.append("docs_ddl", docs.filter(F.col("doc_id") % 2 == 0))
    wave2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", (F.col("n_chars") % 500).cast("double") / F.lit(4.0)
    )
    txn = mgr.transaction()
    txn.add_column("docs_ddl", "quality", "double", default=-1.0)
    txn.append("docs_ddl", wave2)
    txn.commit()
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_txn_ddl",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT)
               AS n_legacy,
           ROUND(SUM(CASE WHEN doc_id % 2 = 0 THEN -1.0
                          ELSE CAST(n_chars % 500 AS DOUBLE) / 4.0
                     END), 2) AS sum_quality
    FROM documents
    GROUP BY lang
    """,
    doc="Schema DDL inside a multi-table transaction — the "
    "evolve-then-backfill shape: ONE txn stages add_column('quality', "
    "DOUBLE, initial default -1.0) together with the backfill append "
    "that fills it, so the column and its data appear at a single "
    "commit point (no window where the column exists unfilled; crash "
    "injection both sides of the commit point + rollback-restores-"
    "pre-txn-schema in tests/test_table_manager.py). Pre-DDL rows read "
    "the initial default, post-DDL rows keep explicit values including "
    "the per-file writer-schema presence rule — the oracle reproduces "
    "both populations from raw documents, so a default leaking onto a "
    "wave-2 row, a lost backfill file, or a half-applied txn all "
    "hash-diverge. At 100 TB this is how a feature column rolls out "
    "across a fact table and its dependents without a coordination "
    "outage.",
)
def q_txn_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _ = _setup_docs_txn_ddl(spark, sf_dir)
    df = mgr.read("docs_ddl")
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("quality") == -1.0, 1))
        .cast("bigint")
        .alias("n_legacy"),
        F.round(F.sum("quality"), 2).alias("sum_quality"),
    )


ADD_FILES_PRICE_FLOOR = 100000.0


def _setup_orders_ext(spark: SparkSession, sf_dir: str):
    """orders_ext: a managed table whose data is the RAW testdata
    orders.parquet registered in place via add_files — zero rows read,
    zero bytes copied at setup (one footer open), the migrate shape."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_ext")
    if key in _READY:
        return mgr
    orders_path = os.path.join(sf_dir, "orders.parquet")
    schema = spark.read.parquet(orders_path).schema
    mgr.create_table("orders_ext", schema, [])
    mgr.add_files("orders_ext", [orders_path])
    _READY[key] = {}
    return mgr


@register(
    "q_add_files",
    oracle=f"""
    SELECT o_orderpriority AS scope,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_totalprice >= {ADD_FILES_PRICE_FLOOR}
    GROUP BY o_orderpriority
    """,
    doc=f"Zero-copy onboarding (≙ Iceberg's add_files procedure / "
    f"migrate, the reference's bulk-registration endgame): the raw "
    f"orders parquet registers into a managed table in ONE footer-only "
    f"commit — no row read, no byte copied; the manifest entry carries "
    f"the file's ABSOLUTE path, an external-ownership marker "
    f"(expire_snapshots never reaps data the table doesn't own — "
    f"pytest-pinned even after a compaction rewrites it out of the "
    f"head), and the same footer stats a written file gets, so min/max "
    f"pruning works from the first scan (multi-file pruning + "
    f"hive-layout partition-value parsing with manifest-restored "
    f"partition columns pinned in tests/test_table_manager.py). The "
    f"query reads the registered table through a stats-filtered scan "
    f"and aggregates — the oracle runs on the raw file, so any "
    f"registration drift (lost rows, stats-pruned rows the residual "
    f"should have kept) hash-diverges. At 100 TB this is how existing "
    f"data lakes adopt the table format: seconds of metadata, not a "
    f"rewrite.",
)
def q_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_orders_ext(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "orders_ext", where=[("o_totalprice", ">=", ADD_FILES_PRICE_FLOOR)]
    )
    return df.groupBy(F.col("o_orderpriority").alias("scope")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def _setup_events_ext_hive(spark: SparkSession, sf_dir: str):
    """events_ext: a hive col=value dataset (written once under the
    warehouse as the stand-in for an existing data lake) registered
    ZERO-COPY into a partitioned managed table — partition values parse
    from the paths, the partition column (which hive layouts strip from
    the data files) is restored from the manifest on read."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "events_ext")
    if key in _READY:
        return mgr
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = os.path.join(wh, "_src_events_hive")
    # repartition on the partition key: one parallel task per event_type
    # writes its whole directory (coalesce(1) would serialize the write
    # through a single task — the dominant first-run cost at 10x)
    ev.repartition(F.col("event_type")).write.partitionBy(
        "event_type"
    ).parquet(src)
    mgr.create_table("events_ext", ev.schema, [identity("event_type")])
    mgr.add_files("events_ext", [src])
    _READY[key] = {}
    return mgr


@register(
    "q_add_files_hive",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS sum_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY event_type
    """,
    doc="Zero-copy onboarding of a HIVE-PARTITIONED dataset (the "
    "partitioned half of q_add_files, driver-gated rather than "
    "pytest-only): an existing events lake laid out as "
    "event_type=<v>/ dirs registers into an identity-partitioned "
    "managed table in one footer-only commit; partition values parse "
    "from the col=value path segments (percent-unescaped, "
    "__HIVE_DEFAULT_PARTITION__ = no value), scans prune non-matching "
    "partitions at the MANIFEST before any file opens, and the "
    "partition column — physically absent from hive data files — is "
    "restored from the manifest so the read surface is whole. The "
    "oracle recomputes the partition-scoped aggregate from the raw "
    "corpus: a mis-parsed value, an unpruned-but-unrestored column, or "
    "a lost partition all hash-diverge. At 100 TB this is the "
    "onboarding path for every hive-era dataset: metadata seconds, "
    "zero rewrite, pruning from day one.",
)
def q_add_files_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_events_ext_hive(spark, sf_dir)
    df, _planned, _total = mgr.scan(
        "events_ext", where=[("event_type", "==", "click")]
    )
    return df.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("user_id").cast("bigint")).cast("bigint").alias("sum_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _setup_docs_meta(spark: SparkSession, sf_dir: str):
    """docs_meta: documents partitioned by identity(lang), landed in two
    append waves so the metadata tables span multiple commits' segments."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_meta")
    if key in _READY:
        return mgr
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    w1 = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    w2 = docs.where(F.pmod("doc_id", F.lit(3)) != 0)
    mgr.create_table("docs_meta", w1.schema, [identity("lang")])
    mgr.append("docs_meta", w1)
    mgr.append("docs_meta", w2)
    _READY[key] = {}
    return mgr


@register(
    "q_meta_partitions",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_records
    FROM documents
    GROUP BY lang
    """,
    doc="PARTITIONS metadata table through the snaptable DataSource "
    "(≙ Iceberg ``SELECT * FROM t.partitions`` over ``t.files``): "
    "`.option('meta','files')` reads the table's live-file inventory "
    "DISTRIBUTED — one executor task per COLUMNAR manifest segment, "
    "column-pruned to (path, partition, records, bytes), zero "
    "driver-side entry materialization — and the partitions table is "
    "its GROUP BY partition aggregation, expressed in the query plan "
    "where Catalyst folds the final rollup into the segment scan. "
    "Per-partition record counts come purely from MANIFEST metadata "
    "(no data file opened); the oracle recomputes them from the raw "
    "corpus, so a lost file, a double-registered segment, or a "
    "mis-parsed partition value all hash-diverge. At 1M files "
    "(≈128 TB) this inventory inspection is an executor job over "
    "~2k segment files instead of a driver JSON parse of 1M entries — "
    "the read-side twin of the O(delta) segmented commit path.",
)
def q_meta_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources.pyds import register_snaptable

    mgr = _setup_docs_meta(spark, sf_dir)
    register_snaptable(spark)
    files = (
        spark.read.format("snaptable")
        .option("warehouse", mgr.warehouse)
        .option("table", "docs_meta")
        .option("meta", "files")
        .load()
    )
    return (
        files.select(
            F.get_json_object("partition", "$.lang").alias("lang"),
            "records",
        )
        .groupBy("lang")
        .agg(F.sum("records").cast("bigint").alias("n_records"))
    )


SYNC_KEY_OFFSET = 300_000_000


def _setup_orders_sync(spark: SparkSession, sf_dir: str):
    """orders_sync: orders partitioned by identity(o_orderpriority),
    then ONE full-sync MERGE mirrors the 1-URGENT partition onto a
    source that repriced some rows (%3==0, +5.00), dropped others
    (%5==0 absent from source -> WHEN NOT MATCHED BY SOURCE DELETE),
    and added new keys (%7==0, +SYNC_KEY_OFFSET). The clause condition
    scopes the sync to the 1-URGENT partition, so every other
    partition's files survive by reference (pinned in
    tests/test_tablelayer.py)."""
    from iceberg_poc_spark.tables import identity

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_sync")
    if key in _READY:
        return mgr, _READY[key]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    mgr.create_table(
        "orders_sync", orders.schema, [identity("o_orderpriority")]
    )
    mgr.append("orders_sync", orders)
    pre = {e["path"] for e in mgr._load_manifest("orders_sync")["files"]}
    urgent = orders.filter(F.col("o_orderpriority") == PE_PRIORITY)
    src = urgent.filter(F.pmod("o_orderkey", F.lit(5)) != 0).withColumn(
        "o_totalprice",
        F.when(
            F.pmod("o_orderkey", F.lit(3)) == 0,
            F.col("o_totalprice") + 5.0,
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = urgent.filter(F.pmod("o_orderkey", F.lit(7)) == 0).select(
        (F.col("o_orderkey") + SYNC_KEY_OFFSET).alias("o_orderkey"),
        F.lit(PE_PRIORITY).alias("o_orderpriority"),
        F.lit(1000.0).alias("o_totalprice"),
    )
    mgr.merge(
        "orders_sync",
        src.unionByName(inserts),
        on=["o_orderkey"],
        not_matched_by_source="delete",
        not_matched_by_source_where=[
            ("o_orderpriority", "==", PE_PRIORITY)
        ],
    )
    _READY[key] = {"pre_paths": pre}
    return mgr, _READY[key]


@register(
    "q_merge_sync",
    oracle=f"""
    WITH synced AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice + 5.0 ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderpriority = '{PE_PRIORITY}' AND o_orderkey % 5 <> 0
        UNION ALL
        SELECT '{PE_PRIORITY}', 1000.0
        FROM orders
        WHERE o_orderpriority = '{PE_PRIORITY}' AND o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderpriority <> '{PE_PRIORITY}'
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(price), 2) AS total_price
    FROM synced
    GROUP BY 1
    """,
    doc="MERGE ... WHEN NOT MATCHED BY SOURCE (Spark 4 / SQL:2023 — the "
    "one MERGE clause q_merge_cdc's matched-update/delete + "
    "not-matched-insert trio lacked): the full-sync shape a warehouse "
    "mirror runs nightly — after the commit the target partition "
    "EQUALS the source (updates applied, absent keys deleted, new keys "
    "inserted) in ONE atomic snapshot. The clause's AND-condition "
    "(o_orderpriority = '1-URGENT') both gates the row action and "
    "prunes files at the manifest, so the sync rewrites ONLY the "
    "mirrored partition; every other partition's files survive by "
    "reference (path-identity pinned in tests/test_tablelayer.py — "
    "without the condition, SQL semantics make every file affected, "
    "exactly Spark's own cost). The oracle reconstructs the synced "
    "state relationally: a leaked deleted row, a missed insert, or an "
    "over-deleted foreign partition all hash-diverge.",
)
def q_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_orders_sync(spark, sf_dir)
    df = mgr.read("orders_sync")
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _setup_view_versioned(spark: SparkSession, sf_dir: str):
    """ord_kpi: a versioned SQL view over the snaptable-backed orders
    base — v1 aggregates all years, v2 (the head after replace_view)
    restricts to >= 1997. Both versions stay readable; the base temp
    view is pinned at the pre-overwrite snapshot so the oracle is plain
    raw-orders arithmetic."""
    from iceberg_poc_spark.sources.pyds import register_snaptable

    mgr, snaps = _setup_orders_tt(spark, sf_dir)
    register_snaptable(spark)
    wh = _warehouse(sf_dir)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW ov_base USING snaptable "
        f"OPTIONS (warehouse '{wh}', `table` 'orders_tt', "
        f"snapshot '{snaps['snap2']}')"
    )
    key = (wh, "__view_kpi__")
    if key in _READY:
        return mgr
    base = (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "ROUND(SUM(o_totalprice), 2) AS s FROM ov_base {w}GROUP BY 1"
    )
    mgr.create_view("ord_kpi", base.format(w=""))
    mgr.replace_view(
        "ord_kpi", base.format(w="WHERE year(o_orderdate) >= 1997 ")
    )
    _READY[key] = {}
    return mgr


@register(
    "q_view_versioned",
    oracle="""
    WITH v1 AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS s
        FROM orders GROUP BY 1
    ),
    v2 AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS s
        FROM orders WHERE year(o_orderdate) >= 1997 GROUP BY 1
    )
    SELECT o_orderpriority,
           v1.n AS n_v1, v1.s AS s_v1,
           v2.n AS n_head, v2.s AS s_head
    FROM v1 JOIN v2 USING (o_orderpriority)
    """,
    doc="VERSIONED SQL VIEWS (≙ the Iceberg view spec: a catalog object "
    "whose SQL definition is versioned — every CREATE OR REPLACE "
    "appends an immutable version, old versions stay readable): the "
    "lakehouse surface analysts touch daily that tables alone don't "
    "model. ord_kpi v1 aggregates all years; replace_view makes a "
    "year-restricted v2 the head; the query reads BOTH — "
    "read_view(version=1) vs the head — through spark.sql over a "
    "snaptable-pinned base, so view-definition time travel composes "
    "with table time travel. The oracle computes both definitions from "
    "raw orders: a replace that clobbered v1, or a head that still "
    "runs v1's text, breaks different columns of the same hash. "
    "Definition history, AS OF resolution over versions, install_view "
    "SQL binding, and drop are pinned in tests/test_tablelayer.py.",
)
def q_view_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_view_versioned(spark, sf_dir)
    v1 = mgr.read_view("ord_kpi", version=1)
    head = mgr.read_view("ord_kpi")
    return v1.alias("a").join(head.alias("b"), "o_orderpriority").select(
        "o_orderpriority",
        F.col("a.n").alias("n_v1"),
        F.col("a.s").alias("s_v1"),
        F.col("b.n").alias("n_head"),
        F.col("b.s").alias("s_head"),
    )


def _setup_orders_snaphist(spark: SparkSession, sf_dir: str):
    """orders_snaphist: a deterministic 5-commit history — create, three
    keyspace-sliced appends (year-partitioned: one data file per year per
    append, so file counts are layout-deterministic), and one MoR
    predicate delete (metadata-only attach: file/record rollups
    unchanged — exactly what snapshot inspection must show)."""
    from iceberg_poc_spark.tables import years

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "orders_snaphist")
    if key in _READY:
        return mgr
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    mgr.create_table("orders_snaphist", orders.schema, [years("o_orderdate")])
    for r in range(3):
        mgr.append(
            "orders_snaphist", orders.filter(F.col("o_orderkey") % 3 == r)
        )
    # threshold safely above the corpus-wide minimum at every SF: the
    # commit must actually attach (a stats-excluded predicate no-ops
    # without a snapshot, and the history would lose its 5th row)
    mgr.delete(
        "orders_snaphist",
        where=[("o_totalprice", "<", 5000.0)],
        mode="mor",
    )
    _READY[key] = {"head": mgr._current_version("orders_snaphist")}
    return mgr


@register(
    "q_meta_snapshots",
    oracle="""
    WITH y AS (
        SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS INT) AS ny
        FROM orders
    ),
    slices AS (
        SELECT o_orderkey % 3 AS r,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(COUNT(DISTINCT year(o_orderdate)) AS INT) AS ny
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT r,
               SUM(c) OVER (ORDER BY r) AS recs,
               CAST(SUM(ny) OVER (ORDER BY r) AS INT) AS files
        FROM slices
    )
    SELECT 1 AS seq, 'create' AS operation,
           0 AS n_files, CAST(0 AS BIGINT) AS n_records
    UNION ALL
    SELECT CAST(2 + r AS INT), 'append', files, CAST(recs AS BIGINT)
    FROM cum
    UNION ALL
    SELECT 5, 'delete-mor',
           (SELECT files FROM cum WHERE r = 2),
           (SELECT CAST(recs AS BIGINT) FROM cum WHERE r = 2)
    ORDER BY seq
    """,
    doc="SNAPSHOTS metadata table (≙ Iceberg ``SELECT * FROM "
    "t$snapshots`` / table.snapshots(), reference #27 "
    "aig/PartitionValueDebugger.java:164-196): the branch's parent "
    "chain with per-snapshot operation and file/record rollups — "
    "computed O(segments) from the per-segment summaries, never "
    "touching entries (snapshot inspection of a 1M-file table reads "
    "~2k summary dicts). The history is deterministic by construction: "
    "year-partitioned appends write one file per year (the partition "
    "co-location shuffle), and the MoR predicate delete is a "
    "metadata-only attach whose rollups must NOT change — a delete "
    "that rewrote files, double-counted attached entries, or lost a "
    "segment summary all hash-diverge from the oracle's relational "
    "replay of the same five commits.",
)
def q_meta_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_orders_snaphist(spark, sf_dir)
    snaps = mgr.snapshots("orders_snaphist")
    # seq from the version number directly: the single-writer setup
    # allocates contiguous versions from 0 (create), so ordinal =
    # snapshot_id + 1 without a global-window shuffle (a ROW_NUMBER
    # over an unpartitioned window would funnel through SinglePartition
    # — the shape the plan audit bans even on 5 rows)
    return snaps.select(
        (F.col("snapshot_id") + 1).cast("int").alias("seq"),
        "operation",
        "n_files",
        "n_records",
    )


def _setup_cust_micro(spark: SparkSession, sf_dir: str):
    """cust_micro: 12 single-file micro-appends (keyspace slices of
    customer, coalesced to one file each) — the streaming-ingest debris
    pattern whose manifest holds one under-full segment per commit,
    exactly what rewrite_segments exists to rebin."""
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "cust_micro")
    if key in _READY:
        return mgr
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mgr.create_table("cust_micro", cust.schema, [])
    for r in range(12):
        mgr.append(
            "cust_micro",
            cust.filter(F.col("c_custkey") % 12 == r).coalesce(1),
        )
    _READY[key] = {"head": mgr._current_version("cust_micro")}
    return mgr


@register(
    "q_rewrite_manifests",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_bal,
           1 AS n_segments_after
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="rewrite_segments maintenance action (≙ Iceberg "
    "``rewrite_manifests``): 12 single-file micro-appends leave one "
    "under-full manifest segment per commit; the rewrite rebins every "
    "entry into fresh target-sized segments — HERE exactly one — with "
    "ZERO data I/O (entry values incl. paths survive; path identity "
    "and the 12->1 segment collapse pinned in "
    "tests/test_table_manager.py). The query reads the table AFTER the "
    "rewrite and aggregates per market segment with the live segment "
    "count as a column, so the oracle hash-checks BOTH that the "
    "row-visible state is byte-identical to the raw corpus (a rebin "
    "that lost or duplicated an entry diverges) and that the metadata "
    "actually collapsed (a no-op rewrite reports 12, not 1).",
)
def q_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_cust_micro(spark, sf_dir)
    mgr.rewrite_segments("cust_micro")
    raw = mgr._manifest_raw("cust_micro", mgr._current_version("cust_micro"))
    n_segs = len(raw["segments"])
    return (
        mgr.read("cust_micro")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .withColumn("n_segments_after", F.lit(n_segs).cast("int"))
    )


@register(
    "q_meta_refs",
    oracle="""
    SELECT * FROM (VALUES
        ('audit',  'branch', CAST(2 AS INT)),
        ('main',   'branch', CAST(1 AS INT)),
        ('pinned', 'tag',    CAST(1 AS INT))
    ) AS t(ref, type, snapshot_id)
    ORDER BY ref
    """,
    doc="REFS metadata table (≙ Iceberg ``SELECT * FROM t$refs``): "
    "every named branch and tag with its pinned snapshot id, straight "
    "from the atomic head/tag pointer files — O(refs) driver work, no "
    "inventory touched. Deterministic 3-ref layout: create+append (v0, "
    "v1), tag 'pinned' at the append, branch 'audit' with one commit of "
    "its own (v2) — a WAP topology; the oracle pins the exact "
    "(ref, type, snapshot) triples, so a branch head that failed to "
    "advance, a tag that drifted, or a lost ref all hash-diverge.",
)
def q_meta_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "refs_demo")
    if key not in _READY:
        df = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
        mgr.create_table("refs_demo", df.schema, [])
        v1 = mgr.append("refs_demo", df)
        mgr.create_tag("refs_demo", "pinned", at_snapshot=v1)
        mgr.create_branch("refs_demo", "audit")
        mgr.append(
            "refs_demo",
            df.withColumn("r_name", F.upper("r_name")),
            ref="audit",
        )
        _READY[key] = {"head": v1}
    return mgr.refs("refs_demo").orderBy("ref")


def _ndv_gate(spark: SparkSession, sf_dir: str, mgr, table: str) -> DataFrame:
    """Shared closed-form NDV gate (q_agg_hll_merge pattern): per-column
    exact distincts recomputed from the raw corpus, joined against the
    manifest-folded estimates — within_bound (10%) and full_coverage
    (every live file contributes a sketch) booleans."""
    n_files = len(mgr._load_manifest(table)["files"])
    est = mgr.ndv_estimates(table)
    docs = load_table(spark, sf_dir, "documents")
    exact = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_id").alias("col_name"),
                    F.col("doc_id").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("lang").alias("col_name"),
                    F.col("lang").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("n_chars").alias("col_name"),
                    F.col("n_chars").cast("string").alias("v"),
                ),
            )
        ).alias("kv")
    ).select("kv.col_name", "kv.v").groupBy("col_name").agg(
        F.count_distinct("v").alias("exact_ndv")
    )
    return exact.join(F.broadcast(est), "col_name").select(
        "col_name",
        "exact_ndv",
        (
            F.abs(F.col("ndv_est") - F.col("exact_ndv"))
            <= 0.10 * F.col("exact_ndv")
        ).alias("within_bound"),
        (F.col("n_sketches") == F.lit(n_files)).alias("full_coverage"),
    )


def _setup_docs_ndv(spark: SparkSession, sf_dir: str):
    """docs_ndv: documents ingested in two overlapping-domain waves with
    the ``stats.ndv.columns`` property on, so every data file carries a
    mergeable per-column HLL distinct sketch in its manifest entry
    (written by ONE O(delta) job per append — the Puffin-style stats
    pass)."""
    from iceberg_poc_spark.tables.manager import NDV_COLS_PROP

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_ndv")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    mgr.create_table(
        "docs_ndv",
        docs.schema,
        [],
        properties={NDV_COLS_PROP: "doc_id,lang,n_chars"},
    )
    # two waves: per-file sketches from different commits must UNION
    # into the global NDV (overlapping lang/n_chars domains collapse)
    mgr.append("docs_ndv", docs.where(F.pmod("doc_id", F.lit(2)) == 0))
    mgr.append("docs_ndv", docs.where(F.pmod("doc_id", F.lit(2)) == 1))
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_meta_profile_ndv",
    oracle="""
    SELECT 'doc_id' AS col_name,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_ndv,
           TRUE AS within_bound, TRUE AS full_coverage
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(DISTINCT lang) AS BIGINT), TRUE, TRUE
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(DISTINCT n_chars) AS BIGINT), TRUE, TRUE
    FROM documents
    """,
    doc="Manifest-folded NDV profile (≙ Iceberg Puffin "
    "apache-datasketches blobs + the ndv column stat): every write on "
    "docs_ndv records a per-file mergeable HLL sketch (Spark "
    "hll_sketch_agg, Apache DataSketches HLL_4) per profiled column; "
    "this query folds the GLOBAL distinct-count estimate per column "
    "from the manifest sketches alone via hll_union_agg — O(files) "
    "sketch rows, zero data files opened — the planner-grade statistic "
    "min/max/null profiling (q_meta_profile) cannot provide. Estimates "
    "and sketch bytes are engine-specific, so the emitted surface is "
    "CLOSED-FORM (the q_agg_hll_merge pattern): per-column exact "
    "distinct counts plus a within_bound boolean (|est-exact| <= 10% "
    "exact — ~6 sigma at lgK=12, deterministic because the DataSketches "
    "hash is fixed) and a full_coverage boolean (every current data "
    "file carried a sketch for the column — partial coverage from "
    "sketch-less files would silently under-count). The union across "
    "two overlapping ingest waves gates that sketches MERGE (distinct "
    "of the union, not the sum).",
)
def q_meta_profile_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _s = _setup_docs_ndv(spark, sf_dir)
    return _ndv_gate(spark, sf_dir, mgr, "docs_ndv")


@register(
    "q_meta_partition_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT doc_id % 3 = 0) AS BIGINT) >= 1
               AS files_positive
    FROM documents
    GROUP BY lang
    """,
    doc="Partitions served from MAINTAINED partition statistics "
    "(≙ Iceberg partition statistics files, maintained incrementally "
    "at commit): every segment write records its per-partition "
    "[n_files, n_records, n_bytes] rollup in the manifest segment "
    "summary — O(delta) at commit, reused segments carry their rollups "
    "by reference — and manager.partition_stats folds those maps in "
    "O(segments x partitions-per-segment) driver work with ZERO entry "
    "decodes and zero data reads. q_meta_partitions computes the same "
    "table by aggregating the full distributed file inventory; this "
    "query reads the maintained stats instead — the shape a catalog "
    "UI or CBO hits thousands of times per metadata change. The "
    "oracle recomputes per-lang record counts from the raw corpus and "
    "pins files_positive (>= 1 file per partition — both ingest waves "
    "landed); value-identity of the maintained stats against the "
    "recomputed partitions table across the FULL commit history "
    "(appends, deletes, compaction) is gated in "
    "tests/test_table_manager.py.",
)
def q_meta_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr = _setup_docs_meta(spark, sf_dir)
    ps = mgr.partition_stats("docs_meta")
    return ps.select(
        F.get_json_object("partition", "$.lang").alias("lang"),
        F.col("n_records"),
        (F.col("n_files") >= 1).alias("files_positive"),
    )


def _setup_docs_analyze(spark: SparkSession, sf_dir: str):
    """docs_an: documents onboarded ZERO-COPY via add_files (no write
    job touches the rows, so no sketches exist), then analyze_ndv
    backfills per-file NDV sketches with one column-pruned pass and
    builds the table-level blob — the ANALYZE-after-migrate lifecycle."""
    from iceberg_poc_spark.tables.manager import NDV_COLS_PROP

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "docs_an")
    if key in _READY:
        return mgr, _READY[key]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    staged = os.path.join(wh, "_an_staging")
    docs.repartition(4).write.mode("overwrite").parquet(staged)
    mgr.create_table(
        "docs_an",
        docs.schema,
        [],
        properties={NDV_COLS_PROP: "doc_id,lang,n_chars"},
    )
    mgr.add_files("docs_an", [staged])
    mgr.analyze_ndv("docs_an")
    _READY[key] = {}
    return mgr, _READY[key]


@register(
    "q_analyze_ndv",
    oracle="""
    SELECT 'doc_id' AS col_name,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_ndv,
           TRUE AS within_bound, TRUE AS full_coverage
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(DISTINCT lang) AS BIGINT), TRUE, TRUE
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(DISTINCT n_chars) AS BIGINT), TRUE, TRUE
    FROM documents
    """,
    doc="ANALYZE after zero-copy migration (≙ Iceberg add_files + "
    "ANALYZE TABLE computing Puffin ndv stats): documents are onboarded "
    "by reference (add_files opens footers only — no sketches can "
    "exist), then analyze_ndv backfills per-file HLL sketches with ONE "
    "column-pruned pass over exactly the sketch-less files (O(missing), "
    "not O(table)) and rebuilds the O(columns) table-level blob. The "
    "emitted surface gates the repaired stats closed-form (the "
    "q_meta_profile_ndv pattern): per-column exact distincts, a 10% "
    "within_bound, and full_coverage proving every onboarded file "
    "contributes to the fold. This is the lifecycle a 100 TB hive "
    "migration actually runs: register in seconds, one stats pass, "
    "planner-grade NDV forever after at O(columns) per read.",
)
def q_analyze_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _s = _setup_docs_analyze(spark, sf_dir)
    return _ndv_gate(spark, sf_dir, mgr, "docs_an")


_CA_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_CA_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _ca_hourly(df: DataFrame) -> DataFrame:
    """The continuous aggregate's defining query at its final grain:
    hourly (bucket, event_type) count + 2-dp sum."""
    return df.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), _CA_FMT_SPARK).alias(
            "bucket_ts"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _setup_events_ca(spark: SparkSession, sf_dir: str):
    """events_ca (raw, days(ts)-partitioned) + events_ca_hourly (the
    MATERIALIZED rollup): wave 1 lands everything except held-back
    stragglers and materializes the rollup once; wave 2 (the late
    stragglers, days 8-14) appends to raw, and maintenance recomputes
    ONLY the invalidated hour buckets — a days-pruned scan of the raw
    table (planned < total, pinned in tests) upserted into the rollup
    in one MoR commit."""
    from iceberg_poc_spark.tables import days

    mgr, wh = _mgr_for(spark, sf_dir)
    key = (wh, "events_ca")
    if key in _READY:
        return mgr, _READY[key]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    late = (
        (F.pmod("event_id", F.lit(13)) == 0)
        & F.dayofmonth("ts").between(8, 14)
    )
    w1, w2 = ev.filter(~late), ev.filter(late)
    mgr.create_table("events_ca", ev.schema, [days("ts")])
    mgr.append("events_ca", w1)
    roll1 = _ca_hourly(w1)
    mgr.create_table("events_ca_hourly", roll1.schema, [])
    mgr.append("events_ca_hourly", roll1)

    # ---- late data arrives: append raw, maintain the rollup O(delta)
    mgr.append("events_ca", w2)
    # invalidation set: the late batch's distinct hour buckets (bounded
    # by wall-clock hours in the late window, never by event count).
    # Kept as FORMATTED STRINGS end-to-end — the same rendering the
    # rollup keys use — never as collected datetimes: F.date_trunc
    # returns TIMESTAMP (LTZ), and collecting LTZ values converts
    # instants through the PYTHON PROCESS timezone while SQL string
    # literals parse through the SESSION timezone, so a datetime
    # round-trip under TZ != session silently shifts the scan bounds
    # by the zone offset and the tail buckets never recompute
    # (reproduced under TZ=America/New_York; the string path is
    # frame-free on both sides).
    bucket_expr = F.date_format(
        F.date_trunc("hour", F.col("ts")), _CA_FMT_SPARK
    )
    aff = sorted(
        r.h
        for r in w2.select(bucket_expr.alias("h")).distinct().collect()
    )
    import datetime as _dt

    hi_next = (
        _dt.datetime.fromisoformat(aff[-1]) + _dt.timedelta(hours=1)
    ).isoformat(sep=" ")
    scan_df, planned, total = mgr.scan(
        "events_ca",
        where=[("ts", ">=", aff[0]), ("ts", "<", hi_next)],
    )
    recompute = _ca_hourly(
        scan_df.filter(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), _CA_FMT_SPARK
            ).isin(aff)
        )
    )
    mgr.upsert_equality(
        "events_ca_hourly", recompute, keys=["bucket_ts", "event_type"]
    )
    _READY[key] = {"planned": planned, "total": total}
    return mgr, _READY[key]


@register(
    "q_ts_continuous_agg",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_CA_FMT_DUCK}') AS bucket_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="CONTINUOUS AGGREGATE (≙ TimescaleDB continuous aggregates / an "
    "incrementally-maintained materialized view, built on the snapshot "
    "table layer): an hourly rollup table materializes once, then a "
    "LATE-DATA batch (held-back stragglers spanning days 8-14) "
    "invalidates exactly its hour buckets — maintenance recomputes ONLY "
    "those buckets via a days(ts)-partition-pruned scan of the raw "
    "table (planned < total files, pinned in pytest) and upserts them "
    "in ONE MoR commit (equality delete on the bucket keys + fresh "
    "rows). Cost per refresh is O(late batch + affected partitions), "
    "never a full recompute — at 100 TB with years of history and "
    "minutes of lateness, that is the difference between a refresh "
    "that takes seconds and one that rescans the table. The oracle "
    "computes the rollup from ALL raw events in one pass, so any "
    "missed invalidation, double-counted bucket, or stale row "
    "hash-diverges.",
)
def q_ts_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _s = _setup_events_ca(spark, sf_dir)
    return mgr.read("events_ca_hourly")
