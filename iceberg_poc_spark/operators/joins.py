"""Joins: inner, broadcast, outer, semi/anti, range (non-equi), cross.

The reference has no join executor (SURVEY.md §2C); its closest analogue is
name-matched field copy (``HiddenPartitionLoaderWithKMS.java:221-227``).
This module exposes the full Spark join surface.

Scale notes per join:
- fact⋈fact equi-joins shuffle both sides on the key (sort-merge); AQE
  splits skewed partitions.
- dim tables (region/nation/part/supplier/customer at TPC-H ratios) are
  broadcast — no shuffle of the fact side at all. We broadcast explicitly
  where the dim is guaranteed small rather than relying on the 10 MB
  threshold estimate.
- the range join keeps the non-equi condition on a broadcast side so it is
  a broadcast-nested-loop over a tiny build side, never an O(n^2) shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.registry import register
from iceberg_poc_spark.scratch import once, scratch_dir
from iceberg_poc_spark.sources import load_table, scan_parquet


@register(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'O'
    """,
    doc="Inner equi-join; Catalyst picks broadcast-hash here (customer is "
    "small) and sort-merge at fact⋈fact scale.",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p.p_brand,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Explicit broadcast join: fact stays in place, dim ships to every "
    "executor — zero shuffle of lineitem before the aggregation.",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
    GROUP BY c.c_custkey
    """,
    doc="LEFT OUTER join with a join-side predicate (kept in the ON clause "
    "so non-matching customers survive with NULLs).",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "F")
    return (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
    doc="LEFT SEMI join (EXISTS): ships only the key column of the probe "
    "side, never duplicates matches.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
    doc="LEFT ANTI join (NOT EXISTS).",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# Price bands for the non-equi range join: a tiny literal dimension, always
# broadcast — the scalable pattern for banding/bucketing joins.
PRICE_BANDS = [
    ("low", 0.0, 100000.0),
    ("mid", 100000.0, 300000.0),
    ("high", 300000.0, 1000000.0),
]


@register(
    "q_join_range",
    oracle="""
    SELECT b.band, COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN (VALUES ('low', 0.0, 100000.0),
                 ('mid', 100000.0, 300000.0),
                 ('high', 300000.0, 1000000.0)) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    doc="Non-equi (range/theta) join against a broadcast band dimension — "
    "broadcast-nested-loop with a 3-row build side, not a shuffle.",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # SQL VALUES keeps the literal dim a JVM LocalRelation — createDataFrame
    # over Python tuples would round-trip through a Python RDD just to
    # build 3 rows.
    values = ", ".join(f"('{b}', {lo}D, {hi}D)" for b, lo, hi in PRICE_BANDS)
    bands = spark.sql(f"SELECT * FROM VALUES {values} AS t(band, lo, hi)")
    cond = (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi)
    return (
        o.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
    doc="Cross join of two tiny dims (5 x 25).",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="Multi-way star join (fact + 3 dims) — the TPC-H Q5 shape; dims "
    "broadcast, fact never shuffles until the final small agg.",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ----------------------------------------------------------- skew salting

def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Shuffle join with explicit key salting for heavy hitters.

    When BOTH sides are too big to broadcast and the join key is skewed,
    a plain shuffle join puts an entire hot key in one reducer partition.
    Salting bounds that: the skewed side scatters each key across
    ``salts`` sub-partitions (seeded rand — result is salt-invariant),
    the other side replicates each row ``salts`` times, and the join key
    becomes (key, salt). Partition size shrinks by ~``salts``x at the
    cost of replicating the smaller side.

    AQE's skew-join split (enabled in the engine session) handles most
    skew reactively at runtime; explicit salting is for keys so hot a
    single post-split partition still exceeds executor memory, or for
    deterministic plan shape in SLA-bound pipelines.
    """
    salt = (F.rand(seed=42) * salts).cast("int")
    skewed_s = skewed.withColumn("__salt", salt)
    other_s = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return skewed_s.join(other_s, on + ["__salt"], how).drop("__salt")


@register(
    "q_join_salted",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Fact-fact shuffle join with explicit skew salting (8 salts) — "
    "identical results to the plain join (the oracle IS the plain join), "
    "with hot-key partitions bounded to 1/8 size.",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        # replication factor multiplies the OTHER side's build cost
        # linearly (guide §2.4: salt just enough to bound the hot
        # partition, no more) — 4x already splits any hot key across 4
        # reducers; 8x only doubled the replicated build for no extra
        # skew headroom on this key distribution. Results are
        # salt-invariant by construction.
        salts=4,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(l.l_quantity) AS sum_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Zero-shuffle fact⋈fact join via bucketing (sources/bucketed.py): "
    "lineitem and orders are both written bucketed AND sorted on the "
    "order key with the same bucket count (once per process — the write "
    "is the one-time cost that deletes the shuffle from every subsequent "
    "join), then sort-merge-joined with NO Exchange on either side: each "
    "task merges bucket i of both tables locally. The merge hint keeps "
    "the broadcast path out so the co-located SMJ is what ships (and "
    "what the plan gate asserts). Identical results to the plain join — "
    "the oracle IS the plain join on the raw parquet. At 100 TB this is "
    "the nightly-join pattern: bucket the facts at ingest, join for "
    "free forever after. Iceberg equivalent: bucket(n, key) partition "
    "transform + storage-partitioned joins.",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from iceberg_poc_spark.sources.bucketed import write_bucketed

    wh = scratch_dir("bktwh", sf_dir)
    db = os.path.basename(wh)
    t_li, t_o = f"{db}.li_bkt", f"{db}.o_bkt"

    def build() -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        )
        write_bucketed(li, "li_bkt", "l_orderkey", 16, db, wh)
        write_bucketed(o, "o_bkt", "l_orderkey", 16, db, wh)

    once(wh, build)
    # the hint rides a join INPUT (strategy hints bind to input relations);
    # with matching bucket specs EnsureRequirements adds no Exchange
    joined = spark.table(t_li).join(spark.table(t_o).hint("merge"), "l_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@register(
    "q_join_interval",
    oracle="""
    SELECT c.user_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_purchases,
           ROUND(SUM(p.value), 2) AS attributed_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    GROUP BY 1, 2
    """,
    doc="Interval (attribution) join — the batch twin of the stream-stream "
    "interval join in streaming/pipelines.py: every purchase within one "
    "hour AFTER a click by the same user is attributed to that click. "
    "The join key is the EQUI part (user_id) with the time band as a "
    "residual predicate — never a nested loop over the cross product, "
    "which is what a pure theta-join plans. Locally the small purchase "
    "side broadcasts (BHJ); at scale it graduates to a co-partitioned "
    "SMJ on the same equi-key. At 100 TB: both sides bucketed by user_id "
    "(sources/bucketed.py) drop even that shuffle; the residual band "
    "bounds per-user work. Inner join keeps it count-positive: only "
    "clicks with at least one attributed purchase emit (count >= 1), so "
    "SUM is never NULL and the grain stays (user, click).",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts"), F.col("value")
    )
    joined = c.join(
        p,
        (c.user_id == p.user_id)
        & (p.p_ts > c.c_ts)
        & (p.p_ts <= c.c_ts + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.groupBy(c.user_id, "click_id").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("attributed_value"),
    )


@register(
    "q_join_dpp",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 2
    GROUP BY n.n_name
    """,
    doc="Dynamic partition pruning: the fact table is laid out "
    "hive-partitioned ON THE DIM JOIN KEY (customer partitioned by "
    "c_nationkey — one directory per nation, the layout the table "
    "layer's identity transform produces), and the dim carries the "
    "selective predicate (region = 2 keeps 5 of 25 nations). Catalyst "
    "inserts a runtime partition filter on the fact scan fed by the "
    "dim's broadcast result, so only the 5 matching partitions are ever "
    "read — the other 20 are skipped at the FILE level without any "
    "static predicate naming them (plan shows `dynamicpruningexpression` "
    "in PartitionFilters; asserted in tests/test_plans.py). This is THE "
    "mechanism that makes star-schema joins over a 100 TB "
    "date/tenant-partitioned fact read only the slice the dim filter "
    "selects; static pruning (q_scan_pruned) can't do it because the "
    "qualifying keys are only known after the dim filter runs. The dim "
    "key is cast to the partition column's inferred int type so the "
    "pruned side stays a bare partition-column reference (a cast there "
    "would defeat the rule).",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir("dpp", sf_dir)
    once(
        root,
        lambda: load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", "c_nationkey")
        .write.mode("overwrite")
        .partitionBy("c_nationkey")
        .parquet(root),
    )
    # memoized scan (sources.scan_parquet): re-listing 25 partition dirs +
    # re-inferring the schema cost ~0.4 s of driver time per run
    cust = scan_parquet(spark, root)
    nat = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"), "n_name"
        )
    )
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "q_join_null_safe",
    oracle="""
    SELECT COALESCE(d.seg, '(none)') AS seg_label,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM (SELECT c_acctbal, NULLIF(c_mktsegment, 'BUILDING') AS seg
          FROM customer) c
    JOIN (SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg
          FROM customer) d
      ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY 1
    """,
    doc="Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the "
    "BUILDING segment is nulled out on BOTH sides, and the null-safe "
    "condition still pairs those rows (plain equality silently drops "
    "every NULL-keyed row — the classic lost-rows bug when joining on "
    "nullable business keys). Same hash-join machinery, NULL hashes as "
    "a regular key value; the row counts prove no NULL-keyed customer "
    "vanished. At 100 TB nullable join keys are the norm (optional "
    "foreign keys, unparsed attributes) — this is the semantics a "
    "correct enrichment join needs without a sentinel-value rewrite.",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_acctbal",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    dim = cust.select("seg").distinct()
    joined = cust.join(
        F.broadcast(dim), cust["seg"].eqNullSafe(dim["seg"])
    ).drop(dim["seg"])
    return joined.groupBy(
        F.coalesce(F.col("seg"), F.lit("(none)")).alias("seg_label")
    ).agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )
