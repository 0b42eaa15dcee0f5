"""Subquery shapes: uncorrelated scalar and correlated EXISTS.

Absent from the reference (SURVEY.md §2C — it has no SQL surface at all);
part of the complete analytics surface. Expressed through ``spark.sql``
over registered views — Catalyst rewrites the scalar subquery to a
broadcast join and decorrelates EXISTS into a left-semi join, so both run
as ordinary distributed joins (no per-row re-execution, which is what a
naive interpreter would do and what would die at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.registry import register
from iceberg_poc_spark.session import sibling_session
from iceberg_poc_spark.sources import load_table


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    load_table(spark, sf_dir, name).createOrReplaceTempView(name)


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_custkey = (SELECT MIN(c_custkey) FROM customer)
    """,
    doc="Uncorrelated scalar subquery (integer-exact threshold — no float "
    "boundary nondeterminism). Catalyst plans the inner MIN once and "
    "broadcasts the scalar.",
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "orders")
    _view(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus
        FROM orders
        WHERE o_custkey = (SELECT MIN(c_custkey) FROM customer)
        """
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
    doc="Correlated EXISTS — decorrelated by Catalyst into a left-semi "
    "join on the correlation key (one shuffle, not per-row probes).",
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "orders")
    _view(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        """
    )


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS price
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_acctbal > 9000
"""


@register(
    "q_join_lateral",
    oracle=_LATERAL_SQL,
    doc="LATERAL correlated table subquery with per-row ORDER BY ... "
    "LIMIT (top-2 orders for each high-balance customer) — the SQL-2016 "
    "form of per-group top-k. Catalyst decorrelates it to a ranked join "
    "rather than re-running the inner query per row; DuckDB runs the "
    "IDENTICAL statement as the oracle.",
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "customer")
    _view(spark, sf_dir, "orders")
    return spark.sql(_LATERAL_SQL)


SCRIPT_STEP_K = 25  # threshold granularity: 25k price units per step


@register(
    "q_sql_scripting",
    oracle=f"""
    WITH t AS (
        SELECT o_totalprice,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS total FROM t
    ), cap AS (
        SELECT {SCRIPT_STEP_K} * g AS k,
               CAST(COALESCE(SUM(CASE WHEN o_totalprice
                                           < {SCRIPT_STEP_K} * g * 1000
                                      THEN cents END), 0) AS BIGINT)
                   AS captured
        FROM generate_series(1, 100) s(g), t
        GROUP BY 1
    )
    SELECT CAST(k AS INT) AS threshold_k,
           captured AS captured_cents,
           tot.total AS total_cents
    FROM cap, tot
    WHERE captured * 2 >= tot.total
    ORDER BY k LIMIT 1
    """,
    doc="Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE): an iterative "
    "threshold search — raise the price ceiling in "
    f"{SCRIPT_STEP_K}k steps until the captured revenue reaches half of "
    "total — written as a procedural script whose loop CONDITION is a "
    "scalar, while every iteration's aggregate runs as a full "
    "distributed query. That division of labor is the point of "
    "scripting at 100 TB: control flow lives driver-side in SQL (no "
    "Python round trips, no collect loops over data), the heavy scans "
    "stay on the cluster, and the whole procedure ships as one "
    "statement. The oracle finds the same fixpoint declaratively "
    "(generate_series over candidate thresholds), so the loop's "
    "termination step and both running totals are value-checked in "
    "exact integer cents.",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    view = f"orders_scr_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    # One distributed pass folds orders into <= ~40 (bucket, cents) rows
    # (partial aggregation, guide §2.3): bucket b holds the exact BIGINT
    # cents sum for prices in [b*25k, (b+1)*25k), so each WHILE
    # iteration's captured(k) = SUM over buckets b < k/25 — instead of
    # re-scanning the FULL orders table once per iteration (~15 scans at
    # sf0.1 in the r12-before shape). Value identity is exact:
    #   - prices are 2-dp (verified 0 non-2dp rows at all SFs), so
    #     o_totalprice < k*1000  <=>  cents < k*100000  <=>  b < k DIV 25
    #     (k is always a multiple of SCRIPT_STEP_K in the loop);
    #   - BIGINT partial sums re-associate exactly (no overflow: total
    #     ~3.8e12 << 2^63).
    # The scripting division of labor is unchanged — control flow stays
    # driver-side in SQL, every iteration still runs a distributed
    # query — the loop just probes the pre-folded table.
    # AQE off for the script: each iteration probes the one-partition
    # cached fold — there is nothing for runtime re-planning to coalesce
    # or split, and under AQE every iteration's exchange becomes its own
    # scheduled stage-job (measured at sf0.01: 37 -> 34 jobs, ~6% of the
    # wall). The distributed fold below is O(1) output rows at any
    # scale, so this is not a local-mode constant. The caller's session
    # keeps its conf: the fold, its temp view and the script live in a
    # sibling session with AQE off.
    sib = sibling_session(spark, {"spark.sql.adaptive.enabled": "false"})
    fold = (
        load_table(sib, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents")
        )
        .groupBy(
            F.expr(f"cents div {SCRIPT_STEP_K * 100000}").alias("b")
        )
        .agg(F.sum("cents").alias("cents"))
        # collapse the <=40-row fold to ONE cached partition up front:
        # every WHILE iteration then probes a single task instead of 32
        # near-empty reduce partitions (at any corpus scale the fold is
        # O(1) rows — the price-bucket domain, not the data)
        .repartition(1)
        .cache()
    )
    fold.createOrReplaceTempView(view)
    # The script executes EAGERLY inside sql() (the WHILE loop runs
    # before it returns), so the unpersist below covers all the
    # distributed work.
    try:
        return sib.sql(f"""
        BEGIN
          DECLARE total BIGINT;
          DECLARE captured BIGINT DEFAULT 0;
          DECLARE k INT DEFAULT 0;
          SET total = (SELECT CAST(SUM(cents) AS BIGINT) FROM {view});
          WHILE captured * 2 < total DO
            -- one multi-variable SET per iteration: every scripting
            -- statement pays fixed parse/analyze/execute machinery
            -- (~0.24 s/iter measured for the SET-scalar-subquery form
            -- vs ~0.09 s/iter for a direct FROM multi-SET), so folding
            -- the k bump and the captured probe into ONE statement
            -- halves the driver-side statement count and drops the
            -- scalar-subquery wrapping — same trajectory, same values.
            SET (k, captured) = (
              SELECT k + {SCRIPT_STEP_K},
                     CAST(COALESCE(SUM(CASE
                          WHEN b < (k + {SCRIPT_STEP_K}) DIV {SCRIPT_STEP_K}
                          THEN cents END), 0) AS BIGINT)
              FROM {view});
          END WHILE;
          SELECT k AS threshold_k,
                 captured AS captured_cents,
                 total AS total_cents;
        END
        """)
    finally:
        # Scope the fold cache to THIS run (VERDICT r12 item 4): without
        # the unpersist, Spark's CacheManager matches the identical fold
        # plan on the next run and the warm median stops measuring the
        # one distributed orders pass the query declares. The script above
        # has already executed (its result rows are script variables), so
        # dropping the view/cache cannot unpin live work.
        sib.catalog.dropTempView(view)
        fold.unpersist()


@register(
    "q_sql_pipe",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o.o_orderpriority
    HAVING COUNT(*) > 10
    ORDER BY o.o_orderpriority
    """,
    doc="Spark 4 SQL PIPE syntax (|> operators — SQL written in dataflow "
    "order, the 2024 'SQL Has Problems' pipeline dialect): scan |> WHERE "
    "|> JOIN |> AGGREGATE ... GROUP BY |> WHERE (post-agg) |> ORDER BY. "
    "Pipe stages desugar to the identical Catalyst plan as the nested "
    "ANSI form the oracle runs — same pushdown, same broadcast — so "
    "this gates the PARSER surface, not a new engine path. The shape "
    "mirrors a shipdate-windowed revenue-by-priority rollup.",
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(f"li_pipe_{tag}")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(f"ord_pipe_{tag}")
    return spark.sql(f"""
        FROM li_pipe_{tag} AS l
        |> WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |> JOIN ord_pipe_{tag} AS o ON l.l_orderkey = o.o_orderkey
        |> AGGREGATE COUNT(*) AS n_lines,
                     ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
                         AS revenue
           GROUP BY o.o_orderpriority
        |> WHERE n_lines > 10
        |> ORDER BY o_orderpriority
        |> SELECT o_orderpriority, n_lines, revenue
    """)
