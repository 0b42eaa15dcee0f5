"""Format round-trips as oracle-checked queries: CSV, JSON, ORC, and raw
text (the complete non-parquet source surface of `sources/formats.py`,
previously only pytest-verified).

Each query writes a table slice out through the format's sink ONCE per
process per sf_dir (:mod:`iceberg_poc_spark.scratch`), reads it back
through the schema-explicit reader, and aggregates; the DuckDB oracle computes the same aggregate
from the ORIGINAL parquet — so any fidelity loss in the round-trip
(type coercion, timestamp formatting, quoting, compression) breaks the
value hash. This is the failure class text formats actually have at
ingest scale: everything-is-string CSV, silently local-timezone JSON
timestamps, truncated doubles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_poc_spark.registry import register
from iceberg_poc_spark.scratch import once, scratch_dir
from iceberg_poc_spark.sources import load_table, scan_parquet
from iceberg_poc_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    read_text,
    write_csv,
    write_json,
    write_orc,
    write_text,
)


def _fmt_dir(sf_dir: str, name: str) -> str:
    return os.path.join(scratch_dir("fmtq", sf_dir), name)


@register(
    "q_source_csv",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    GROUP BY 1
    """,
    doc="CSV round-trip fidelity: customer is written through the gzip "
    "CSV sink and read back with an EXPLICIT schema (never inference — "
    "at 100 TB inference is a full extra pass and everything-is-string "
    "types), then aggregated. The oracle aggregates the original "
    "parquet, so a double truncated in formatting or an int read as "
    "string breaks the hash. Scale note: gzip CSV is not splittable — "
    "the sink writes one file per task so read parallelism survives.",
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fmt_dir(sf_dir, "customer_csv")
    cust = load_table(spark, sf_dir, "customer")
    once(path, lambda: write_csv(cust, path))
    back = read_csv(spark, path, schema=cust.schema)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "q_source_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM events
    GROUP BY 1
    """,
    doc="JSON-lines round-trip fidelity: events — including a "
    "timestamp column and a nested-quoted JSON string column (props) — "
    "written through the gzip JSON sink and read back schema-explicit. "
    "Timestamps are the classic JSON trap: Spark's DEFAULT JSON fraction "
    "is millis (.SSS), a silent microsecond truncation — the sink/source "
    "pin 6-digit fractions (sources/formats.py JSON_OPTIONS) and the "
    "MAX(ts) here is formatted at MICROSECOND granularity on both "
    "engines, so any sub-second loss in the round-trip breaks the hash.",
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fmt_dir(sf_dir, "events_json")
    ev = load_table(spark, sf_dir, "events")
    once(path, lambda: write_json(ev, path))
    back = read_json(spark, path, schema=ev.schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    )


@register(
    "q_source_orc",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(l_quantity) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
    doc="ORC round-trip fidelity: a half-year lineitem slice written "
    "through the zstd ORC sink and read back self-describing (ORC "
    "embeds schema + column stats, so like parquet it needs no schema "
    "argument and keeps predicate pushdown). Single-row aggregate "
    "checked against the original parquet.",
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fmt_dir(sf_dir, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    once(path, lambda: write_orc(li, path))
    back = read_orc(spark, path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "q_source_text",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           CAST(MIN(len(text)) AS INT) AS min_len,
           CAST(MAX(len(text)) AS INT) AS max_len
    FROM documents
    """,
    doc="Raw-text round-trip: the corpus written one document per line "
    "through the gzip text sink (the ingest format LLM pipelines "
    "actually receive) and read back line-per-row — counts and exact "
    "character totals must survive, proving no line splitting, "
    "truncation, or encoding drift against the original parquet.",
)
def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fmt_dir(sf_dir, "documents_txt")
    docs = load_table(spark, sf_dir, "documents")
    once(path, lambda: write_text(docs.select("text"), path))
    back = read_text(spark, path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).cast("int").alias("min_len"),
        F.max(F.length("value")).cast("int").alias("max_len"),
    )


@register(
    "q_source_xml",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS sum_size,
           ROUND(SUM(p_retailprice), 2) AS total_price
    FROM part
    GROUP BY 1
    """,
    doc="XML round-trip fidelity through Spark 4's BUILT-IN xml source "
    "(the spark-xml package folded into core — no external jar): part "
    "is written as <row> elements through the gzip XML sink and read "
    "back schema-explicit, then aggregated; the oracle aggregates the "
    "original parquet. XML's failure class is entity escaping (&lt; "
    "&amp; in free-text p_name/p_type) and numeric round-trip through "
    "text — any mangled char or truncated double breaks the hash. "
    "Complements q_fn_xml (which parses XML STRINGS via from_xml/xpath; "
    "this is the file SOURCE surface).",
)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_poc_spark.sources.formats import read_xml, write_xml

    path = _fmt_dir(sf_dir, "part_xml")
    part = load_table(spark, sf_dir, "part")
    once(path, lambda: write_xml(part, path))
    back = read_xml(spark, path, schema=part.schema)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum("p_size").cast("bigint").alias("sum_size"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


@register(
    "q_meta_file_provenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)     AS n_rows,
           CAST(1 AS BIGINT)            AS n_files,
           CAST(0 AS BIGINT)            AS first_idx,
           CAST(COUNT(*) - 1 AS BIGINT) AS last_idx
    FROM orders
    GROUP BY 1
    """,
    doc="File-provenance metadata columns (_metadata.file_path / "
    "file_name / row_index — Spark's hidden per-file lineage surface, "
    "the engine-side analogue of the reference's per-file manifest "
    "bookkeeping in aig/PartitionValueDebugger.java:169-195): orders is "
    "written Hive-partitioned by priority, hash-repartitioned on the "
    "partition column first so each priority lands in EXACTLY one "
    "parquet file — the compact layout a well-run ingest produces. The "
    "query reads it back and proves the provenance columns are exact: "
    "one distinct file per priority, and row_index spanning precisely "
    "0..n-1 (contiguous within the single file). The oracle states the "
    "same invariants closed-form from the raw table, so a duplicate "
    "file, a split file, or a row_index gap breaks the hash. At 100 TB "
    "_metadata is how you trace a bad record to its source file without "
    "a manifest lookup — free at scan time, no extra pass.",
)
def q_meta_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fmt_dir(sf_dir, "orders_hive")
    orders = load_table(spark, sf_dir, "orders")
    once(
        path,
        lambda: orders.repartition(F.col("o_orderpriority"))
        .write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .parquet(path),
    )
    # memoized scan: per-run re-listing of the hive layout + schema
    # inference is pure driver overhead (sources.scan_parquet)
    back = scan_parquet(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.col("_metadata.file_path")).alias("n_files"),
        F.min(F.col("_metadata.row_index")).alias("first_idx"),
        F.max(F.col("_metadata.row_index")).alias("last_idx"),
    )
