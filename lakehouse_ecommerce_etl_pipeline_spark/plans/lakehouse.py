"""Lakehouse-tier queries: managed-table scan, MERGE upsert,
partitioned writes, Excel ingestion (SURVEY.md §2.1-S2/S3, §2.2).
Side-effecting operators are exercised end-to-end into a scratch dir
and the read-back result is returned for checking.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
    session_dir,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import merge_frames, merge_upsert
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed
from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import read_workbooks
from lakehouse_ecommerce_etl_pipeline_spark.sources.xlsx import write_xlsx

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@register(
    "q_scan_table",
    oracle="SELECT * FROM orders",
)
def q_scan_table(spark, sf_dir):
    """S3 — managed (Delta/versioned-parquet) table scan (reference:
    order_items_etl.py:45,53-55). Writes orders as a managed table,
    scans the published snapshot back."""
    path = session_artifact(
        spark,
        sf_dir,
        "orders_managed",
        lambda p: managed.write(spark, load(spark, sf_dir, "orders"), p),
    )
    return managed.read(spark, path)


@register(
    "q_scan_delta",
    oracle="SELECT * FROM orders",
)
def q_scan_delta(spark, sf_dir):
    """S3 — the SURVEY §2.1 'Delta table scan' slot by its inventory
    name: scans the managed lakehouse table (DeltaTable when
    delta-spark is present, versioned-parquet snapshot otherwise —
    sources/table.py dispatches). Same snapshot-isolation contract
    either way."""
    path = session_artifact(
        spark,
        sf_dir,
        "orders_delta_scan",
        lambda p: managed.write(spark, load(spark, sf_dir, "orders"), p),
    )
    return managed.read(spark, path)


def _merge_source(spark, sf_dir):
    """Deterministic MERGE source: updates (every 10th key, doubled
    price, status 'U') + inserts (every 7th key shifted past the key
    space)."""
    o = load(spark, sf_dir, "orders").select(*_ORDER_COLS)
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    return updates.unionByName(inserts)


_MERGE_ORACLE = """
WITH src AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
       t.o_orderdate, t.o_orderpriority
FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE s.o_orderkey IS NULL
UNION ALL
SELECT * FROM src
"""


@register("q_merge_upsert", oracle=_MERGE_ORACLE)
def q_merge_upsert(spark, sf_dir):
    """K1 — MERGE upsert semantics (reference: orders_etl.py:82-91,
    whenMatchedUpdateAll + whenNotMatchedInsertAll), checked as the
    pure relational merge result (update ∪ insert ∪ untouched)."""
    target = load(spark, sf_dir, "orders").select(*_ORDER_COLS)
    return merge_frames(target, _merge_source(spark, sf_dir), ["o_orderkey"])


@register("q_merge_upsert_storage", oracle=_MERGE_ORACLE)
def q_merge_upsert_storage(spark, sf_dir):
    """K1 (storage) — the same MERGE applied to a managed table with
    snapshot publication, run twice to prove idempotency (second MERGE
    of identical source is a no-op modulo updated values). The
    read-back snapshot must equal the pure relational merge result,
    so it shares q_merge_upsert's full-outer-emulation oracle."""
    # torn down and rebuilt per call (the idempotency demo)
    path = os.path.join(session_dir(spark, sf_dir, "tables"), "orders_merge")
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    target = load(spark, sf_dir, "orders").select(*_ORDER_COLS)
    managed.write(spark, target, path)
    src = _merge_source(spark, sf_dir)
    merge_upsert(spark, path, src, ["o_orderkey"])
    merge_upsert(spark, path, src, ["o_orderkey"])  # idempotent re-run
    return managed.read(spark, path)


@register(
    "q_write_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month
    FROM orders
    """,
)
def q_write_partitioned(spark, sf_dir):
    """K2 — partitioned initial write + read-back (reference:
    orders_etl.py:93-96, partition by date). Partition granularity is
    chosen for sane cardinality: raw daily dates over the full TPC-H
    range explode into thousands of tiny partitions (measured: 2400
    dirs, 60 s read-back at sf0.01) — month-truncation keeps partition
    count bounded, and repartitioning on the partition column first
    yields one file per partition instead of files × input-tasks.
    Partition values round-trip through directory names (partition-type
    inference reads them back as DATE)."""
    # K2 is a WRITE demonstration, re-executed per call
    out = os.path.join(
        session_dir(spark, sf_dir, "tables"), "orders_partitioned"
    )
    df = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.trunc("o_orderdate", "month").alias("order_month"),
    )
    df.repartition("order_month").write.mode("overwrite").partitionBy(
        "order_month"
    ).parquet(out)
    return spark.read.parquet(out).select(
        "o_orderkey", "o_custkey", "o_totalprice", "order_month"
    )


ORDERS_XL_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("order_timestamp", T.TimestampType()),
    ]
)


@register(
    "q_scan_excel",
    oracle="""
    SELECT o_orderkey AS order_id, o_custkey AS user_id,
           o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total_amount,
           CAST(o_orderdate AS TIMESTAMP) AS order_timestamp
    FROM orders ORDER BY o_orderkey LIMIT 1000
    """,
)
def q_scan_excel(spark, sf_dir):
    """S2 — distributed multi-sheet workbook scan of GENUINE .xlsx
    (reference: driver-side pandas, orders_etl.py:41-64 — redesigned
    as binaryFile + mapInPandas over the engine's stdlib
    SpreadsheetML reader; SURVEY.md §7 hard-part 1). Two good sheets
    + one missing a required column (skipped, like
    orders_etl.py:63-64), across two workbook files. Workbook content
    derives deterministically from orders, so the scan oracles as an
    ORDER BY/LIMIT projection."""
    import shutil

    wdir = session_dir(spark, sf_dir, "workbooks")
    shutil.rmtree(wdir, ignore_errors=True)  # drop stale fixtures
    os.makedirs(wdir, exist_ok=True)
    pdf = (
        load(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(1000)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total_amount"),
            F.col("o_orderdate").alias("order_timestamp"),
        )
        .toPandas()
    )
    half = len(pdf) // 2
    bad = pdf.head(5).drop(columns=["order_timestamp"])
    write_xlsx(
        os.path.join(wdir, "orders_apr_2025.xlsx"),
        {"Sheet1": pdf.iloc[:half], "bad_sheet": bad},
    )
    write_xlsx(
        os.path.join(wdir, "orders_may_2025.xlsx"),
        {"Sheet1": pdf.iloc[half:]},
    )
    parsed = read_workbooks(
        spark,
        wdir,
        ORDERS_XL_SCHEMA,
        required_columns=["order_id", "user_id", "order_timestamp"],
    )
    return parsed.drop("source_file", "sheet_name")
