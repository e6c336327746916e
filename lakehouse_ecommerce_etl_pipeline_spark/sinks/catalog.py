"""Catalog DDL registration.

reference: glue_jobs/orders_etl.py:98-103 / product_etl.py:88-93 /
order_items_etl.py:125-130 — ``CREATE DATABASE IF NOT EXISTS`` +
``CREATE TABLE IF NOT EXISTS ... USING DELTA LOCATION`` so the
analytical zone (Athena there, ``spark.sql`` here) can query by name.

Spark's session catalog is updated synchronously — the reference's
Glue-crawler + 30 s wait (SURVEY.md §2.12-O5/O6) has no equivalent
cost here; ``refresh_table`` covers external writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

DEFAULT_DATABASE = "ecommerce_lakehouse"  # orders_etl.py:23


def register_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    database: str = DEFAULT_DATABASE,
) -> str:
    """Register a DataFrame as a queryable (temp-view-backed) table.

    With delta-spark present this would be the reference's exact
    ``CREATE TABLE ... USING DELTA LOCATION`` DDL; the portable path
    registers a global temp view in a namespaced name so
    ``spark.sql("SELECT COUNT(*) FROM <db>_<name>")`` works the same
    (reference validation query: lakehouse_etl_stepfunction.json:218).
    """
    full = f"{database}_{name}"
    df.createOrReplaceTempView(full)
    return full


def register_table_external(
    spark: SparkSession,
    snapshot_path: str,
    name: str,
    database: str = DEFAULT_DATABASE,
) -> str:
    """The reference's actual K4 DDL shape: ``CREATE DATABASE IF NOT
    EXISTS`` + ``CREATE TABLE ... USING <format> LOCATION`` against a
    concrete data directory (orders_etl.py:98-103 — Delta there,
    parquet here). Because versioned-parquet snapshots rotate
    directories on publish, registration re-points the table at the
    current snapshot (drop + create — the in-memory catalog has no
    ALTER LOCATION)."""
    import os

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    partitioned = os.path.isdir(snapshot_path) and any(
        "=" in d for d in os.listdir(snapshot_path)
    )
    if partitioned:
        # a bare external-table DDL does not discover Hive-style
        # partition directories (needs declared partitions + MSCK);
        # the snapshot reader does, under the sidecar schema (no
        # inference job) — register its view
        full = f"{database}_{name}"
        managed.read_snapshot(spark, snapshot_path).createOrReplaceTempView(full)
        return full
    full = f"{database}.{name}"
    spark.sql(f"DROP TABLE IF EXISTS {full}")
    spark.sql(
        f"CREATE TABLE {full} USING PARQUET LOCATION '{snapshot_path}'"
    )
    return full


def count_star(spark: SparkSession, qualified_name: str) -> int:
    """The post-load validation smoke query (SURVEY.md §2.5-A4)."""
    return spark.sql(f"SELECT COUNT(*) AS cnt FROM {qualified_name}").collect()[0][0]


def refresh_table(spark: SparkSession, qualified_name: str) -> None:
    spark.sql(f"REFRESH TABLE {qualified_name}")
