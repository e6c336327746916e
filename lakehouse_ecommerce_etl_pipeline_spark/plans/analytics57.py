"""Tier LVII: operational-RDBMS ingest — the JDBC partitioned-read
pattern demonstrated over SQLite (sources/sqlite.py).

Two value-oracled faces:

- q_scan_sqlite — the full export→import identity: orders written
  into a SQLite database (ISO-TEXT timestamps, REAL money — the lossy
  -looking but IEEE-exact operational representation) and read back
  through a 4-way ranged parallel scan. Every column and row must
  round-trip, so clause gaps/overlaps, the unbounded first/last
  partitions, and the TEXT→timestamp parse all fail by value.
- q_scan_sqlite_pushdown — predicate + column pushdown INTO the
  per-partition SQL, under hash-mod (skew-proof) partitioning; the
  oracle restates the predicate over the source table.

Both run the read path the reference would get from a Glue JDBC
connection (no JDBC driver in this runtime — stdlib sqlite3 plays the
database), with Spark-side planning identical to the JDBC relation's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import session_artifact
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.sqlite import (
    _ORDERS_SCHEMA,
    build_orders_db,
    mod_clauses,
    range_clauses,
    scan_sqlite,
)

_N_PARTS = 4


def _db(spark: SparkSession, sf_dir: str) -> str:
    out = session_artifact(
        spark,
        sf_dir,
        "sqlite_orders",
        lambda p: build_orders_db(sf_dir, os.path.join(p, "orders.db")),
    )
    return os.path.join(out, "orders.db")


def orders_via_sqlite(
    spark: SparkSession,
    sf_dir: str,
    num_partitions: int = _N_PARTS,
    predicate: str | None = None,
    columns: list[str] | None = None,
    hash_mod: bool = False,
) -> DataFrame:
    """orders read back through the partitioned SQLite scan; bounds
    come from a driver-side MIN/MAX bounds query against the database
    itself — exactly the dbtable bounds query Spark's JDBC relation
    issues, and no Spark job (the old parquet count() burned a full
    scan just to size partitions)."""
    import sqlite3

    db = _db(spark, sf_dir)
    con = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    try:
        lo, hi = con.execute(
            "SELECT MIN(o_orderkey), MAX(o_orderkey) FROM orders"
        ).fetchone()
    finally:
        con.close()
    clauses = (
        mod_clauses("o_orderkey", num_partitions)
        if hash_mod
        else range_clauses(
            "o_orderkey", int(lo or 0), int(hi or 0) + 1, num_partitions
        )
    )
    return scan_sqlite(
        spark,
        db,
        "orders",
        _ORDERS_SCHEMA,
        clauses,
        predicate=predicate,
        columns=columns,
    )


@register(
    "q_scan_sqlite",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def q_scan_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full identity through the operational store: parquet → SQLite
    (TEXT timestamps, REAL doubles) → 4-way ranged parallel read →
    every row and column equal to the source. The partition planner's
    coverage contract (disjoint, first/last unbounded) is what makes
    this an identity — any gap or overlap changes the row set."""
    return orders_via_sqlite(spark, sf_dir)


@register(
    "q_scan_sqlite_pushdown",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    """,
)
def q_scan_sqlite_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row predicate + column pruning pushed INTO each partition's
    SELECT (the database filters and projects; only survivors cross
    the wire), under hash-mod partitioning — the skew-proof clause
    family for hot/sparse key domains. The money comparison is exact:
    SQLite REAL is the same IEEE double the parquet held."""
    return orders_via_sqlite(
        spark,
        sf_dir,
        predicate="o_orderstatus = 'F' AND o_totalprice > 100000",
        columns=["o_orderkey", "o_totalprice", "o_orderdate"],
        hash_mod=True,
    )
