"""SQLite partitioned source — the JDBC parallel-ingest pattern in
pure stdlib.

Every production Spark deployment ingests from an operational RDBMS
via the JDBC source's ``partitionColumn / lowerBound / upperBound /
numPartitions`` contract: the driver plans N disjoint range predicates
over a numeric key and each executor task opens its own connection and
pulls exactly one range, with row-level predicates and column pruning
pushed INTO the per-partition SQL. No JDBC driver ships in this
runtime, so the pattern is demonstrated against SQLite (stdlib
``sqlite3``) with the exact planning rules Spark's JDBC relation uses:

- stride = (upper - lower) / numPartitions, boundaries at
  lower + i*stride;
- the FIRST partition is unbounded below and the LAST unbounded above,
  so rows outside [lowerBound, upperBound) are still read — bounds
  size partitions, they never filter (the classic JDBC-source gotcha);
- ``predicate`` and ``columns`` compose into each partition's SELECT,
  so filtering/pruning happen in the database, not after transfer.

Reference parity: the reference ingests only files (CSV/Excel,
glue_jobs/product_etl.py:49-52, orders_etl.py:41-64); an operational
RDBMS ingest leg is standard lakehouse surface the reference's Glue
context would supply via its own JDBC connections. Spark-first here =
plan ranges on the driver (metadata-only), read in executors via
mapInPandas (Arrow batches out of pandas.read_sql_query).

100 TB: transfer parallelism is the knob — the planning table is
numPartitions rows regardless of data size; each task streams one
range. Skewed keys starve ranges (same as JDBC) — the fix is the same
hash-mod clause list this module's ``mod_clauses`` provides.
"""

from __future__ import annotations

import os
import sqlite3

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# columns stored / read back for the orders fixture
_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


def build_orders_db(sf_dir: str, db: str) -> None:
    """Materialize ``orders`` as a SQLite database at ``db`` (the
    operational-store stand-in). Timestamps are stored as ISO-8601
    TEXT — SQLite's own convention (it has no datetime storage class)
    and the round-trip the reader must undo. Driver-side build: this
    is the FIXTURE (the database exists before Spark enters the
    picture in production); the distributed part is the read.
    Timestamps carry microseconds (``.%f``) so sub-second precision
    survives the TEXT round-trip."""
    src = os.path.join(sf_dir, "orders.parquet")
    pdf = pd.read_parquet(src, columns=_ORDERS_COLS)
    pdf = pdf.assign(
        o_orderdate=pdf["o_orderdate"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    )
    con = sqlite3.connect(db)
    try:
        con.execute(
            "CREATE TABLE orders ("
            "o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER, "
            "o_orderstatus TEXT, o_totalprice REAL, "
            "o_orderdate TEXT, o_orderpriority TEXT)"
        )
        con.executemany(
            "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
            pdf.itertuples(index=False, name=None),
        )
        con.commit()
    finally:
        con.close()


def range_clauses(
    partition_col: str, lower: int, upper: int, num_partitions: int
) -> list[str]:
    """Spark JDBC-relation partition planning: n WHERE clauses that
    are pairwise disjoint and jointly cover the WHOLE key line (first
    unbounded below, last unbounded above)."""
    if num_partitions <= 1 or upper <= lower:
        return ["1 = 1"]
    n = min(num_partitions, upper - lower)
    stride = (upper - lower) // n
    bounds = [lower + i * stride for i in range(1, n)]
    clauses = [f"{partition_col} < {bounds[0]}"]
    clauses += [
        f"{partition_col} >= {bounds[i - 1]} AND {partition_col} < {bounds[i]}"
        for i in range(1, len(bounds))
    ]
    clauses.append(f"{partition_col} >= {bounds[-1]}")
    return clauses


def mod_clauses(partition_col: str, num_partitions: int) -> list[str]:
    """Hash-mod partitioning — the skew-proof alternative when the key
    range is sparse or hot (every partition gets ~1/n of the ROWS, not
    1/n of the key LINE)."""
    return [
        f"(({partition_col} % {num_partitions}) + {num_partitions})"
        f" % {num_partitions} = {i}"
        for i in range(num_partitions)
    ]


def scan_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    schema: T.StructType,
    clauses: list[str],
    predicate: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Parallel ranged read: one task per clause, each opening the
    database READ-ONLY (uri mode=ro) and pulling exactly its range.
    ``predicate`` lands in every partition's WHERE (row pushdown);
    ``columns`` prunes the SELECT list (column pushdown) — both run
    inside the database engine, mirroring what Spark's JDBC relation
    compiles pushed filters into."""
    cols = columns or [f.name for f in schema.fields]
    out = T.StructType([f for f in schema.fields if f.name in set(cols)])
    ts_cols = [
        f.name for f in out.fields if isinstance(f.dataType, T.TimestampType)
    ]
    sel = ", ".join(cols)
    # range-partition on the dense clause index: n distinct values into
    # n partitions = exactly one clause per task (hash partitioning can
    # collide two clauses into one task, halving read parallelism)
    spec = spark.createDataFrame(
        [(i, c) for i, c in enumerate(clauses)], "part int, clause string"
    ).repartitionByRange(len(clauses), "part")

    def read_partition(batches):
        for pdf in batches:
            for clause in pdf["clause"]:
                q = f"SELECT {sel} FROM {table} WHERE ({clause})"
                if predicate:
                    q += f" AND ({predicate})"
                con = sqlite3.connect(
                    f"file:{db_path}?mode=ro", uri=True, timeout=60
                )
                try:
                    part = pd.read_sql_query(q, con)
                finally:
                    con.close()
                for c in ts_cols:
                    part[c] = pd.to_datetime(
                        part[c], format="%Y-%m-%d %H:%M:%S.%f"
                    )
                yield part

    return spec.mapInPandas(read_partition, schema=out)
