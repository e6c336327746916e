"""Parity-tier queries: the reference's own relational operators
(SURVEY.md §2.1, 2.3-2.5, 2.8-2.9) exercised on the driver's star
schema. Role mapping per FIXTURES.md §B: lineitem/orders play
order_items/orders, part plays products.
"""

from __future__ import annotations


from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.operators.dedup import dedup_deterministic
from lakehouse_ecommerce_etl_pipeline_spark.operators.joins import anti_join, semi_join
from lakehouse_ecommerce_etl_pipeline_spark.operators.setops import (
    except_distinct,
    union_all,
)
from lakehouse_ecommerce_etl_pipeline_spark.operators.validate import split_valid_invalid
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.files import read_csv


# ---------------------------------------------------------------- scans

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


@register("q_scan_csv", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_csv(spark, sf_dir):
    """S1 — CSV scan with header + declared schema
    (reference: product_etl.py:42-52). Materializes nation as CSV, then
    scans it back with the declared StructType (no inference)."""
    out = session_artifact(
        spark,
        sf_dir,
        "csv_nation",
        lambda p: load(spark, sf_dir, "nation")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(p),
    )
    return read_csv(spark, out, NATION_SCHEMA)


@register(
    "q_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
    """,
)
def q_scan_parquet(spark, sf_dir):
    """S5 — parquet scan; filter + projection push down to the reader
    (check PushedFilters/ReadSchema in explain)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1995-06-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
    )


# --------------------------------------------- projections / filters

@register("q_project", oracle="SELECT o_orderkey, o_custkey, o_orderdate FROM orders")
def q_project(spark, sf_dir):
    """P1 — column projection (reference: orders_etl.py:56)."""
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")


_ORDERS_REQUIRED = ["o_orderkey", "o_custkey", "o_orderdate"]


@register(
    "q_filter_notnull",
    oracle="""
    SELECT * FROM orders
    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
      AND o_orderdate IS NOT NULL
    """,
)
def q_filter_notnull(spark, sf_dir):
    """P2 — required-field null filter (reference: orders_etl.py:57-59)."""
    valid, _ = split_valid_invalid(load(spark, sf_dir, "orders"), _ORDERS_REQUIRED)
    return valid


@register(
    "q_filter_null_complement",
    oracle="""
    SELECT * FROM orders
    WHERE NOT (o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
               AND o_orderdate IS NOT NULL)
    """,
)
def q_filter_null_complement(spark, sf_dir):
    """P3 — invalid-row complement as a predicate negation, replacing
    the reference's subtract (product_etl.py:58; SURVEY.md §2.3-P3)."""
    _, invalid = split_valid_invalid(load(spark, sf_dir, "orders"), _ORDERS_REQUIRED)
    return invalid


@register(
    "q_filter_string_predicate",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE 'red %' OR p_name LIKE '% bolt'
    """,
)
def q_filter_string_predicate(spark, sf_dir):
    """P4 — prefix/suffix routing predicate (reference: trigger
    lambda_function.py:17 startswith/endswith)."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").startswith("red ") | F.col("p_name").endswith(" bolt")
    ).select("p_partkey", "p_name", "p_type")


# ----------------------------------------------------- dedup / distinct

@register(
    "q_dedup_by_key",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
      FROM lineitem) t
    WHERE rn = 1
    """,
)
def q_dedup_by_key(spark, sf_dir):
    """A1 — deterministic key dedup (reference semantics:
    dropDuplicates, orders_etl.py:74; window-rank variant for oracle
    determinism per SURVEY.md §5)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    return dedup_deterministic(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_suppkey"]
    )


@register("q_distinct", oracle="SELECT DISTINCT o_custkey FROM orders")
def q_distinct(spark, sf_dir):
    """A2 — distinct key projection (reference: order_items_etl.py:46,56)."""
    return load(spark, sf_dir, "orders").select("o_custkey").distinct()


@register("q_count", oracle="SELECT COUNT(*) AS cnt FROM lineitem")
def q_count(spark, sf_dir):
    """A3 — count guard (reference: product_etl.py:64)."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_count_star_sql",
    oracle="SELECT COUNT(*) AS cnt FROM part",
)
def q_count_star_sql(spark, sf_dir):
    """A4 — COUNT(*) validation via the SQL entry point (reference:
    Athena smoke query, lakehouse_etl_stepfunction.json:218)."""
    return spark.sql(
        "SELECT COUNT(*) AS cnt FROM {part}", part=load(spark, sf_dir, "part")
    )


# ------------------------------------------------------------- joins

@register(
    "q_join_leftsemi",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def q_join_leftsemi(spark, sf_dir):
    """J1 — FK semi-join, dim side broadcast (reference:
    order_items_etl.py:100-104; broadcast claim docs:154)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    dim = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return semi_join(li, dim, "l_orderkey")


@register(
    "q_join_leftanti",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def q_join_leftanti(spark, sf_dir):
    """J3 — the FK-violation complement the reference drops
    (SURVEY.md §2.4-J3)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    dim = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return anti_join(li, dim, "l_orderkey")


# ---------------------------------------------------------- set ops

@register(
    "q_except",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark, sf_dir):
    """T1 — EXCEPT DISTINCT, the reference's subtract (product_etl.py:58)."""
    o = load(spark, sf_dir, "orders")
    return except_distinct(
        o.select("o_custkey"),
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey"),
    )


@register(
    "q_union_all",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_union_all(spark, sf_dir):
    """T2 — bag union of batches (reference: sheet concat,
    orders_etl.py:71)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return union_all(
        o.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus"),
        o.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus"),
    )


# ------------------------------------------------------ scalar functions

@register(
    "q_fn_cast_timestamp",
    oracle="""
    SELECT o_orderkey,
           CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts
    FROM orders
    """,
)
def q_fn_cast_timestamp(spark, sf_dir):
    """F2 — string→timestamp normalization (reference:
    orders_etl.py:76-79). Round-trips through a formatted string."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
        .cast("timestamp")
        .alias("ts"),
    )


@register(
    "q_fn_to_date",
    oracle="SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders",
)
def q_fn_to_date(spark, sf_dir):
    """F3 — partition-date derivation (reference: orders_etl.py:80)."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date")
    )


@register(
    "q_fn_string_split",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           string_split(o_orderpriority, '-')[1] AS prio_code,
           string_split(o_orderpriority, '-')[2] AS prio_name
    FROM orders
    """,
)
def q_fn_string_split(spark, sf_dir):
    """F5 — split + element extraction (reference: dataset routing
    ``key.split('/')[1]``, trigger lambda_function.py:23)."""
    o = load(spark, sf_dir, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.element_at(parts, 1).alias("prio_code"),
        F.element_at(parts, 2).alias("prio_name"),
    )


@register("q_fn_current_timestamp")  # rows-only: wall-clock is non-reproducible
def q_fn_current_timestamp(spark, sf_dir):
    """F1 — audit column (reference: orders_etl.py:75). No oracle by
    design (SURVEY.md §5 determinism discipline)."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey")
        .withColumn("ingestion_timestamp", F.current_timestamp())
    )


# ------------------------------------------------- validation pipeline

@register(
    "q_rejected_records",
    oracle="""
    WITH base AS (
      SELECT p_partkey, p_name, p_brand, p_type FROM part
      UNION ALL
      SELECT * FROM (VALUES
        (9000001, CAST(NULL AS VARCHAR), 'Brand#1', 'ECONOMY'),
        (9000002, 'ghost widget', CAST(NULL AS VARCHAR), 'PROMO'),
        (9000003, 'ghost bolt', 'Brand#2', CAST(NULL AS VARCHAR))
      ) v(p_partkey, p_name, p_brand, p_type)
    )
    SELECT p_partkey, p_name, p_brand, p_type,
           'Missing required fields' AS rejection_reason
    FROM base
    WHERE NOT (p_name IS NOT NULL AND p_brand IS NOT NULL AND p_type IS NOT NULL)
    """,
)
def q_rejected_records(spark, sf_dir):
    """K3 — rejected-records split + reason tagging (reference:
    product_etl.py:54-70). Dirty rows injected deterministically since
    the star schema is clean."""
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
        ]
    )
    dirty = spark.createDataFrame(
        [
            (9000001, None, "Brand#1", "ECONOMY"),
            (9000002, "ghost widget", None, "PROMO"),
            (9000003, "ghost bolt", "Brand#2", None),
        ],
        schema,
    )
    base = (
        load(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_type")
        .unionByName(dirty)
    )
    _, invalid = split_valid_invalid(base, ["p_name", "p_brand", "p_type"])
    return invalid.withColumn("rejection_reason", F.lit("Missing required fields"))
