"""Analytics tier XLI: nested / denormalized data models.

New axis over I-XL: the corpus so far is flat-relational; lakehouses
routinely store DENORMALIZED documents — an order with its line items
embedded as array<struct> — because one wide scan beats a join at
read time.  This tier materializes that nested table (orders ⨝
collect_list(lineitem), session-scoped scratch parquet) and pins the
two operations that make nested models safe: lossless explode back to
relational form (oracle: the plain join), and nested-field projection
with SCHEMA PRUNING (reading one leaf of a struct scans only that
leaf — the plan's ReadSchema is the proof, the oracle pins values).

Cross-engine exactness: the nested build is a deterministic function
of orders/lineitem; every emitted value is a source column.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


def nested_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The denormalized order document: header fields plus an
    ``items array<struct<linenumber, partkey, quantity, price>>``
    sorted by line number, materialized once per session.

    100 TB: the build is ONE co-partitioned shuffle (group line items
    by order key) against the header join; after that, every consumer
    reads orders and their items in a single scan with no join — the
    read-optimized layout that pays for itself the second time any
    order-scoped query runs."""
    def build(out: str) -> None:
        items = (
            load(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey",
                F.struct(
                    F.col("l_linenumber").alias("linenumber"),
                    F.col("l_partkey").alias("partkey"),
                    F.col("l_quantity").alias("quantity"),
                    F.col("l_extendedprice").alias("price"),
                ).alias("item"),
            )
            .groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_list("item")).alias("items"))
        )
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
        )
        orders.join(
            items, orders["o_orderkey"] == items["l_orderkey"], "left"
        ).select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "items"
        ).write.mode("overwrite").parquet(out)

    path = session_artifact(spark, sf_dir, "nested_orders", build)
    return spark.read.parquet(path)


@register(
    "q_nested_denormalize_explode",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           l.l_linenumber AS linenumber,
           l.l_partkey AS partkey,
           l.l_quantity AS quantity,
           l.l_extendedprice AS price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def q_nested_denormalize_explode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round trip of the denormalized model: the nested order document
    exploded back to one row per line item equals the plain
    orders ⨝ lineitem join — losslessness of
    collect_list → array_sort → explode is the assertion (orders with
    no items drop out of both sides identically: inner-join oracle,
    non-null explode).

    100 TB: the explode is scan-local (no shuffle — the join already
    happened at WRITE time); this inversion is what you run when a
    consumer needs relational form, and its cost is the reason you
    keep BOTH layouts only when both access patterns are hot."""
    n = nested_orders(spark, sf_dir)
    return (
        n.filter(F.col("items").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.explode("items").alias("it"),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("it.linenumber").alias("linenumber"),
            F.col("it.partkey").alias("partkey"),
            F.col("it.quantity").alias("quantity"),
            F.col("it.price").alias("price"),
        )
    )


@register(
    "q_nested_field_pruning",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               AS total_qty,
             CAST(COUNT(*) AS INT) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, p.n_items, p.total_qty
    FROM orders o JOIN per_order p ON p.l_orderkey = o.o_orderkey
    """,
)
def q_nested_field_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-field projection with schema pruning: per-order item
    count and total quantity computed ARRAY-SIDE from the nested
    document — size(items) and a decimal-exact aggregate() fold over
    items.quantity — so the parquet scan reads ONLY the quantity leaf
    of the struct array (`.explain` ReadSchema:
    items.element.quantity), never partkey/price/linenumber.  The
    oracle recomputes both from the relational source.

    100 TB: nested schema pruning is THE reason the denormalized
    layout stays cheap — a wide document table where every query reads
    only its leaves behaves like a narrow table per query; without
    pruning (or with it broken by an opaque UDF over the whole
    struct) every scan pays the full document width."""
    n = nested_orders(spark, sf_dir)
    # project the LEAF ARRAY first (GetArrayStructFields) — the shape
    # the nested-schema pruner understands; folding the struct inside
    # an aggregate() lambda instead would read the whole document
    # (lambda field accesses defeat pruning — verified via explain)
    qty = n.filter(F.col("items").isNotNull()).select(
        "o_orderkey", F.col("items.quantity").alias("qtys")
    )
    return qty.select(
        "o_orderkey",
        F.size("qtys").alias("n_items"),
        F.expr(
            "CAST(aggregate(qtys, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + CAST(x AS BIGINT)) AS DOUBLE)"
        ).alias("total_qty"),
    )
