"""Analytical tier III: date/regexp/array scalar batteries, subqueries,
HAVING, bag set-ops, frequent items — completing the SQL surface an
Athena-style analytical zone serves.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


@register(
    "q_date_fns",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus_30,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CASE dayofweek(o_orderdate) WHEN 0 THEN 1 ELSE dayofweek(o_orderdate) + 1 END AS dow
    FROM orders
    """,
)
def q_date_fns(spark, sf_dir):
    """Date scalar battery. Cross-engine notes: DuckDB date+interval
    yields DATE (kept as date on both sides); day-of-week conventions
    differ (Spark: 1=Sunday … 7=Saturday; DuckDB: 0=Sunday) — the
    oracle maps DuckDB onto Spark's convention."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("plus_30"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.dayofweek("o_orderdate").alias("dow"),
    )


@register(
    "q_regexp_fns",
    oracle="""
    SELECT p_partkey, p_name,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           regexp_matches(p_name, 'red|blue') AS has_color,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled
    FROM part
    """,
)
def q_regexp_fns(spark, sf_dir):
    """Regexp scalar battery (extract/match/replace — Java regex and
    RE2 agree on this subset; DuckDB's replace needs the 'g' flag to
    match Spark's replace-all default)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.col("p_name").rlike("red|blue").alias("has_color"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
    )


@register(
    "q_array_fns",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_elem,
           list_contains(CAST(embedding AS DOUBLE[]), 0.0) AS has_zero
    FROM embeddings
    """,
)
def q_array_fns(spark, sf_dir):
    """Array scalar battery over array<float> (size / index / max /
    contains — 1-based element_at matches DuckDB's 1-based lists)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.array_contains(
            F.col("embedding").cast("array<double>"), F.lit(0.0)
        ).alias("has_zero"),
    )


@register(
    "q_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
)
def q_having(spark, sf_dir):
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey,
           o_totalprice - (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100)
                                                AS BIGINT)) AS DOUBLE)
                                  / 100.0 / COUNT(*) FROM orders)
             AS diff_from_mean
    FROM orders
    """,
)
def q_subquery_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery (Catalyst plans it as a one-row
    broadcast); decimal-exact mean."""
    return spark.sql(
        """
        SELECT o_orderkey,
               o_totalprice - (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100)
                                                    AS BIGINT)) AS DOUBLE)
                                      / 100.0 / COUNT(*) FROM {orders})
                 AS diff_from_mean
        FROM {orders}
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_subquery_exists(spark, sf_dir):
    """Correlated EXISTS — Catalyst decorrelates it to a semi-join."""
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "q_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except_all(spark, sf_dir):
    """Bag EXCEPT ALL (multiplicity-aware complement)."""
    o = load(spark, sf_dir, "orders")
    return o.select("o_custkey").exceptAll(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


@register(
    "q_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect_all(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "O").select("o_custkey").intersectAll(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


@register(
    "q_freq_items",
    oracle="""
    SELECT array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
           AS freq_items
    FROM orders
    """,
)
def q_freq_items(spark, sf_dir):
    """Approximate frequent items (Karp et al. sketch) — single pass,
    the scale path for heavy-hitter detection. Value-oracled (VERDICT
    r3 task #4) by pinning the sketch to its EXACT regime: at support
    0.15 the counter map holds floor(1/0.15) = 6 slots while
    o_orderpriority has 5 distinct values, so no decrement step ever
    fires (per partition or in the merge) and the sketch provably
    returns the exact distinct set — the oracle restates it as the
    sorted DISTINCT list. Sorting canonicalizes the engine-specific
    sketch-map iteration order; a bucketing or merge bug that evicted
    or duplicated an item fails by value."""
    out = load(spark, sf_dir, "orders").freqItems(
        ["o_orderpriority"], support=0.15
    )
    return out.select(
        F.array_join(
            F.sort_array("o_orderpriority_freqItems"), ","
        ).alias("freq_items")
    )
