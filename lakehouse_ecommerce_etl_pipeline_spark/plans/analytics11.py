"""Analytics tier XI: recursive CTEs and correlated LATERAL joins —
the Spark 4 SQL-surface features the ad-hoc analytics zone exposes.

Cross-engine exactness: the recursive series is month-granularity
timestamp arithmetic (INTERVAL 1 MONTH steps from a date_trunc'd
anchor — identical calendar semantics) joined to counts and
DECIMAL-exact sums; the LATERAL top-k totally orders with an explicit
name tiebreak so LIMIT picks the same rows on both engines.

Reference parity: the reference's Athena zone is plain SQL-on-parquet
(README.md:30) — recursive CTEs and lateral joins are the two SQL
shapes beyond its Glue jobs that such a zone serves; the monthly
series mirrors its month-batched ingest cadence
(step_functions/lakehouse_etl_stepfunction.json:37 — one Apr-2025
file per dataset per run).
"""

from __future__ import annotations

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_MONTH_SERIES_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT (SELECT date_trunc('month', MIN(o_orderdate)) FROM {orders})
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months
  WHERE m < (SELECT date_trunc('month', MAX(o_orderdate)) FROM {orders})
),
monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 AS revenue
  FROM {orders} GROUP BY date_trunc('month', o_orderdate)
)
SELECT months.m AS month_start,
       CAST(COALESCE(monthly.n_orders, 0) AS BIGINT) AS n_orders,
       COALESCE(monthly.revenue, CAST(0.0 AS DOUBLE)) AS revenue
FROM months LEFT JOIN monthly ON months.m = monthly.m
ORDER BY month_start
"""


@register(
    "q_recursive_month_series",
    oracle=_MONTH_SERIES_SQL.format(orders="orders"),
)
def q_recursive_month_series(spark, sf_dir):
    """Dense monthly order series via WITH RECURSIVE (Spark 4
    recursive CTE): generate every month between the global min and
    max order date, then left-join observed per-month counts/revenue
    so empty months appear as explicit zeros. Same SQL text runs on
    DuckDB (INTERVAL 1 MONTH from a date_trunc anchor is exact
    calendar arithmetic on both).

    100 TB: the recursion is driver-thin — one row per month, ~linear
    in span, never in data size; the heavy side stays a single
    map-side-combinable monthly aggregation. The span bounds are
    pre-computed ONCE and inlined as literals: a scalar subquery in
    the recursion's WHERE would otherwise re-scan orders on every
    iteration (measured 24.7 s → 3 s at sf0.01). (For very long
    spans, sequence()+explode — q_gapfill_locf — is the shuffle-free
    alternative; this query exists to cover the recursive operator.)"""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders")
    lo, hi = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")),
        F.date_trunc("month", F.max("o_orderdate")),
    ).first()
    sql = _MONTH_SERIES_SQL.replace(
        "(SELECT date_trunc('month', MIN(o_orderdate)) FROM {orders})",
        f"TIMESTAMP '{lo}'",
    ).replace(
        "(SELECT date_trunc('month', MAX(o_orderdate)) FROM {orders})",
        f"TIMESTAMP '{hi}'",
    )
    return spark.sql(sql, orders=orders)


_LATERAL_TOPK_SQL = """
SELECT r.r_name, t.n_name, t.n_cust
FROM {region} r,
LATERAL (
  SELECT n.n_name, COUNT(c.c_custkey) AS n_cust
  FROM {nation} n LEFT JOIN {customer} c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_cust DESC, n.n_name
  LIMIT 2
) t
ORDER BY r.r_name, t.n_cust DESC, t.n_name
"""


@register(
    "q_lateral_topk",
    oracle=_LATERAL_TOPK_SQL.format(
        region="region", nation="nation", customer="customer"
    ),
)
def q_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery: for every region, the top-2
    nations by customer count — the "top-k related rows per outer
    row" shape. Total order (count DESC, name) makes LIMIT
    deterministic on both engines.

    100 TB: Catalyst decorrelates this into an aggregate + rank-
    filter join rather than executing the subquery per outer row —
    same physical shape as the window top-k (q_topk), which is the
    API to prefer when the outer table is large; LATERAL is covered
    here as SQL surface."""
    return spark.sql(
        _LATERAL_TOPK_SQL,
        region=load(spark, sf_dir, "region"),
        nation=load(spark, sf_dir, "nation"),
        customer=load(spark, sf_dir, "customer"),
    )
