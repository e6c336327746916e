"""Analytical-tier queries (SURVEY.md §2.5-§2.9 extension tier + M4):
the aggregation/window/join surface the reference serves via Athena
but never implements. All numeric aggregates use the decimal-exact
helpers (operators/aggregates.py) for engine-portable results.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.operators.aggregates import (
    cents,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from lakehouse_ecommerce_etl_pipeline_spark.operators.sort import top_k
from lakehouse_ecommerce_etl_pipeline_spark.operators.windows import (
    ranked,
    running_sum,
    sessionize,
    with_lag,
)
from lakehouse_ecommerce_etl_pipeline_spark.functions.json import json_get
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores


# --------------------------------------------------------- group-by agg

@register(
    "q_groupby_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           {sql_davg('l_quantity', 'avg_qty')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_agg(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary — the flagship aggregation.
    Hash aggregate with map-side combine; one shuffle on the two
    grouping columns. Integer-lattice sums (cents / cents×basis-points,
    DESIGN §21 rule 3) are exact int64 — bit-identical to the oracle
    on any engine build — and still partial-aggregable at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    disc4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            (F.sum(disc4).cast("double") / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            davg("l_quantity", "avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q_star_join",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {sql_dsum('o.o_totalprice', 'revenue')},
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_star_join(spark, sf_dir):
    """Star-schema join chain with broadcast dimensions: the fact table
    never shuffles — customer/nation/region all broadcast (dims stay
    under the 64 MiB threshold even at large SF; verify
    BroadcastHashJoin in explain). One shuffle total (final group-by)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (extension per SURVEY.md §2.5)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {sql_dsum('o_totalprice', 'sum_price')},
           COUNT(*) AS n_rows
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark, sf_dir):
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) / 100.0 AS sum_price
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        orders=load(spark, sf_dir, "orders"),
    )


@register(
    "q_count_distinct",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_count_distinct(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@register(
    "q_approx_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_exact,
           TRUE AS within_3rsd
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_count_distinct(spark, sf_dir):
    """HLL++ sketch — single pass, mergeable, the 100 TB alternative
    to exact count-distinct's double shuffle. Value-oracled as a
    TOLERANCE CONTRACT (the estimate itself is engine-specific, so it
    cannot cross engines — but its accuracy promise can): the query
    emits the exact distinct count plus whether the sketch landed
    within 3× its configured rsd (0.05 → 15 %), as an integer
    cross-multiplied compare; the oracle asserts exact + TRUE. A
    broken sketch (merge bug, register corruption) fails by value.
    Same pinning pattern as q_freq_items' exact-regime sketch."""
    o = load(spark, sf_dir, "orders")
    approx = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.05).alias("n_approx")
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers_exact")
    )
    diff = F.abs(F.col("n_approx") - F.col("n_customers_exact"))
    return approx.join(exact, "o_orderstatus").select(
        "o_orderstatus",
        "n_customers_exact",
        (diff * 100 <= F.col("n_customers_exact") * 15).alias("within_3rsd"),
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot with explicit values (never let pivot scan for the value
    set at scale — that's an extra job over 100 TB)."""
    piv = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
    )


# ----------------------------------------------------- sort / top-k

@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """Global top-k → TakeOrderedAndProject (per-partition heap +
    driver merge, no total sort; SURVEY.md §2.7)."""
    return top_k(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


@register(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    ORDER BY o_orderdate, o_orderkey LIMIT 100
    """,
)
def q_sort_limit(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------- windows

@register(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           ROW_NUMBER() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey) AS rn
    FROM orders
    """,
)
def q_window_rank(spark, sf_dir):
    """Ranking window — also the deterministic-dedup engine
    (SURVEY.md §2.6)."""
    return ranked(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey")],
        "rn",
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id, ts,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_value
    FROM events
    """,
)
def q_window_lag(spark, sf_dir):
    """lag/lead — the natural derivation of the reference's
    ``days_since_prior_order`` (README.md:87)."""
    return with_lag(
        load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value"),
        "value",
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        alias="prev_value",
    ).drop("value")


@register(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0 AS running_sum
    FROM events
    """,
)
def q_window_frame(spark, sf_dir):
    """Running frame aggregate on the BIGINT cents lattice
    (DESIGN §21 rule 3) for engine-build portability."""
    return running_sum(
        load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value"),
        "value",
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        "running_sum",
    ).drop("value")


@register(
    "q_sessionize",
    oracle="""
    WITH flags AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                   OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, ts,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM flags
    """,
)
def q_sessionize(spark, sf_dir):
    """Sessionization: lag-gap boundary + cumulative sum (30 min gap).
    Streaming twin: session_window (streaming/windows.py)."""
    return sessionize(
        load(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        "user_id",
        "ts",
        1800,
        order_tiebreak=["event_id"],
    )


# ------------------------------------------------------------ JSON

@register(
    "q_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q_json_extract(spark, sf_dir):
    """JSON field extraction from `events.props` — JVM-side
    get_json_object (SURVEY.md §2.9 extension).

    spread_to_cores: the events parquet is 1-3 row groups at test SFs,
    so the CPU-bound JSON parse would serialize on as many cores —
    repartition by CPU cost, not bytes (see session.spread_to_cores).
    Measured 2.0 -> 1.1 s at sf1."""
    return spread_to_cores(load(spark, sf_dir, "events")).select(
        "event_id", json_get("props", "k").cast("int").alias("k")
    )


# -------------------------------------------------- time-bucket agg

@register(
    "q_events_window_agg",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')}
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_events_window_agg(spark, sf_dir):
    """Tumbling 1 h time-bucket aggregation — the batch twin of the
    streaming windowed agg (streaming_q.py runs the readStream
    version of this exact plan)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
