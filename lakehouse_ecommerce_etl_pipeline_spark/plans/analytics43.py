"""Analytics tier XLIII: bounded BFS, co-purchase recommendations,
seasonal decomposition.

New shapes over I-XLII: multi-source shortest-path distances under a
hop bound (min-DISTANCE propagation — the third graph fixpoint after
min-label components and weighted pagerank), the also-bought
recommendation table (top-k co-purchase neighbors per part — the
serving artifact a product page reads), and an STL-lite seasonal
decomposition of the daily revenue series (centered trend, day-of-week
seasonal, residual — the diagnostic split behind every forecast
review).

Cross-engine exactness: BFS distances are small integers under a
unique min fixpoint; recommendation ranks sit under a total
(count DESC, neighbor) order; decomposition sums are decimal-
quantized before every multi-row reduction, with divisions performed
once on identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    order_part_edges,
    order_part_pairs,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_SEED_MOD = 997
_HOPS = 3

_TOPK = 3

_PAIRS_CTE = """
    d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


@register(
    "q_bfs_distances",
    oracle=f"""
    WITH {_PAIRS_CTE},
    sym AS (
      SELECT src, dst FROM e
      UNION ALL
      SELECT dst AS src, src AS dst FROM e
    ),
    d0 AS (
      SELECT p_partkey AS node, 0 AS dist FROM part
      WHERE p_partkey % {_SEED_MOD} = 0
    ),
    d1 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL
        SELECT s.dst AS node, d0.dist + 1 FROM sym s
        JOIN d0 ON s.src = d0.node
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d1
        UNION ALL
        SELECT s.dst AS node, d1.dist + 1 FROM sym s
        JOIN d1 ON s.src = d1.node
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d2
        UNION ALL
        SELECT s.dst AS node, d2.dist + 1 FROM sym s
        JOIN d2 ON s.src = d2.node
      ) GROUP BY node
    )
    SELECT node, CAST(dist AS INT) AS dist FROM d3
    """,
)
def q_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS: minimum hop distance (≤ 3) from the
    seed part set over the symmetric co-purchase graph — synchronous
    min-distance relaxation, the shortest-path sibling of the
    min-label component fixpoint (q_connected_components) and the
    blast-radius query behind recall campaigns and substitution
    analysis.  Unreached nodes are absent, seeds are distance 0.

    100 TB: each hop is one join of the (small) frontier-bearing
    distance table against the edge list — distances broadcast, edges
    never move; the hop bound caps work exactly like the iteration
    cap in pagerank, and at real scale the frontier delta (only nodes
    whose distance changed) replaces the full table in the join."""
    half = order_part_edges(spark, sf_dir)
    sym = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # seeds: a filtered scan, cheap to read twice in the first hop;
    # each hop's table is checkpointed, so a hop's plan is one join
    # deep whatever the hop count
    dist = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % _SEED_MOD == 0)
        .select(F.col("p_partkey").alias("node"), F.lit(0).alias("dist"))
    )
    for _ in range(_HOPS):
        msgs = sym.join(F.broadcast(dist), sym["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            msgs.unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


@register(
    "q_also_bought_topk",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    c AS (
      SELECT a.l_partkey AS part, b.l_partkey AS other,
             COUNT(*) AS n_co
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    r AS (
      SELECT part, other, n_co,
             row_number() OVER (PARTITION BY part
                                ORDER BY n_co DESC, other) AS rk
      FROM c
    )
    SELECT part, other, CAST(n_co AS BIGINT) AS n_co,
           CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {_TOPK}
    """,
)
def q_also_bought_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The also-bought table: for every part, its top-3 co-purchase
    neighbors by shared-order count (ties broken by neighbor id — a
    total order, so the serving table is deterministic).  This is the
    recommendation artifact a product page reads; co-counts come from
    the SHARED pair build, symmetrized, so the expensive enumeration
    is paid once per session across the whole graph tier.

    100 TB: per-part top-k is a window rank inside the part
    partition — Spark plans WindowGroupLimit pushdown so only k rows
    per part survive the sort buffer; the co-count table is the same
    shuffle the graph queries already share."""
    pairs = order_part_pairs(spark, sf_dir)
    sym = pairs.select(
        F.col("src").alias("part"), F.col("dst").alias("other")
    ).unionByName(
        pairs.select(F.col("dst").alias("part"), F.col("src").alias("other"))
    )
    c = sym.groupBy("part", "other").agg(F.count(F.lit(1)).alias("n_co"))
    w = Window.partitionBy("part").orderBy(F.desc("n_co"), "other")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select(
            "part",
            "other",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE),
                           dayofweek(o_orderdate)
    ),
    tr AS (
      SELECT d, dow, revenue,
             CAST(SUM(CAST(revenue AS DECIMAL(25,6)))
                    OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) AS DOUBLE) / 7 AS trend,
             COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS wn
      FROM daily
    ),
    det AS (
      SELECT d, dow, revenue, trend, revenue - trend AS detrended
      FROM tr WHERE wn = 7
    ),
    seas AS (
      SELECT dow,
             CAST(SUM(CAST(detrended AS DECIMAL(25,6))) AS DOUBLE)
               / COUNT(*) AS seasonal
      FROM det GROUP BY dow
    )
    SELECT det.d, det.revenue, det.trend, s.seasonal,
           det.detrended - s.seasonal AS residual
    FROM det JOIN seas s ON s.dow = det.dow
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily revenue: centered 7-day moving
    average as trend (full windows only), day-of-week mean of the
    detrended series as seasonal, remainder as residual — the
    classical additive split revenue = trend + seasonal + residual
    that turns "sales dipped" into "trend fell" vs "it was a Sunday".

    Exactness discipline: every multi-row reduction (window sum, dow
    mean) is decimal-quantized so it is associative; the two divisions
    and subtractions act once on identical doubles.  Spark dayofweek
    is 1=Sunday, DuckDB's 0=Sunday — the oracle shifts.

    100 TB: facts collapse to the daily grain before any window (the
    timeline is years ≈ thousands of rows, driver-trivial); the dow
    seasonal is a 7-row broadcast back.  The full STL upgrade (loess,
    robustness weights) keeps this exact shape with heavier math per
    timeline row."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
        )
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("double")
                / F.lit(100.0)
            ).alias("revenue")
        )
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "dow",
        "revenue",
        (
            F.sum(F.col("revenue").cast("decimal(25,6)")).over(w7)
            .cast("double")
            / 7
        ).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("wn"),
    )
    det = tr.filter(F.col("wn") == 7).select(
        "d",
        "dow",
        "revenue",
        "trend",
        (F.col("revenue") - F.col("trend")).alias("detrended"),
    )
    seas = det.groupBy("dow").agg(
        (
            F.sum(F.col("detrended").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal")
    )
    return det.join(F.broadcast(seas), "dow").select(
        "d",
        "revenue",
        "trend",
        "seasonal",
        (F.col("detrended") - F.col("seasonal")).alias("residual"),
    )
