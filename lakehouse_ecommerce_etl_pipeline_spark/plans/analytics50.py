"""Analytics tier L: data-driven recursion, interval coverage,
bidirectional nearest join.

New shapes over I-XLIX: a RECURSIVE tree rollup (subtree aggregates
over an id-derived part hierarchy — the bill-of-materials explosion,
and the first recursion whose depth is DATA-driven rather than a
calendar span), total covered time from overlapping intervals (the
sweep-line union every uptime/SLA report needs — islands generalized
from integers to the continuous line), and the bidirectional nearest
join (as-of that looks BOTH ways and keeps the closer side).

Cross-engine exactness: the tree closure is integer parent-halving
under WITH RECURSIVE (same SQL text both engines); interval unions
are integer epoch arithmetic; nearest-side selection uses integer
gaps with a deterministic tiebreak."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import conf_scope

_TREE_SQL = """
WITH RECURSIVE up(node, anc) AS (
  SELECT p_partkey, p_partkey FROM {part}
  UNION ALL
  SELECT node, CAST(FLOOR(anc / 2) AS BIGINT) FROM up WHERE anc > 1
)
SELECT u.anc AS p_partkey,
       CAST(COUNT(*) AS BIGINT) AS subtree_size,
       CAST(SUM(p.cents) AS BIGINT) AS subtree_cents
FROM up u
JOIN (
  SELECT p_partkey,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
  FROM {part}
) p ON p.p_partkey = u.node
GROUP BY u.anc
"""


@register(
    "q_tree_rollup",
    oracle=_TREE_SQL.format(part="part"),
)
def q_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials-style subtree rollup: parts form an implicit
    binary tree (parent = ⌊key/2⌋, root 1) and every node reports its
    subtree size and total retail value — computed from the
    ancestor-closure built by WITH RECURSIVE (each row climbs
    key-halving steps to the root, so recursion depth is ⌈log₂ n⌉ and
    DATA-driven, unlike the calendar recursion of
    q_recursive_month_series).  The identical SQL text runs on both
    engines; prices roll up as integer cents.

    100 TB: the closure has n·depth rows — for real BOM graphs the
    iterative frontier join (q_bfs_distances' loop) replaces the CTE
    once depth or fan-out is unbounded, and the rollup itself stays
    one partial-aggregated group-by on the closure.  The pattern to
    notice: ancestor closure + group-by turns ANY subtree aggregate
    into two relational ops."""
    # the closure is n·⌈log₂ n⌉ rows — past Spark's default 1M
    # recursion row guard from sf1 upward (200k parts × 18 levels).
    # The guard exists for runaway recursion, not for a depth-bounded
    # closure, so raise it — but only for THIS query's execution: the
    # limit is read when the UnionLoop runs, so the recursion is
    # materialized eagerly under the override and the session value is
    # restored before returning (a lazy return would leak the 200M
    # guard into every later query of the shared bench/test session).
    with conf_scope(spark, {"spark.sql.cteRecursionRowLimit": str(200_000_000)}):
        # n output rows (one per node) — small; the n·depth closure
        # lives only inside this checkpointed job
        return spark.sql(
            _TREE_SQL, part=load(spark, sf_dir, "part")
        ).localCheckpoint(eager=True)


@register(
    "q_interval_union_length",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 1800 AS e,
             event_id
      FROM events
    ),
    m AS (
      SELECT user_id, s, e, event_id,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             CAST(SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS island
      FROM m
    ),
    per_island AS (
      SELECT user_id, island,
             MIN(s) AS start_s, MAX(e) AS end_e
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(end_e - start_s) AS BIGINT) AS covered_seconds
    FROM per_island GROUP BY user_id
    """,
)
def q_interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user when every event opens a 30-minute
    activity interval: overlapping intervals merge (the union, not
    the sum — double-counting overlap is the classic uptime bug).
    Sweep-line as windows: running max of interval ends detects
    island starts, a running sum numbers the islands, and each
    island contributes max(end)−min(start).  Integer epoch seconds
    end-to-end — the continuous-line generalization of
    q_integer_islands.

    100 TB: one sort-based window per user partition (the
    sessionization shuffle) plus two partial-aggregated group-bys;
    no self-join, no explode-per-second.  The same plan computes SLA
    uptime, machine utilization, and watch-time dedup — anything
    shaped 'union of [start, start+d) intervals'."""
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        (F.unix_timestamp("ts").cast("bigint") + 1800).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = iv.withColumn("prev_max", F.max("e").over(w_prev))
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .over(w_run)
        .cast("bigint"),
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("start_s"), F.max("e").alias("end_e")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("end_e") - F.col("start_s"))
        .cast("bigint")
        .alias("covered_seconds"),
    )


@register(
    "q_nearest_view_join",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
                        IGNORE NULLS) OVER wp AS prev_view_id,
             LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END
                        IGNORE NULLS) OVER wp AS prev_view_ts,
             FIRST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
                         IGNORE NULLS) OVER wn AS next_view_id,
             FIRST_VALUE(CASE WHEN event_type = 'view' THEN ts END
                         IGNORE NULLS) OVER wn AS next_view_ts
      FROM events
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           CASE
             WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL
             WHEN next_view_id IS NULL THEN prev_view_id
             WHEN prev_view_id IS NULL THEN next_view_id
             WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_view_ts)) AS BIGINT)
                  <= CAST(FLOOR(epoch(next_view_ts)) AS BIGINT) - CAST(FLOOR(epoch(ts)) AS BIGINT)
               THEN prev_view_id
             ELSE next_view_id
           END AS nearest_view_id,
           CASE
             WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL
             WHEN next_view_id IS NULL
               THEN CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_view_ts)) AS BIGINT)
             WHEN prev_view_id IS NULL
               THEN CAST(FLOOR(epoch(next_view_ts)) AS BIGINT) - CAST(FLOOR(epoch(ts)) AS BIGINT)
             ELSE LEAST(
               CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_view_ts)) AS BIGINT),
               CAST(FLOOR(epoch(next_view_ts)) AS BIGINT) - CAST(FLOOR(epoch(ts)) AS BIGINT))
           END AS gap_seconds
    FROM e WHERE event_type = 'purchase'
    """,
)
def q_nearest_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nearest join: each purchase pairs with its
    CLOSEST view by the same user — backward OR forward in time,
    whichever is nearer (ties prefer the earlier, backward side).
    The one-direction as-of (q_asof_join) is the special case; the
    two-direction form is what sensor alignment and attribution
    sanity checks actually want.  Implemented with the same
    union-free trick: running view endpoints in both directions over
    one sorted window, then a row-local argmin — no join at all.

    100 TB: a single per-user sorted window (two frame passes over
    one shuffle) versus the naive approach's range join plus
    per-purchase argmin aggregation.  Adding more candidate types is
    one more pair of endpoints each."""
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    is_view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(is_view_id, ignorenulls=True).over(wp).alias("prev_view_id"),
        F.last(is_view_ts, ignorenulls=True).over(wp).alias("prev_view_ts"),
        F.first(is_view_id, ignorenulls=True).over(wn).alias("next_view_id"),
        F.first(is_view_ts, ignorenulls=True).over(wn).alias("next_view_ts"),
    )
    ep = lambda c: F.unix_timestamp(c).cast("bigint")  # noqa: E731
    back_gap = ep("ts") - ep("prev_view_ts")
    fwd_gap = ep("next_view_ts") - ep("ts")
    nearest = (
        F.when(
            F.col("prev_view_id").isNull() & F.col("next_view_id").isNull(),
            F.lit(None).cast("bigint"),
        )
        .when(F.col("next_view_id").isNull(), F.col("prev_view_id"))
        .when(F.col("prev_view_id").isNull(), F.col("next_view_id"))
        .when(back_gap <= fwd_gap, F.col("prev_view_id"))
        .otherwise(F.col("next_view_id"))
    )
    gap = (
        F.when(
            F.col("prev_view_id").isNull() & F.col("next_view_id").isNull(),
            F.lit(None).cast("bigint"),
        )
        .when(F.col("next_view_id").isNull(), back_gap)
        .when(F.col("prev_view_id").isNull(), fwd_gap)
        .otherwise(F.least(back_gap, fwd_gap))
    )
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        nearest.alias("nearest_view_id"),
        gap.alias("gap_seconds"),
    )
