"""Streaming-tier queries — real readStream queries drained with
availableNow so the driver can check them like batch queries."""

from __future__ import annotations

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import events_parquet_path
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.streaming.windows import (
    session_agg_stream,
    stream_dedup,
    tumbling_agg_stream,
)


@register(
    "q_stream_tumbling_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_stream_tumbling_agg(spark, sf_dir):
    """Structured Streaming tumbling-window aggregation (watermark +
    window + decimal-exact sum), drained via availableNow. Checked
    against the BATCH oracle — stream/batch parity is the test."""
    return tumbling_agg_stream(spark, events_parquet_path(spark, sf_dir))


@register(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    """,
)
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup with bounded state
    (dropDuplicatesWithinWatermark on event_id). Value-oracled
    (VERDICT r3 task #4): event_id is unique in the events fixture at
    every scale factor (verified 1000/10000/100000 distinct at
    sf0.001/0.01/0.1), so the deterministic end state of the drained
    stream is the source table itself — the identity IS the check; a
    state-store bug that dropped, duplicated, or mutated a row fails
    by value, and a fixture regeneration that introduced duplicate
    ids would surface as a row-count mismatch rather than silently
    weakening the oracle."""
    return stream_dedup(spark, events_parquet_path(spark, sf_dir), ["event_id"])


@register(
    "q_stream_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals in the state store, drained availableNow; equals
    the batch group-by when drained in one batch. Both sides round to
    2 dp: the inputs are 2-dp values, so the true sum lies ON the 2-dp
    grid and rounding recovers it exactly regardless of each engine's
    float summation order."""
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.streaming.stateful import (
        running_user_totals_stream,
    )

    totals = running_user_totals_stream(spark, events_parquet_path(spark, sf_dir))
    return totals.select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


@register(
    "q_stream_transform_with_state",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_transform_with_state(spark, sf_dir):
    """transformWithState (Spark 4 typed-state-handle API): the same
    per-user running totals as q_stream_stateful_totals, maintained in
    a ValueState handle — same 2-dp rounding rationale. Falls back to
    the applyInPandasWithState implementation on Spark versions
    without the API, keeping the query's semantics identical."""
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.streaming.stateful import (
        running_user_totals_stream,
        running_user_totals_tws,
        transform_with_state_available,
    )

    fn = (
        running_user_totals_tws
        if transform_with_state_available()
        else running_user_totals_stream
    )
    totals = fn(spark, events_parquet_path(spark, sf_dir))
    return totals.select(
        "user_id", "n_events", F.round("sum_value", 2).alias("sum_value")
    )


@register(
    "q_stream_session_window",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flags
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_session_window(spark, sf_dir):
    """Structured Streaming sessionization (session_window gap merge
    in the state store), drained availableNow. The batch oracle is the
    lag-gap island decomposition: a >= 30 min gap starts a new island,
    matching session_window's merge-on-overlap rule, and Spark's
    session end = last event + gap. Integer-micros gap test and
    decimal-exact sums keep both engines bit-identical."""
    return session_agg_stream(spark, events_parquet_path(spark, sf_dir))


@register(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join (events stream x customer
    dimension) + per-segment aggregate, drained availableNow; the
    batch star-join aggregate is the oracle."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
    from lakehouse_ecommerce_etl_pipeline_spark.streaming.joins import (
        stream_static_enrich_agg,
    )

    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_static_enrich_agg(
        spark, events_parquet_path(spark, sf_dir), dim
    )


@register(
    "q_stream_interval_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS left_id,
           p.event_id AS right_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_micros
    FROM events v JOIN events p
      ON v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.user_id = v.user_id
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
    """,
)
def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (view -> purchase within 1 h per
    user) with watermark-bounded state; inner results emit eagerly so
    one availableNow drain equals the batch range join (integer-micros
    interval test on both engines)."""
    from lakehouse_ecommerce_etl_pipeline_spark.streaming.joins import (
        stream_interval_join,
    )

    return stream_interval_join(spark, events_parquet_path(spark, sf_dir))


@register(
    "q_stream_late_drop",
    oracle="""
    WITH ev AS (
      SELECT ts,
             CASE WHEN ts >= TIMESTAMP '2024-01-04 00:00:00'
                       AND ts < TIMESTAMP '2024-01-11 00:00:00'
                       AND event_id % 3 = 1 THEN 2
                  WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0
                  WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1
                  ELSE 2 END AS b
      FROM events
    ),
    m AS (SELECT b, MAX(ts) AS mx FROM ev GROUP BY b),
    wm AS (
      SELECT b,
             MAX(mx) OVER (
               ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING
             ) - INTERVAL 3 DAY AS wmk
      FROM m
    ),
    kept AS (
      SELECT e.ts FROM ev e JOIN wm w ON w.b = e.b
      WHERE w.wmk IS NULL
         OR date_trunc('day', e.ts) + INTERVAL 1 DAY > w.wmk
    ),
    fw AS (SELECT MAX(ts) - INTERVAL 3 DAY AS f FROM ev)
    SELECT date_trunc('day', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT f FROM fw)
    GROUP BY 1
    """,
)
def q_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DROP semantics, value-pinned: the events table
    arrives as three deterministic files (thirds by time; a straggler
    cohort arrives TWO batches after its event time), drained through
    a watermarked (3 d) daily-window count in append mode. The oracle
    unrolls the measured microbatch semantics exactly — the watermark
    applies one batch late (rows of batch b are admitted against
    cummax(event time through batch b-2) - delay), the drop predicate
    is on WINDOW END, and the sink holds exactly the windows with
    window_end <= max(event time) - delay (availableNow's final
    no-data batch flushes them). Straggler rows in old-enough windows
    are genuinely DROPPED (841 of 1000 rows survive at sf0.001) — the
    first tier to value-check the drop itself, not just stream/batch
    parity on fully-ordered input. Semantics derivation:
    streaming/late.py module docstring."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
        load,
        session_dir,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.streaming.late import (
        windowed_counts_late_drop,
    )

    return windowed_counts_late_drop(
        spark,
        load(spark, sf_dir, "events"),
        session_dir(spark, sf_dir, "stream_late_drop"),
    )
