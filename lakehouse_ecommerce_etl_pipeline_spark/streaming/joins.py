"""Streaming joins: stream-static enrichment and stream-stream
interval joins, drained with availableNow so batch oracles check them.

100 TB notes: a stream-static join re-reads the static side per
micro-batch — broadcast it when dimension-sized (Spark plans it as a
broadcast join automatically under the threshold). Stream-stream
joins buffer BOTH sides in the state store; the watermark plus the
time-range join condition bound that state (rows older than
watermark - upper-bound are evicted). Without the range condition the
state grows without bound — never ship an unconstrained stream-stream
join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.operators.aggregates import dsum
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
    drain_to_memory,
    parquet_stream,
)


def stream_static_enrich_agg(
    spark: SparkSession, events_path: str, static_dim: DataFrame
) -> DataFrame:
    """Stream-static join (events stream enriched with a dimension
    table) followed by a per-segment aggregate — the streaming twin of
    the star-join + group-by. The static side joins fresh each
    micro-batch (no state), broadcast under the AQE threshold."""
    stream = parquet_stream(spark, events_path)
    joined = stream.join(
        static_dim, stream["user_id"] == static_dim["c_custkey"], "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
    )
    return drain_to_memory(agg, "complete", events_path)


def _events_of_type(
    spark: SparkSession, events_path: str, event_type: str, side: str
) -> DataFrame:
    """One watermarked side of the interval join: the ``event_type``
    events as (<s>_user, <side>_id, <s>_ts), ``s`` the side's initial."""
    s = side[0]
    return (
        parquet_stream(spark, events_path)
        .filter(F.col("event_type") == event_type)
        .select(
            F.col("user_id").alias(f"{s}_user"),
            F.col("event_id").alias(f"{side}_id"),
            F.col("ts").alias(f"{s}_ts"),
        )
        .withWatermark(f"{s}_ts", "1 hour")
    )


def _interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str,
    right_type: str,
    horizon: str,
    how: str,
) -> DataFrame:
    left = _events_of_type(spark, events_path, left_type, "left")
    right = _events_of_type(spark, events_path, right_type, "right")
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") < F.col("l_ts") + F.expr(horizon)),
        how,
    ).select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_micros"),
    )
    return drain_to_memory(joined, "append", events_path)


def stream_interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "view",
    right_type: str = "purchase",
    horizon: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Stream-stream interval join: for every `left_type` event, the
    same user's `right_type` events within [ts, ts + horizon). Both
    sides carry watermarks and the join carries the time-range
    condition, so state is bounded; inner-join results emit eagerly,
    so one availableNow drain yields the complete batch answer."""
    return _interval_join(
        spark, events_path, left_type, right_type, horizon, "inner"
    )


def stream_interval_join_outer(
    spark: SparkSession,
    events_path: str,
    left_type: str = "view",
    right_type: str = "purchase",
    horizon: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    ``stream_interval_join``, but views with NO purchase in their
    horizon also emit — null-padded, once the watermark passes the end
    of their interval and the state store can prove no match is
    coming. That proof requirement is the semantic difference from
    batch: a view whose interval is still open when the stream ends
    (l_ts + horizon > final watermark) stays in state and never emits,
    so the batch oracle must carry the same cutoff.

    100 TB: identical state bounds to the inner variant (both sides
    buffered inside watermark + range); the outer emission adds no
    state, only an eviction-time scan — late-epoch rows held back are
    the price of correct no-match proofs."""
    return _interval_join(
        spark, events_path, left_type, right_type, horizon, "leftOuter"
    )
