"""Streaming windowed aggregation + dedup over the events stream.

100 TB / production notes: watermarks bound state (late events beyond
the watermark are dropped); ``dropDuplicatesWithinWatermark`` gives
at-least-once sources exactly-once semantics with bounded state;
``availableNow`` turns the same query into an incremental batch drain
(the Trigger.Once successor) — one query definition serves both
continuous and catch-up modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.operators.aggregates import dsum
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
    drain_to_memory,
    parquet_stream,
)


def _window_agg_stream(
    spark: SparkSession,
    parquet_path: str,
    window: str,
    slide: str | None,
    watermark: str,
    ts_col: str,
) -> DataFrame:
    """Per-(window, event_type) count and exact value sum over the
    parquet stream, drained in complete mode. ``slide=None`` gives
    tumbling windows."""
    agg = (
        parquet_stream(spark, parquet_path, (ts_col,))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(agg, "complete", parquet_path)


def tumbling_agg_stream(
    spark: SparkSession,
    parquet_path: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Run a tumbling-window count/sum aggregation as a real
    Structured Streaming query over a parquet file or directory,
    drained synchronously with availableNow, returning the final result.

    The plan is the exact streaming twin of the batch
    ``q_events_window_agg`` (plans/analytics.py) — same window(),
    same integer-cents sum — so the batch oracle checks the stream.
    """
    return _window_agg_stream(
        spark, parquet_path, window, None, watermark, ts_col
    )


def stream_dedup(
    spark: SparkSession,
    parquet_path: str,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` on the key set."""
    deduped = (
        parquet_stream(spark, parquet_path, (ts_col,))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )
    return drain_to_memory(deduped, "append", parquet_path)


def session_agg_stream(
    spark: SparkSession,
    parquet_path: str,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` (gap-merged
    dynamic windows in the state store), drained with availableNow.

    Session end is Spark's convention: last event ts + gap. The batch
    twin is the lag-gap island computation (operators/windows.py
    sessionize) — a strict >= gap break matches session_window's
    merge-on-overlap rule, so the stream result equals the batch
    oracle when drained in one availableNow pass.

    100 TB: state is O(open sessions); with a watermark the store
    evicts sessions older than the horizon. Keys partition the state
    (shuffle on user_id) — skewed power-users can be pre-split by a
    salt column folded back on merge.
    """
    agg = (
        parquet_stream(spark, parquet_path, (ts_col,))
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(agg, "complete", parquet_path)


def sliding_agg_stream(
    spark: SparkSession,
    parquet_path: str,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window aggregation as a real Structured Streaming
    query (window duration > slide ⇒ every event lands in
    window/slide overlapping windows), drained with availableNow.

    The batch oracle is the explicit two-assignment union (each event
    belongs to the hour-aligned window starting at trunc(ts) and the
    one before it) — stream/batch parity over the OVERLAPPING
    assignment is what distinguishes this from the tumbling twin.

    NOTE on modes: this harness runs outputMode('complete') so the
    memory sink holds every window — in complete mode Spark never
    evicts window state, and the withWatermark call does NOT bound
    the store (it exists so the same plan is append-ready). The
    bounded-state claim applies to the append-mode PRODUCTION shape:
    there, watermark eviction caps state at one row per (open window
    × key) times the window/slide overlap, and a larger slide ratio
    is the first lever when the store grows. Complete mode is chosen
    here deliberately: with availableNow draining a finite directory
    (often a single micro-batch), the watermark only advances between
    micro-batches, so append mode would withhold most or all windows
    from the sink — stream/batch parity over ALL windows is exactly
    what the oracle checks.
    """
    return _window_agg_stream(
        spark, parquet_path, window, slide, watermark, ts_col
    )
