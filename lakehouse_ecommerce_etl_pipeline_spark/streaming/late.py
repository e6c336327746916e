"""Watermark LATE-DATA semantics, pinned by value.

The one streaming behavior the other streaming tiers never value-check
is the drop itself: which late rows a watermarked aggregation ignores
and which finalized windows it emits.  This module stages the events
table as three deterministic arrival files (thirds by time, with a
straggler cohort arriving TWO batches after its event time), drains an
append-mode windowed count, and returns the emitted windows.

Measured semantics (Spark 4.1, microbatch, availableNow,
maxFilesPerTrigger=1 — verified empirically before the oracle was
written, tests/test_stream_late.py re-verifies):

- the watermark APPLIES one batch late: rows of batch b are admitted
  against the watermark computed from batches <= b-2 (the engine
  computes the new watermark when a batch finishes and uses it for
  the NEXT batch's filtering/eviction) — so a one-batch-late row is
  always admitted, a two-batch-late row is dropped iff its WINDOW END
  <= cummax(event time through batch b-2) - delay;
- the drop predicate is on the window end, not the row timestamp
  (a row belonging to a not-yet-evicted window merges even when the
  row itself is older than the watermark);
- availableNow runs a final no-data batch with the fully-updated
  watermark, so the append sink ends up holding exactly the windows
  with window_end <= max(all event time) - delay; newer windows stay
  in state, withheld.

100 TB: this is the operational contract of every streaming rollup —
state is bounded by (delay / window) windows per key, late arrivals
beyond the delay are DROPPED (quantified here per window), and the
accepted-late window between "one batch behind" and "delay behind"
rides for free.  The admit rule above is what an SLA on "how late may
an event be" must be computed from.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain

# deterministic arrival plan over the January 2024 events fixture:
# thirds by event time; the straggler cohort (event_id % 3 == 1 in the
# week before T1) arrives TWO batches late, in the final file
T1 = "2024-01-11 00:00:00"
T2 = "2024-01-21 00:00:00"
DEFER_FROM = "2024-01-04 00:00:00"
DELAY = "3 days"
WINDOW = "1 day"


def arrival_batch_col() -> F.Column:
    b0 = (
        F.when(F.col("ts") < T1, 0)
        .when(F.col("ts") < T2, 1)
        .otherwise(2)
    )
    straggler = (
        (F.col("ts") >= DEFER_FROM)
        & (F.col("ts") < T1)
        & (F.col("event_id") % 3 == 1)
    )
    return F.when(straggler, 2).otherwise(b0)


def windowed_counts_late_drop(
    spark: SparkSession, events: DataFrame, scratch_base: str
) -> DataFrame:
    """Stage ``events`` as three mtime-ordered arrival files, drain the
    watermarked tumbling count (append mode), return the emitted
    windows as (window_start, n_kept)."""
    run = os.path.join(scratch_base, uuid.uuid4().hex[:8])
    raw, ckpt, out = (os.path.join(run, d) for d in ("raw", "ckpt", "out"))
    os.makedirs(raw, exist_ok=True)
    ev = events.select("event_id", "ts").withColumn("b", arrival_batch_col())
    for b in range(3):
        stage = os.path.join(run, f"stage_{b}")
        ev.filter(F.col("b") == b).select("event_id", "ts").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        dst = os.path.join(raw, f"batch_{b}.parquet")
        os.rename(os.path.join(stage, part), dst)
        # pin arrival order for the file source (sorts by mtime)
        os.utime(dst, (1000 * (b + 1), 1000 * (b + 1)))

    schema = spark.read.parquet(raw).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    agg = (
        stream.withWatermark("ts", DELAY)
        .groupBy(F.window("ts", WINDOW).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    drain(
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt),
        raw,
    )
    return spark.read.parquet(out).select(
        F.col("w.start").alias("window_start"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
    )
