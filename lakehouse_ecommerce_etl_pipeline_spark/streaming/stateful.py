"""Custom stateful streaming operator: per-key running aggregates via
``applyInPandasWithState`` — the escape hatch for stream semantics the
built-in operators can't express (arbitrary per-key state machines).

100 TB notes: state lives in the state store keyed by the group — it
shards with the shuffle, so per-key state must stay bounded (here:
two numbers per user). Use watermark-driven timeouts to expire idle
keys in unbounded-key domains; with at-least-once sources pair with
``dropDuplicatesWithinWatermark`` upstream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
    drain_to_memory,
    parquet_stream,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def _make_processor():
    """``StatefulProcessor`` for transformWithStateInPandas — the
    Spark 4 successor API to applyInPandasWithState (typed state
    handles: value/list/map state, timers). Maintains the same
    (count, sum) per-user running totals as ``_update`` above.
    Built inside a factory so the module imports cleanly on Spark
    versions without the API."""
    from pyspark.sql.streaming import StatefulProcessor

    class P(StatefulProcessor):
        def init(self, handle):
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self):
            pass

    return P()


def transform_with_state_available() -> bool:
    """The API needs pyspark >= 4.0 AND protobuf (the state-server
    wire format — transform_with_state_driver_worker imports
    ``google.protobuf``); absent either, callers fall back to
    applyInPandasWithState."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(spark: SparkSession, parquet_path: str) -> DataFrame:
    """transformWithStateInPandas variant of the running per-user
    totals: identical semantics to ``running_user_totals_stream`` but
    on the typed-state-handle API (ValueState in the state store,
    update output mode, no event-time dependency → timeMode None).

    100 TB notes: same sharding story as applyInPandasWithState —
    state co-partitions with the grouping shuffle; the typed handles
    additionally support TTL and timers for bounding idle-key state.
    """
    users = parquet_stream(spark, parquet_path).groupBy("user_id")
    totals = users.transformWithStateInPandas(
        statefulProcessor=_make_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
    return drain_to_memory(totals, "update", parquet_path)


def running_user_totals_stream(
    spark: SparkSession, parquet_path: str
) -> DataFrame:
    """Running (count, sum) per user maintained in the state store,
    drained with availableNow. With a single micro-batch this equals
    the batch groupBy — the parity property the test asserts."""
    users = parquet_stream(spark, parquet_path).groupBy("user_id")
    totals = users.applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_to_memory(totals, "update", parquet_path)
