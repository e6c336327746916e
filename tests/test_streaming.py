from __future__ import annotations

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.streaming.windows import (
    stream_dedup,
    tumbling_agg_stream,
)

SF = "/root/testdata/sf0.001"


def test_stream_batch_parity_tumbling_agg(spark):
    """The availableNow stream must produce exactly the batch plan's
    result (stream/batch parity is the guarantee)."""
    from pyspark.sql import functions as F

    streamed = tumbling_agg_stream(spark, f"{SF}/events.parquet")
    batch = (
        load(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_stream_dedup_preserves_distinct_keys(spark):
    out = stream_dedup(spark, f"{SF}/events.parquet", ["event_id"])
    n_distinct = load(spark, SF, "events").select("event_id").distinct().count()
    assert out.count() == n_distinct


def test_transform_with_state_parity_or_fallback(spark):
    """q_stream_transform_with_state equals the batch group-by on
    whichever stateful API the environment supports (ValueState
    transformWithState where protobuf exists, applyInPandasWithState
    otherwise — the gate decides, the semantics must not change)."""
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
    out = fn(spark, f"{SF}/events.parquet")
    got = {(r.user_id, r.n_events, round(r.sum_value, 2)) for r in out.collect()}
    from pyspark.sql import functions as F

    batch = (
        load(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
    )
    want = {(r.user_id, r.n, round(r.s, 2)) for r in batch.collect()}
    assert got == want


def test_conf_scope_restores_set_and_unset_keys(spark):
    """``session.conf_scope`` gives a key that was set its prior value
    back and unsets a key that was unset, after a clean exit and after
    the body raised."""
    import pytest

    from lakehouse_ecommerce_etl_pipeline_spark.session import conf_scope

    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.graft.probe"
    before = spark.conf.get(set_key)
    overrides = {set_key: "3", unset_key: "on"}
    assert spark.conf.get(unset_key, None) is None
    with conf_scope(spark, overrides):
        assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(unset_key) == "on"
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError):
        with conf_scope(spark, overrides):
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_state_sized_shuffle_sizes_and_restores(spark):
    """r13: stateful drains size shuffle partitions to the stream's
    input bytes (state partitioning cannot be AQE-coalesced) and must
    restore the session conf afterwards — including on error."""
    import os

    import pytest

    from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
        state_sized_shuffle,
    )

    src = f"{SF}/events.parquet"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with state_sized_shuffle(spark, src):
        inside = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # tiny source → the floor of 2; never above defaultParallelism
        assert 2 <= inside <= spark.sparkContext.defaultParallelism
        expected = max(2, os.path.getsize(src) // (8 << 20))
        assert inside == min(
            expected, spark.sparkContext.defaultParallelism
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    with pytest.raises(RuntimeError):
        with state_sized_shuffle(spark, src):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_state_sized_shuffle_unsets_a_key_unset_on_entry(spark, tmp_path):
    """A shuffle-partitions key that was unset on entry is unset again
    on exit instead of keeping the stream-sized value, and the input is
    sized over nested directories too."""
    from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import (
        state_sized_shuffle,
    )

    key = "spark.sql.shuffle.partitions"
    # 24 MiB (sparse) in a nested directory: three 8 MiB units
    nested = tmp_path / "src" / "date=2025-04-01"
    nested.mkdir(parents=True)
    with open(nested / "part-0.parquet", "wb") as fh:
        fh.truncate(24 << 20)
    before = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        with state_sized_shuffle(spark, str(tmp_path / "src")):
            assert int(spark.conf.get(key)) == min(
                3, spark.sparkContext.defaultParallelism
            )
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, before)


def test_single_file_streams_keep_same_basename_dirs_apart(spark, tmp_path):
    """Two data dirs that share a basename (``a/sfx`` and ``b/sfx``)
    hold different events; a stream over each single events file must
    read that file, so each drain equals its own batch aggregate."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.operators.aggregates import dsum

    events = pq.read_table(f"{SF}/events.parquet")
    odd = pc.equal(pc.bit_wise_and(events["event_id"], 1), 1)
    subsets = {"a": events.filter(odd), "b": events.filter(pc.invert(odd))}
    for side, table in subsets.items():
        sf_dir = tmp_path / side / "sfx"
        sf_dir.mkdir(parents=True)
        pq.write_table(table, sf_dir / "events.parquet")

    for side in subsets:
        sf_dir = str(tmp_path / side / "sfx")
        streamed = tumbling_agg_stream(spark, f"{sf_dir}/events.parquet")
        batch = (
            load(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        assert sorted(streamed.collect()) == sorted(batch.collect()), side
