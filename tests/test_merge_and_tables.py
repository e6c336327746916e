from __future__ import annotations

import pytest

from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import (
    assert_unique_keys,
    merge_frames,
    merge_upsert,
)
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed


def test_merge_frames_update_insert_keep(spark):
    target = spark.createDataFrame(
        [("k1", 1), ("k2", 2), ("k3", 3)], "k string, v int"
    )
    source = spark.createDataFrame([("k2", 20), ("k9", 90)], "k string, v int")
    out = {r.k: r.v for r in merge_frames(target, source, ["k"]).collect()}
    assert out == {"k1": 1, "k2": 20, "k3": 3, "k9": 90}


def test_merge_upsert_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "t")
    target = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int")
    source = spark.createDataFrame([("k2", 20), ("k3", 30)], "k string, v int")
    merge_upsert(spark, path, target, ["k"])  # initial write branch
    merge_upsert(spark, path, source, ["k"])
    once = sorted((r.k, r.v) for r in managed.read(spark, path).collect())
    merge_upsert(spark, path, source, ["k"])  # re-run: no change
    twice = sorted((r.k, r.v) for r in managed.read(spark, path).collect())
    assert once == twice == [("k1", 1), ("k2", 20), ("k3", 30)]


def test_managed_table_atomic_versions(spark, tmp_path):
    path = str(tmp_path / "t2")
    assert not managed.exists(path)
    df1 = spark.createDataFrame([(1,)], "v int")
    managed.write(spark, df1, path)
    assert managed.exists(path)
    assert managed.read(spark, path).count() == 1
    df2 = spark.createDataFrame([(1,), (2,)], "v int")
    managed.write(spark, df2, path)
    assert managed.read(spark, path).count() == 2  # new snapshot published


def test_assert_unique_keys_raises_on_dupes(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    with pytest.raises(ValueError, match="duplicate keys"):
        assert_unique_keys(df, ["k"])
    assert_unique_keys(df.limit(1), ["k"])  # unique → no raise


def test_apply_changes_deletes_and_upserts(spark, tmp_path):
    import pandas as pd
    from pyspark.sql import functions as F

    from lakehouse_ecommerce_etl_pipeline_spark.sinks.merge import apply_changes
    from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed

    path = str(tmp_path / "cdc_target")
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]})
    )
    apply_changes(spark, path, base.withColumn("op", F.lit("upsert")), ["k"])

    changes = spark.createDataFrame(
        pd.DataFrame(
            {"k": [2, 3, 5], "v": ["B", None, "E"], "op": ["upsert", "delete", "upsert"]}
        )
    )
    apply_changes(spark, path, changes, ["k"])
    got = {r["k"]: r["v"] for r in managed.read(spark, path).collect()}
    assert got == {1: "a", 2: "B", 4: "d", 5: "E"}  # 3 deleted, 2 updated

    # idempotent re-apply: deletes of absent keys are no-ops,
    # upserts converge to the same snapshot
    apply_changes(spark, path, changes, ["k"])
    again = {r["k"]: r["v"] for r in managed.read(spark, path).collect()}
    assert again == got


def test_dynamic_partition_overwrite_touches_only_landed_partitions(
    spark, tmp_path
):
    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.sinks.writer import (
        overwrite_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        pd.DataFrame(
            {"d": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]}
        )
    )
    write_partitioned(base, path, ["d"])

    # re-land partition 'b' only
    patch = spark.createDataFrame(pd.DataFrame({"d": ["b"], "v": [30]}))
    overwrite_partitions(patch, path, ["d"])

    got = sorted(
        (r["d"], r["v"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [("a", 1), ("a", 2), ("b", 30), ("c", 4)]


def test_max_records_per_file_splits_output(spark, tmp_path):
    import os

    from lakehouse_ecommerce_etl_pipeline_spark.sinks.writer import (
        write_partitioned,
    )

    path = str(tmp_path / "mrpf")
    df = spark.range(1000).selectExpr("id", "'x' AS d").coalesce(1)
    write_partitioned(df, path, ["d"], max_records_per_file=100)
    files = [
        f
        for f in os.listdir(os.path.join(path, "d=x"))
        if f.endswith(".parquet")
    ]
    assert len(files) >= 10  # 1000 rows / 100-row cap
    assert spark.read.parquet(path).count() == 1000


def test_delta_merge_restores_auto_merge_conf(spark, tmp_path, monkeypatch):
    """The Delta MERGE sets schema auto-merge only for its own
    duration: the session conf is unchanged after
    ``merge_upsert(..., evolve_schema=True)``. Runs the Delta branch
    against a stub ``delta.tables`` module."""
    import sys
    import types

    from lakehouse_ecommerce_etl_pipeline_spark.sinks import merge as merge_mod

    key = "spark.databricks.delta.schema.autoMerge.enabled"
    seen = []

    class _Chain:
        def __getattr__(self, _name):
            return lambda *a, **k: self

        def execute(self):
            seen.append(spark.conf.get(key, None))

    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = types.SimpleNamespace(forPath=lambda *a: _Chain())
    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    monkeypatch.setitem(sys.modules, "delta.tables", tables)
    monkeypatch.setattr(merge_mod, "delta_available", lambda: True)
    monkeypatch.setattr(managed, "exists", lambda _path: True)

    source = spark.createDataFrame([("k1", 1)], "k string, v int")
    before = spark.conf.getAll
    merge_upsert(spark, str(tmp_path / "t"), source, ["k"], evolve_schema=True)
    assert seen == ["true"]
    assert spark.conf.getAll == before
