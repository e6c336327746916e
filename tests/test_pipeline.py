"""End-to-end pipeline test per FIXTURES.md §A4: run the three-dataset
DAG over dirty fixtures, assert PK uniqueness, FK closure, rejected
counts, and idempotency (second run is a marker-skip no-op)."""

from __future__ import annotations

import os

import pytest

from lakehouse_ecommerce_etl_pipeline_spark.pipeline import run_pipeline
from lakehouse_ecommerce_etl_pipeline_spark.pipeline.driver import table_path
from lakehouse_ecommerce_etl_pipeline_spark.sinks.quarantine import quarantine_path
from lakehouse_ecommerce_etl_pipeline_spark.sources import table as managed


def _snapshot(spark, base, dataset, drop=("ingestion_timestamp",)):
    df = managed.read(spark, table_path(base, dataset))
    return sorted(
        tuple(row) for row in df.drop(*drop).collect()
    )


def test_pipeline_end_to_end(spark, raw_zone):
    results = run_pipeline(spark, raw_zone)

    # products: 8 raw - 2 null-rejects = 6 valid, -1 dup = 5 loaded
    assert results["products"] == {"loaded": 5, "rejected": 2}

    # orders: 20 good + 3 dirty (1 dup-key merged, 2 null-rejects) → 20
    assert results["orders"]["loaded"] == 20
    assert results["orders"]["rejected"] == 2

    # order_items: 40 good + dup(i0 merged) + null reject + 2 FK rejects
    assert results["order_items"]["loaded"] == 40
    assert results["order_items"]["rejected"] == 3

    orders = managed.read(spark, table_path(raw_zone, "orders"))
    items = managed.read(spark, table_path(raw_zone, "order_items"))
    products = managed.read(spark, table_path(raw_zone, "products"))

    # PK uniqueness
    for df, k in [(orders, "order_id"), (items, "id"), (products, "product_id")]:
        assert df.count() == df.select(k).distinct().count()

    # FK closure of order_items
    assert items.join(orders, "order_id", "left_anti").count() == 0
    assert items.join(products, "product_id", "left_anti").count() == 0

    # audit/typed columns present
    assert dict(orders.dtypes)["total_amount"] == "decimal(12,2)"
    assert dict(orders.dtypes)["date"] == "date"
    assert dict(items.dtypes)["reordered"] == "boolean"

    # quarantine tables hold the rejects with reasons
    rej = managed.read(spark, quarantine_path(table_path(raw_zone, "order_items")))
    reasons = sorted(r.rejection_reason for r in rej.collect())
    assert reasons == [
        "FK violation: order_id",
        "FK violation: product_id",
        "Missing required fields",
    ]

    # raw files archived, raw zone drained
    assert os.listdir(os.path.join(raw_zone, "raw", "orders")) == []
    assert len(os.listdir(os.path.join(raw_zone, "archived", "orders"))) == 1

    # idempotency: rerun is a marker-skip no-op (nothing to discover,
    # markers present) — tables byte-identical
    before = {d: _snapshot(spark, raw_zone, d) for d in ("products", "orders", "order_items")}
    results2 = run_pipeline(spark, raw_zone)
    assert results2 == {}  # nothing new processed
    after = {d: _snapshot(spark, raw_zone, d) for d in ("products", "orders", "order_items")}
    assert before == after


def test_pipeline_marker_skip_on_restored_file(spark, raw_zone, tmp_path):
    """A file that reappears after processing is skipped via the marker
    log (the reference's *intended* O1 semantics)."""
    run_pipeline(spark, raw_zone)
    # restore the archived products file into raw/
    src = os.path.join(raw_zone, "archived", "products", "products.csv")
    dst = os.path.join(raw_zone, "raw", "products", "products.csv")
    import shutil

    shutil.copy(src, dst)
    results = run_pipeline(spark, raw_zone)
    assert results == {}  # marker hit → skipped
    assert os.path.exists(dst)  # not re-archived


def test_pipeline_second_monthly_batch_upserts(spark, raw_zone):
    """The reference's real cadence: a May batch lands after April.
    Overlapping keys update in place (MERGE), new keys insert, markers
    accumulate per file (reference: monthly file naming,
    lakehouse_etl_stepfunction.json:96)."""
    import datetime as dt

    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
        write_fake_workbook,
    )

    run_pipeline(spark, raw_zone)
    orders_before = managed.read(spark, table_path(raw_zone, "orders"))
    assert orders_before.count() == 20

    t1 = dt.datetime(2025, 5, 1, 9, 0, 0)
    may = pd.DataFrame(
        [
            # update: o5 re-sent with a corrected amount
            {"order_num": "n5", "order_id": "o5", "user_id": "u0",
             "order_timestamp": t1, "total_amount": 777.77},
            # inserts: two genuinely new orders
            {"order_num": "n100", "order_id": "o100", "user_id": "u1",
             "order_timestamp": t1, "total_amount": 50.0},
            {"order_num": "n101", "order_id": "o101", "user_id": "u2",
             "order_timestamp": t1, "total_amount": 60.0},
        ]
    )
    write_fake_workbook(
        os.path.join(raw_zone, "raw", "orders", "orders_may_2025.bundle"),
        {"Sheet1": may},
    )
    results = run_pipeline(spark, raw_zone)
    assert results["orders"]["loaded"] == 22  # 20 + 2 inserts

    orders = managed.read(spark, table_path(raw_zone, "orders"))
    row = orders.filter("order_id = 'o5'").collect()[0]
    assert float(row.total_amount) == 777.77  # updated in place
    assert str(row.date) == "2025-05-01"      # re-derived partition col
    assert orders.filter("order_id IN ('o100','o101')").count() == 2
    # both monthly files archived + marked
    archived = sorted(os.listdir(os.path.join(raw_zone, "archived", "orders")))
    assert archived == ["orders_apr_2025.bundle", "orders_may_2025.bundle"]


def test_cli_entrypoint_runs_dag_and_prints_summary(spark, raw_zone, capsys):
    import json

    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.__main__ import main

    rc = main([str(raw_zone)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["datasets"]) == {"products", "orders", "order_items"}
    # second invocation: marker log skips everything, summary is empty
    rc = main([str(raw_zone)])
    assert rc == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["datasets"] == {}


def _items_row(**kw):
    import datetime as dt

    row = {"id": "iy", "order_id": "o1", "user_id": "u1",
           "days_since_prior_order": 1, "product_id": "p1",
           "add_to_cart_order": 1, "reordered": 0,
           "order_timestamp": dt.datetime(2025, 4, 1, 12, 0, 0)}
    row.update(kw)
    return row


def test_pipeline_sums_rejects_over_files_of_one_dataset(spark, raw_zone):
    """Two orders workbooks in one run: ``rejected`` sums over both
    files, ``loaded`` is the table's COUNT(*) after the last one."""
    import datetime as dt

    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
        write_fake_workbook,
    )

    t1 = dt.datetime(2025, 5, 1, 9, 0, 0)
    may = pd.DataFrame(
        [
            {"order_num": "n100", "order_id": "o100", "user_id": "u1",
             "order_timestamp": t1, "total_amount": 50.0},
            {"order_num": "n101", "order_id": "o101", "user_id": None,
             "order_timestamp": t1, "total_amount": 60.0},
        ]
    )
    write_fake_workbook(
        os.path.join(raw_zone, "raw", "orders", "orders_may_2025.bundle"),
        {"Sheet1": may},
    )
    results = run_pipeline(spark, raw_zone)
    # apr: 20 loaded, 2 rejected; may: +1 insert, 1 null reject
    assert results["orders"] == {"loaded": 21, "rejected": 3}
    rej = managed.read(spark, quarantine_path(table_path(raw_zone, "orders")))
    assert rej.count() == 3


def test_reject_reason_precedence_and_quarantine_columns(spark, raw_zone):
    """One CASE chain tags each reject: a missing required field wins
    over a dangling FK, and the first dangling FK in declaration order
    (order_id before product_id) names the violation."""
    import pandas as pd

    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.jobs import (
        ORDER_ITEMS_SCHEMA,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
        write_fake_workbook,
    )

    extra = pd.DataFrame(
        [
            _items_row(id="iy1", user_id=None, order_id="o_missing"),
            _items_row(id="iy2", order_id="o_missing", product_id="p_missing"),
        ]
    )
    write_fake_workbook(
        os.path.join(raw_zone, "raw", "order_items", "order_items_may_2025.bundle"),
        {"Sheet1": extra},
    )
    results = run_pipeline(spark, raw_zone)
    assert results["order_items"] == {"loaded": 40, "rejected": 5}

    rej = managed.read(spark, quarantine_path(table_path(raw_zone, "order_items")))
    assert rej.columns == [f.name for f in ORDER_ITEMS_SCHEMA.fields] + ["rejection_reason"]
    reasons = {r.id: r.rejection_reason for r in rej.filter("id LIKE 'iy%'").collect()}
    assert reasons == {
        "iy1": "Missing required fields",
        "iy2": "FK violation: order_id",
    }


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("fail_first_merge", [False, True])
def test_run_pipeline_leaves_no_cached_blocks(spark, raw_zone, monkeypatch, fail_first_merge):
    """The per-file tagged frame is unpersisted after the file, and
    after a failed attempt that the retry then repeats."""
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline import driver

    calls = []
    if fail_first_merge:
        real = driver.merge_upsert

        def flaky(*args, **kwargs):
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("injected MERGE failure")
            return real(*args, **kwargs)

        monkeypatch.setattr(driver, "merge_upsert", flaky)

    before = _persistent_rdds(spark)
    results = run_pipeline(spark, raw_zone, retry_delay=0.0)
    assert _persistent_rdds(spark) == before
    assert results["order_items"] == {"loaded": 40, "rejected": 3}
    if fail_first_merge:
        assert len(calls) == 4  # 3 files, the first one retried


# jobs of one order_items run_dataset over the fixture zone: one parse
# and one tagging pass feed the reject count, quarantine and MERGE
RUN_DATASET_MAX_JOBS = 12  # 20 before the single tagging pass


def test_run_dataset_job_count(spark, raw_zone):
    """A re-parse of the workbook or a re-broadcast of an FK key set
    per action shows as extra Spark jobs."""
    from lakehouse_ecommerce_etl_pipeline_spark.pipeline.driver import run_dataset

    def only(dataset):
        d = os.path.join(raw_zone, "raw", dataset)
        (name,) = os.listdir(d)
        return os.path.join(d, name)

    for dataset in ("products", "orders"):
        run_dataset(spark, raw_zone, dataset, only(dataset))
    sc = spark.sparkContext
    group = "test_run_dataset_job_count"
    sc.setJobGroup(group, "order_items run_dataset")
    try:
        counts = run_dataset(spark, raw_zone, "order_items", only("order_items"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {"loaded": 40, "rejected": 3}
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print("order_items run_dataset jobs:", n_jobs)
    assert n_jobs <= RUN_DATASET_MAX_JOBS


def test_processed_log_runs_no_spark_jobs(spark, tmp_path):
    """Marking and checking a processed file is one marker file per
    file: a create and a listing, never a Spark job."""
    from lakehouse_ecommerce_etl_pipeline_spark.sinks import processed_log

    base = str(tmp_path / "processed")
    sc = spark.sparkContext
    group = "test_processed_log_runs_no_spark_jobs"
    sc.setJobGroup(group, "processed_log mark + check")
    try:
        assert processed_log.processed_files(spark, base) == set()
        assert not processed_log.is_processed(spark, base, "orders", "a.xlsx")
        processed_log.mark_processed(spark, base, "orders", "a.xlsx")
        processed_log.mark_processed(spark, base, "orders", "b.xlsx")
        processed_log.mark_processed(spark, base, "products", "a.xlsx")
        processed_log.mark_processed(spark, base, "orders", "a.xlsx")  # re-mark
        assert processed_log.is_processed(spark, base, "orders", "a.xlsx")
        assert not processed_log.is_processed(spark, base, "order_items", "a.xlsx")
        assert processed_log.processed_files(spark, base) == {
            ("orders", "a.xlsx"),
            ("orders", "b.xlsx"),
            ("products", "a.xlsx"),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    marker_dir = os.path.join(processed_log.log_path(base), "orders")
    assert sorted(os.listdir(marker_dir)) == ["a.xlsx", "b.xlsx"]
