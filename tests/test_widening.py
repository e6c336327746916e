"""Size-gated DECIMAL(38,0) widening for the rank-stat Σd²/U paths
(VERDICT r6 task 4): the wide path must be BIT-EQUAL to the int64
path on the fixture — same exact integers, same single divisions —
so the gate can flip at scale without changing any released value."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _rows(df, cast_decimal_to_long=()):
    for c in cast_decimal_to_long:
        df = df.withColumn(c, F.col(c).cast("long"))
    return sorted(tuple(r) for r in df.collect())


def test_spearman_wide_path_bit_equal(spark, monkeypatch):
    import lakehouse_ecommerce_etl_pipeline_spark.plans.analytics62 as a62

    narrow = a62.q_spearman_corr(spark, SF0001)
    narrow_rows = _rows(narrow)
    assert narrow.schema["sum_d2"].dataType.simpleString() == "bigint"

    monkeypatch.setattr(a62, "_INT64_SAFE_N", 0)
    wide = a62.q_spearman_corr(spark, SF0001)
    assert wide.schema["sum_d2"].dataType.simpleString() == "decimal(38,0)"
    wide_rows = _rows(wide, cast_decimal_to_long=["sum_d2"])

    assert narrow_rows == wide_rows  # n, sum_d2, AND the rho double


def test_mann_whitney_and_rank_centrality_wide_bit_equal(spark, monkeypatch):
    import lakehouse_ecommerce_etl_pipeline_spark.plans.llm37 as llm37

    mw_narrow_df = llm37.q_mann_whitney_u(spark, SF0001)
    assert mw_narrow_df.schema["u2_a"].dataType.simpleString() == "bigint"
    mw_narrow = _rows(mw_narrow_df)
    rc_narrow = _rows(llm37.q_rank_centrality(spark, SF0001))

    # patch the CACHED wrapper (the gate verdict is memoized per
    # application and data dir, so patching the inner fn would be
    # short-circuited)
    monkeypatch.setattr(
        llm37, "_needs_decimal_cached", lambda spark_, sf_dir, scale: True
    )
    mw_wide_df = llm37.q_mann_whitney_u(spark, SF0001)
    # prove the wide path genuinely engaged before comparing values
    assert mw_wide_df.schema["u2_a"].dataType.simpleString() == "decimal(38,0)"
    mw_wide = _rows(mw_wide_df, cast_decimal_to_long=["u2_a", "u2_b"])
    rc_wide = _rows(llm37.q_rank_centrality(spark, SF0001))

    assert mw_narrow == mw_wide
    assert rc_narrow == rc_wide  # the whole fixed-point iteration


def test_needs_decimal_gate_arithmetic(spark):
    """The gate trips exactly where w·scale can escape int64."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm37 import (
        _needs_decimal,
    )

    def n_df(counts):
        return spark.createDataFrame(
            [(f"s{i}", c) for i, c in enumerate(counts)], "source string, n long"
        )

    # 2 * 1e6 * 1e6 * 10^4 = 2e16 < 2^63 — narrow
    assert not _needs_decimal(n_df([10**6, 10**6]), 10_000)
    # 2 * 1e8 * 1e8 * 10^4 = 2e20 >= 2^63 — wide
    assert _needs_decimal(n_df([10**8, 10**8]), 10_000)
    # single source: no pairs, never wide
    assert not _needs_decimal(n_df([10**12]), 10_000)


def test_gate_cache_memoizes_per_application(spark, monkeypatch):
    """The O(k) gate count job runs once for two calls: the verdict is
    memoized under the key ``session_artifact`` builds under, the
    Spark application and the absolute data dir (ADVICE r8: a key that
    disables memoization reruns the job on every invocation)."""
    import lakehouse_ecommerce_etl_pipeline_spark.plans.llm37 as llm37

    calls = {"gate": 0}
    real_gate_counts = llm37._gate_counts

    def counting_gate_counts(docs):
        calls["gate"] += 1
        return real_gate_counts(docs)

    monkeypatch.setattr(llm37, "_gate_counts", counting_gate_counts)
    monkeypatch.setattr(llm37, "_GATE_CACHE", {})

    v1 = llm37._needs_decimal_cached(spark, SF0001, 10_000)
    v2 = llm37._needs_decimal_cached(spark, SF0001 + "/", 10_000)
    assert v1 == v2
    assert calls["gate"] == 1, "the gate verdict was not memoized"
    assert list(llm37._GATE_CACHE) == [
        (spark.sparkContext.applicationId, SF0001, 10_000)
    ]
