"""JDBC-pattern SQLite source: partition-planning coverage contract,
bounds-never-filter semantics, pushdown equivalence, and clause-family
equality."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark.plans.analytics57 import (
    orders_via_sqlite,
)
from lakehouse_ecommerce_etl_pipeline_spark.sources.sqlite import (
    mod_clauses,
    range_clauses,
)

SF0001 = "/root/testdata/sf0.001"


def test_range_clauses_cover_and_disjoint():
    """Every integer key lands in EXACTLY one clause — including keys
    far outside [lower, upper): bounds size partitions, never filter
    (the JDBC-source contract)."""
    clauses = range_clauses("k", 10, 90, 4)
    assert len(clauses) == 4

    def matches(k):
        hits = []
        for i, c in enumerate(clauses):
            expr = c.replace("k", str(k)).replace("AND", "and")
            if eval(expr):  # arithmetic on ints only — test-local
                hits.append(i)
        return hits

    for k in [-1000, 0, 9, 10, 29, 30, 55, 89, 90, 10**6]:
        assert len(matches(k)) == 1, (k, matches(k))
    # ordered: first clause takes the low tail, last the high tail
    assert matches(-1000) == [0] and matches(10**6) == [3]


def test_degenerate_planning():
    assert range_clauses("k", 5, 5, 4) == ["1 = 1"]
    assert range_clauses("k", 0, 100, 1) == ["1 = 1"]
    # more partitions than keys collapses to one clause per key
    assert len(range_clauses("k", 0, 2, 8)) == 2


def test_rows_outside_bounds_still_read(spark):
    """Deliberately WRONG bounds (inset into the key domain) must not
    lose rows — the unbounded first/last partitions absorb the tails."""
    full = orders_via_sqlite(spark, SF0001, num_partitions=4)
    n = full.count()
    # replicate with inset bounds via the raw clause planner
    from lakehouse_ecommerce_etl_pipeline_spark.plans.analytics57 import _db
    from lakehouse_ecommerce_etl_pipeline_spark.sources.sqlite import (
        _ORDERS_SCHEMA,
        scan_sqlite,
    )

    inset = scan_sqlite(
        spark,
        _db(spark, SF0001),
        "orders",
        _ORDERS_SCHEMA,
        range_clauses("o_orderkey", 500, 900, 4),
    )
    assert inset.count() == n


def test_hash_mod_equals_range_read(spark):
    """Both clause families produce the identical table."""
    a = orders_via_sqlite(spark, SF0001, num_partitions=4)
    b = orders_via_sqlite(spark, SF0001, num_partitions=5, hash_mod=True)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_pushdown_equals_post_filter(spark):
    """Predicate pushed into the database ≡ filtering after transfer;
    pruned columns are the only ones in the schema."""
    pushed = orders_via_sqlite(
        spark,
        SF0001,
        predicate="o_orderstatus = 'F'",
        columns=["o_orderkey", "o_orderstatus"],
    )
    assert pushed.columns == ["o_orderkey", "o_orderstatus"]
    post = (
        orders_via_sqlite(spark, SF0001)
        .filter("o_orderstatus = 'F'")
        .select("o_orderkey", "o_orderstatus")
    )
    assert pushed.exceptAll(post).isEmpty() and post.exceptAll(pushed).isEmpty()
