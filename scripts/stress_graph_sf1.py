#!/usr/bin/env python
"""Scale-stress the degree-oriented triangle machinery (VERDICT r8
task 2): q_triangle_count and q_clustering_coefficient at sf0.1 vs
the 10x-replicated sf1 set (scripts/gen_scaled_testdata.py), warmed,
best-of-2, with the shared oriented-edge artifact build timed
separately (it is paid once per session, like order_part_edges: the
first call in this process builds it cold).

Usage: python scripts/stress_graph_sf1.py [sf01_dir] [sf1_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark
from lakehouse_ecommerce_etl_pipeline_spark.plans import REGISTRY
from lakehouse_ecommerce_etl_pipeline_spark.plans.analytics16 import (
    degree_oriented_copurchase_edges,
)

QUERIES = ["q_triangle_count", "q_clustering_coefficient"]


def main() -> None:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata_sf1"
    spark = get_spark()
    for label, sf_dir in (("sf0.1", sf01), ("sf1", sf1)):
        t0 = time.time()
        o = degree_oriented_copurchase_edges(spark, sf_dir)
        n_edges = o.count()
        build = time.time() - t0
        print(
            f"{label}: oriented-edge artifact build {build:.2f}s "
            f"({n_edges} edges)"
        )
        for q in QUERIES:
            fn = REGISTRY[q].fn
            best = None
            for _ in range(3):  # run 1 warms, best of the next 2
                t0 = time.time()
                rows = fn(spark, sf_dir).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            print(f"{label}: {q} {best:.2f}s ({len(rows)} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
