#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ...}

Each query executes to completion through the noop sink (full compute,
no driver-side result transfer — the fair way to time a distributed
plan). Timings exclude session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_ecommerce_etl_pipeline_spark import plans
from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark

# Headline set: one per operator family, scale-relevant shapes.
HEADLINE = [
    "q_groupby_agg",        # TPC-H Q1: scan + hash agg
    "q_star_join",          # broadcast star join + agg
    "q_join_leftsemi",      # FK semi join
    "q_merge_upsert",       # MERGE relational core (anti join + union)
    "q_dedup_by_key",       # window dedup (shuffle + sort)
    "q_window_rank",        # ranking window
    "q_topk",               # TakeOrderedAndProject
    "q_events_window_agg",  # time-bucket agg
    "q_json_extract",       # JSON projection
    "q_sessionize",         # lag + cumsum session assignment
    "q_dedup_exact",        # content-hash dedup (documents)
    "q_minhash_signatures", # explode + 8-way min agg
    "q_text_stats",         # codegen string metrics
    "q_similarity_topk",    # brute-force cosine top-k
    "q_tpch_q3_shipping_priority",  # fact-fact join + top-k
    "q_tpch_q5_local_supplier",     # 6-way star join
    "q_tpch_q6_forecast_revenue",   # scan-filter-agg with full pushdown
    "q_asof_join",          # union+window as-of composition
    "q_enrich_derived",     # decimal-exact derived column
    "q_cohort_retention",   # self-join + count-distinct matrix
    "q_market_basket",      # fact self-join pair mining + top-k
    "q_bloom_prefilter_join",  # manual runtime-filter semi join
    "q_pagerank",           # 3-iteration fixed-point graph fixpoint
    # round-4 additions (VERDICT r3 task #6): the round-3 tiers enter
    # perf tracking with r4 as their baseline
    "q_bm25_topk",          # inverted-index agg + broadcast query terms
    "q_entity_ids",         # blocking + union-find entity resolution
    "q_scan_tar_shards",    # binaryFile + mapInPandas untar scan
    "q_multimodal_jpeg",    # real baseline-JPEG decode throughput
    "q_dup_span_removal",   # ExactSubstr span excision
    # round-5 additions: the new tiers enter perf tracking with r5 as
    # their baseline
    "q_mann_whitney_u",     # histogram-decomposed pairwise U statistic
    "q_rank_centrality",    # integer-lattice preference fixpoint
    "q_scan_protobuf",      # varint wire-format walker throughput
    # round-6 additions, r6 baseline
    "q_spearman_corr",      # boundary-cut double rank pass + integer sum-d2
    "q_scan_protobuf_nested",  # recursive embed + packed-varint walker
    # round-7 addition, r7 baseline
    "q_theil_sen_trend",    # day-pair spill + selection-by-cuts median
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf = float(sf_tag)
    except ValueError:
        sf = sf_tag

    # derived intermediates are session artifacts (plans/_helpers.py
    # ``session_artifact``): the first timed consumer in this
    # invocation pays their build
    spark = get_spark("bench")
    qs = plans.queries()

    # Warm-up: run every headline plan once at the smallest SF so JIT/
    # whole-stage-codegen compilation is excluded from the timed runs
    # (standard steady-state benchmarking; the timed run still does all
    # its own scans/shuffles/actions at the target SF).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 — warm-up is best-effort
                pass

    # (r13: the former untimed pre-build of the shared scratch
    # artifacts is gone — with the cold-scratch guarantee above, the
    # first timed rep of the first consumer pays the build.)

    # Untimed warm-up at the TARGET SF: the first action of a session
    # pays parquet footer reads, codegen, and executor-pool spin-up that
    # belong to no particular query (round 2: the first-in-loop query
    # absorbed ~0.4 s of it). One cheap full pass absorbs that cost.
    qs["q_groupby_agg"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Best-of-N per query (ambient-load hygiene: round-2 totals swung
    # 18.6-21.5 s with machine load; min-of-3 reports the plan's cost,
    # not the noisy neighbor's).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": reps,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
