from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import pytest
from check_oracle import walk

from lakehouse_ecommerce_etl_pipeline_spark.session import conf_scope

SF0001 = "/root/testdata/sf0.001"

# Physical choices a canary's result must not depend on, each compared
# with the session default: a different shuffle partitioning, no
# adaptive re-planning, and sort-merge in place of broadcast joins.
AXES = {
    "7 shuffle partitions": {"spark.sql.shuffle.partitions": "7"},
    "AQE off": {"spark.sql.adaptive.enabled": "false"},
    "broadcast joins off": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}

# Partition-sensitivity canaries: every decision in these rides on
# integer/decimal algebra or unique fixpoints, so the result multiset
# must be BIT-identical under every one of the AXES. A regression
# here means some float sum or non-total ordering snuck back in.
CANARIES = [
    "q_allocation_largest_remainder",  # int div/mod + remainder rank
    "q_dedup_by_key",                  # window dedup w/ total order
    "q_salted_aggregate",              # two-phase ≡ direct group-by
    "q_attribution_linear",            # floor-scaled rational credits
    "q_checksum_table",                # commutative 56-bit sum
    "q_weighted_median",               # integer cumulative crossing
    "q_capped_running_balance",        # all-int sequential scan per group
    "q_multimodal_blockhash_neardup",  # int cross-multiplied block bits
    "q_shard_assignment_balanced",     # rank arithmetic under total order
    "q_feature_hashing",               # signed integer hash counts
    # tiers XLIV-L
    "q_rank_auc",                      # integer rank sums, one division
    "q_tvd_drift_weekly",              # cross-multiplied integer TVD
    "q_hits_scores",                   # unnormalized integer fixpoint
    "q_cusum_control",                 # n-scaled BIGINT deviations
    "q_dedup_incremental",             # band equi-join + exact Jaccard
    "q_random_projection",             # fixed-order per-row float chain
    "q_tree_rollup",                   # integer ancestor closure
    "q_interval_union_length",         # integer epoch sweep-line
    # tier LI / LLM XVI / Spark 4 part 3
    "q_cdc_agg_maintenance",           # signed integer deltas on cents
    "q_lm_score_docs",                 # BIGINT-division quantized probs
    "q_simhash_md5",                   # md5 bit votes, in-row fold
    "q_grouped_arrow_stats",           # per-group int64 Arrow kernels
]


def _snap(spark, name, overrides):
    """Build and run ``name`` through the registry walker with the
    session conf ``overrides`` in force for both."""
    with conf_scope(spark, overrides):
        [w] = walk(spark, SF0001, [name])
        if isinstance(w.df, Exception):
            raise w.df
        df = w.df.toPandas()
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", CANARIES)
def test_result_is_partitioning_invariant(spark, name):
    """The canary's rows are equal under the session default and under
    each of the ``AXES``."""
    base = _snap(spark, name, {})
    for axis, overrides in AXES.items():
        assert _snap(spark, name, overrides).equals(base), (
            f"{name} changed under {axis}"
        )
