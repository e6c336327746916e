"""LLM tier VIII: near-duplicate CLUSTERING — the full corpus-dedup
decision, not just the pair list.

q_near_dup_clusters composes the production chain end-to-end:
MinHash → LSH candidates → exact-Jaccard verification (≥0.5) →
min-label propagation run TO CONVERGENCE over the verified
near-dup graph → one representative (smallest doc_id) per cluster. This is the actual
operator a training-data pipeline runs: the keep/drop decision per
document, where everything upstream only proposed pairs.

The oracle replays the identical chain in SQL (shared token/signature
CTEs + a recursive CTE reaching the same fixpoint) — the min-label
fixpoint is unique, so running to convergence makes the cluster ids
engine-, round-, and partitioning-exact (a bounded prefix would not
be: the sf0.001 graph has components of diameter > 3). Documents with no verified near-dup edge are
singleton clusters of themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_universal,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _BANDS_UNION,
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_MAX_ROUNDS = 100  # safety cap; the loop exits on convergence
_THRESH = 0.5


@register(
    "q_near_dup_clusters",
    oracle=f"""
    WITH {_tok_cte()},
    sig AS (SELECT doc_id, {_SIG_SELECT} FROM tok GROUP BY doc_id),
    bands AS (
      {_BANDS_UNION}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE)
            >= {_THRESH}
    ),
    dup_edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach AS (
      WITH RECURSIVE r(node, lbl) AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT ed.dst, r.lbl FROM dup_edges ed JOIN r ON r.node = ed.src
      )
      SELECT node, MIN(lbl) AS lbl FROM r GROUP BY node
    )
    SELECT node AS doc_id, lbl AS cluster,
           (node = lbl) AS is_representative
    FROM reach
    """,
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus near-dup clustering: the verified near-dup pair graph
    (MinHash → LSH bands → exact Jaccard ≥ 0.5, the q_near_dup_pairs
    chain) collapsed into clusters by min-label propagation run to
    convergence, seeded with EVERY document (no-edge docs stay
    singleton clusters), and the smallest doc_id elected
    representative — the keep/drop decision a training-corpus dedup
    actually emits.

    100 TB: pair mining is the LSH-bounded shuffle (never quadratic);
    the propagation graph holds only near-dup edges — a tiny fraction
    of the corpus — so the iterative rounds run on the duplicate
    subgraph while the full-corpus seed is one distinct projection.
    Keep-list application is then a broadcast anti-join of the
    non-representatives against the corpus."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )

    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    # r4: mine pairs and run the fixpoint on exact-dedup
    # REPRESENTATIVES (one per distinct token set), expand labels
    # through rep_id afterwards — bit-equivalent (identical-set docs
    # are cliques with identical neighborhoods; rep = group min) and
    # linear in distinct texts instead of quadratic in duplicates.
    # The rep map feeds the rep join below and the label expansion at
    # the end: checkpointed so the token-set grouping runs once
    m = token_set_reps(docs, "doc_id", "text").localCheckpoint(eager=False)
    rep_docs = (
        docs.join(m, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
        # consumed by BOTH the signature chain and the Jaccard
        # verification; lazily checkpointed so the rep join runs once
        # (r12 optimization, guide §5)
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures_universal(rep_docs, "doc_id", "text", _NUM_HASHES)
    cand = lsh_candidate_pairs(sigs, "doc_id", _NUM_HASHES, _ROWS_PER_BAND)
    dup = jaccard_pairs(rep_docs, "doc_id", "text", pairs=cand).filter(
        F.col("jaccard") >= _THRESH
    )
    # min-label propagation to convergence on the rep graph via the
    # shared localCheckpoint loop (llm/components.py) — r4 retired
    # this tier's per-round broadcast-join variant after measuring
    # ~20 s/round of broadcast/convergence overhead on the 4.2M-edge
    # sf1 rep graph vs ~2 s/round for the checkpointed loop; the cap
    # is generous and connected_components' early exit fires on
    # convergence (measured diameter ≤ 6 at every SF)
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        connected_components,
    )

    comp = connected_components(
        dup.select("id_a", "id_b"), max_iterations=_MAX_ROUNDS
    )
    return (
        m.join(comp, m["rep_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("cluster"),
        )
        .withColumn(
            "is_representative", F.col("doc_id") == F.col("cluster")
        )
    )
