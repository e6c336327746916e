"""LLM tier XXIX: corpus SPLIT hygiene — the two assignment policies
a training-data pipeline runs after dedup and quality scoring.

* ``q_split_by_cluster_leakage_safe`` — train/val/test assignment
  where the unit of assignment is the NEAR-DUP CLUSTER, not the
  document: every member of a duplicate cluster lands in the same
  split, so paraphrases/near-copies of a validation document can
  never leak into train (the standard eval-contamination failure
  that doc-level random splits cause).  Assignment is a deterministic
  hash of the cluster representative — reproducible across runs,
  engines, and partitionings.

* ``q_ccnet_quality_buckets`` — CCNet-style head/middle/tail corpus
  partitioning by language-model score: documents ranked by their
  per-bigram LM probability (the float-free nanounit score of
  q_lm_score_docs) and cut into three equal-depth buckets with NTILE
  over a TOTAL order (doc_id tiebreak ⇒ engine-exact bucket edges).
  This is the mixture knob real pipelines expose ("train on head+
  middle, drop tail").

Both are full value oracles: the cluster chain replays via the same
recursive-CTE fixpoint the q_near_dup_clusters oracle uses, and the
LM chain via the integer-exact nanounit arithmetic of q_lm_score_docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _BANDS_UNION,
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

_THRESH = 0.5  # mirrors llm8's verified-pair threshold
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_LM_SCALE = 1_000_000_000

# the verified near-dup cluster chain (identical to the
# q_near_dup_clusters oracle in plans/llm8.py — the split policy is a
# pure projection on top of that fixpoint)
_CLUSTER_CTES = f"""
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
"""


@register(
    "q_split_by_cluster_leakage_safe",
    oracle=f"""
    {_CLUSTER_CTES}
    SELECT node AS doc_id, lbl AS cluster,
           CASE
             WHEN CAST('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 12)
                  AS BIGINT) % 100 < 90 THEN 'train'
             WHEN CAST('0x' || substr(md5(CAST(lbl AS VARCHAR)), 1, 12)
                  AS BIGINT) % 100 < 95 THEN 'val'
             ELSE 'test'
           END AS split
    FROM reach
    """,
)
def q_split_by_cluster_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/5/5 split: the near-dup cluster label (min-id
    fixpoint over the verified LSH pair graph, exactly
    q_near_dup_clusters) is hashed ONCE per cluster — int48 of
    md5(label) mod 100 — and every member inherits that verdict, so a
    near-duplicate of a val/test document cannot appear in train.

    100 TB: all the work is the dedup chain the corpus runs anyway;
    the split itself adds zero shuffles — one in-row hash projection
    on the (doc_id, cluster) output. Reassigning splits (new seed =
    new salt inside the md5) never re-mines pairs."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm8 import (
        q_near_dup_clusters,
    )

    clusters = q_near_dup_clusters(spark, sf_dir).select("doc_id", "cluster")
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster").cast("string")), 1, 12), 16, 10)
        .cast("long")
        % 100
    )
    return clusters.select(
        "doc_id",
        "cluster",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "q_ccnet_quality_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id,
             unnest(toks) AS tok,
             unnest(range(1, length(toks) + 1)) AS pos,
             length(toks) AS n
      FROM d
    ),
    bg AS (
      SELECT a.doc_id, a.tok AS w1, a.tok || '|' || b.tok AS big
      FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT big, COUNT(*) AS c2 FROM bg GROUP BY big),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM p),
    scored AS (
      SELECT bg.doc_id,
             ({_LM_SCALE} * (c2.c2 + 1)) // (c1.c1 + v.v) AS q
      FROM bg
      JOIN c2 ON c2.big = bg.big
      JOIN c1 ON c1.w1 = bg.w1
      CROSS JOIN v
    ),
    per_doc AS (
      SELECT doc_id, SUM(q) // COUNT(*) AS per_bigram_q
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(per_bigram_q AS BIGINT) AS per_bigram_q,
           CASE NTILE(3) OVER (ORDER BY per_bigram_q DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM per_doc
    """,
)
def q_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning: every document's mean
    per-bigram LM probability (nanounit BIGINT — q_lm_score_docs's
    float-free score normalized by bigram count with floor division,
    so length doesn't dominate) ranks the corpus; NTILE(3) over the
    TOTAL order (score DESC, doc_id) cuts equal-depth buckets whose
    edges are engine-exact. head = most corpus-like text.

    100 TB: model training and scoring are q_lm_score_docs's plan
    (uniqueness-sized count tables, map-side-combined doc sums).
    PRODUCTION PLAN: the boundary-cut exact global ntile
    (operators/ranks.py, DESC direction) — score cuts from a
    percentile probe become literals, per-bucket windows stay
    balanced, closed-form NTILE arithmetic bit-equal to the window
    form under the (score DESC, doc_id) total order; NTILE twin
    pytest-pinned, oracle unchanged."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        with_global_ntile,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm16 import (
        q_lm_score_docs,
    )

    scores = q_lm_score_docs(spark, sf_dir)
    per_doc = scores.select(
        "doc_id",
        F.expr("lm_score_q div n_bigrams").cast("long").alias("per_bigram_q"),
    )
    tiled = with_global_ntile(
        # the upstream is the full bigram-LM scoring chain — far too
        # expensive to re-execute under the probe/counts actions
        per_doc.localCheckpoint(eager=True),
        [F.col("per_bigram_q").desc(), "doc_id"],
        primary="per_bigram_q",
        k=3,
        descending=True,
        alias="__tile",
        secondary="doc_id",
    )
    tile = F.col("__tile")
    return tiled.select(
        "doc_id",
        "per_bigram_q",
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def q_ccnet_quality_buckets_window_form(spark: SparkSession, sf_dir: str):
    """NTILE oracle-exactness twin (former production plan),
    pytest-pinned equal to the boundary-cut form."""
    from pyspark.sql import Window

    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm16 import (
        q_lm_score_docs,
    )

    scores = q_lm_score_docs(spark, sf_dir)
    per_doc = scores.select(
        "doc_id",
        F.expr("lm_score_q div n_bigrams").cast("long").alias("per_bigram_q"),
    )
    w = Window.orderBy(F.col("per_bigram_q").desc(), "doc_id")
    tile = F.ntile(3).over(w)
    return per_doc.select(
        "doc_id",
        "per_bigram_q",
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
