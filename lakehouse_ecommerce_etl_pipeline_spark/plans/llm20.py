"""LLM tier XX: md5-per-permutation MinHash — the legacy family kept
as the cross-family witness.

Round 4 swapped the production dedup chain (``plans/llm.py`` and every
downstream consumer) to the universal-hash family: one md5 per token
→ int48, then ``num_hashes`` affine permutations (a_i·h + b_i) mod P
(Broder '97 min-wise family) — measured 2.5× faster at 8 permutations
(5.1 s → 2.0 s, 50k docs) with the gap growing linearly in
num_hashes; at the 64-128 permutations real dedup deployments use,
md5-per-permutation would dominate the whole pipeline.

This module retains the md5-per-permutation family end-to-end
(signatures → banded LSH → Jaccard verify → clusters) as the
CROSS-FAMILY witness: two independently-oracled permutation families
running through the identical band layout / verification /
clustering stages. Band layout, banding hash, verification, and
clustering are family-agnostic — only the signature stage differs —
so agreement of both chains with their own DuckDB twins pins the
shared stages twice over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    minhash_signatures,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

# identical normalization to plans/llm.py's _tok_cte (functions/text.
# normalize_text): lowercase, collapse whitespace, trim
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# the md5-per-permutation signature: sig_i = MIN(md5(i || '|' || tok))
# — lexicographic MIN over hex digests acts as the random permutation
_MD5_SIG_SELECT = ",\n           ".join(
    f"MIN(md5('{i}|' || tok)) AS sig_{i}" for i in range(8)
)

_MD5_SIG_CTE = f"""
    tok0 AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    tok AS (SELECT DISTINCT doc_id, tok FROM tok0 WHERE tok <> ''),
    sig AS (
      SELECT doc_id, {_MD5_SIG_SELECT}
      FROM tok GROUP BY doc_id
    )
    """

_MD5_BANDS = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"md5(sig_{2 * b} || '|' || sig_{2 * b + 1}) AS band_hash FROM sig"
    for b in range(4)
)


@register(
    "q_near_dup_pairs_md5",
    oracle=f"""
    WITH {_MD5_SIG_CTE},
    bands AS (
      {_MD5_BANDS}
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
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6)
             AS jaccard
    FROM cand c
    JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5
    """,
)
def q_near_dup_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup chain on the LEGACY md5-per-permutation family:
    md5 MinHash → 4×2 banded LSH → candidate equi-join → exact
    Jaccard ≥ 0.5 verification. Same composition as the production
    q_near_dup_pairs (universal family since round 4) — the
    cross-family witness that the band/verify stages are
    family-agnostic."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
    )

    # r4 rep-collapse + expansion (see q_near_dup_pairs): the md5
    # signatures are pure functions of the token set too
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    m = token_set_reps(docs, "doc_id", "text")
    rep_docs = (
        docs.join(m, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    sigs = minhash_signatures(rep_docs, "doc_id", "text", 8)
    cand = lsh_candidate_pairs(sigs, "doc_id", 8, 2)
    rp = jaccard_pairs(rep_docs, "doc_id", "text", pairs=cand).filter(
        F.col("jaccard") >= 0.5
    )
    ma = m.select(F.col("doc_id").alias("u"), F.col("rep_id").alias("id_a"))
    mb = m.select(F.col("doc_id").alias("v"), F.col("rep_id").alias("id_b"))
    cross = (
        rp.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("u", "v").alias("id_a"),
            F.greatest("u", "v").alias("id_b"),
            "jaccard",
        )
    )
    with_sig = sigs.select(F.col("doc_id").alias("rep_id"))
    within = (
        m.join(with_sig, "rep_id")
        .alias("x")
        .join(
            m.alias("y"),
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


_MD5_ND_PAIRS_CTE = f"""
    {_MD5_SIG_CTE},
    bands AS (
      {_MD5_BANDS}
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
    nd_pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5
    )
"""


@register(
    "q_dedup_clusters_md5",
    oracle=f"""
    WITH RECURSIVE {_MD5_ND_PAIRS_CTE},
    edges AS (
      SELECT id_a AS s, id_b AS d FROM nd_pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM nd_pairs
    ),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    )
    SELECT doc_id,
           COALESCE(component, doc_id) AS component,
           doc_id = COALESCE(component, doc_id) AS keep
    FROM documents LEFT JOIN comp ON doc_id = node
    """,
)
def q_dedup_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame on the legacy md5 family: md5 sigs → banded
    LSH → Jaccard-verified pairs → min-label connected components →
    survivor election, value-pinned by a recursive-CTE transitive
    closure running a DIFFERENT algorithm than Spark's iterative
    label propagation. With q_near_dup_pairs_md5 this keeps the whole
    chain independently proven on BOTH permutation families."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        connected_components,
        token_set_reps,
    )
    from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
    )

    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    # exact-dedup collapse (token_set_reps) — the md5 family's
    # signatures are also pure functions of the token set, so the
    # rep-level chain + expansion is bit-equivalent here too
    m = token_set_reps(docs, "doc_id", "text")
    rep_docs = (
        docs.join(m, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    sigs = minhash_signatures(rep_docs, "doc_id", "text", 8)
    cand = lsh_candidate_pairs(sigs, "doc_id", 8, 2)
    pairs = jaccard_pairs(rep_docs, "doc_id", "text", pairs=cand).filter(
        F.col("jaccard") >= 0.5
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        m.join(comp, m["rep_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("component"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )


@register(
    "q_minhash_md5",
    oracle=f"""
    WITH tok0 AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    tok AS (SELECT DISTINCT doc_id, tok FROM tok0 WHERE tok <> '')
    SELECT doc_id, {_MD5_SIG_SELECT}
    FROM tok GROUP BY doc_id
    """,
)
def q_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy md5-per-permutation MinHash signatures: 8 independent
    md5 digests per token, lexicographic MIN per slot. Retained as
    the cross-family witness for the production universal-hash family
    (see module docstring; 2.5× slower already at 8 permutations)."""
    return minhash_signatures(
        load(spark, sf_dir, "documents"), "doc_id", "text", 8
    )
