"""LLM tier XXXVI: ORACLED SimHash — the bit-vote fingerprint family
with a full cross-engine value oracle, plus a MinHash estimator
calibration panel.

The fingerprint itself is already oracled (plans/llm16.py
q_simhash_md5 — the md5-portable variant of llm/dedup.simhash); what
was missing is what a production pipeline DOES with the fingerprints:

- q_simhash_hamming_pairs — near-dup pairs at Hamming distance ≤ 3
  via the PIGEONHOLE band join: a 32-bit fingerprint splits into 4
  bytes; any pair within distance 3 must agree on ≥ 1 whole byte, so
  candidates come from 4 equi-joins on (byte_idx, byte_value) and
  only candidates pay the exact popcount(xor) verify. The oracle is
  the INDEPENDENT brute-force all-pairs scan — the banding's
  no-false-negative guarantee is what the row set checks.
- q_minhash_calibration — E[Jaccard | signature agreement]: for the
  LSH candidate set, bucket pairs by how many of the 8 signature
  components agree and emit exact integer (pair count, Σ|A∩B|,
  Σ|A∪B|) per bucket — the measured calibration curve that tells you
  what a band collision actually implies about similarity (the
  agree/8 estimator's bias, as data, no floats anywhere).

100 TB: SimHash is scan → one partial agg (32 sums); the pigeonhole
join is the banding trick again (4 bands of 8 bits), with the same
bucket-cap lever available; calibration reuses the chain's candidate
join and token arrays — only ids, 4-byte fingerprints, and bounded
count triples shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    lsh_candidate_pairs,
    minhash_signatures_universal,
    simhash,
    token_array,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_HAMMING_MAX = 3
_N_BYTES = 4  # pigeonhole blocks: distance ≤ 3 ⇒ ≥ 1 byte agrees

# fingerprint CTE — mirrors llm/dedup.simhash(portable=True), the same
# formula plans/llm16.py's q_simhash_md5 oracle pins bit-for-bit
_FP_CTE = """
    h AS (
      SELECT doc_id,
             CAST(CONCAT('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS hv
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(range(32)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS fp
      FROM votes GROUP BY doc_id
    )
"""


@register(
    "q_simhash_hamming_pairs",
    oracle=f"""
    WITH {_tok_cte()},
    {_FP_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {_HAMMING_MAX}
    """,
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤{3} near-dup pairs over the SimHash space, found by
    the pigeonhole band join (4 bytes; ≤ 3 flipped bits cannot touch
    all 4), verified by exact popcount(xor). The oracle brute-forces
    ALL pairs — a banding bug that loses a candidate fails by row
    set, not just by value. Spark side never materializes the
    quadratic pair space."""
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    fp = simhash(docs, "doc_id", "text", bits=32, portable=True).select(
        "doc_id", F.col("simhash").alias("fp")
    )
    blocks = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("byte_idx"),
                        F.shiftright("fp", 8 * j)
                        .bitwiseAND(F.lit(255))
                        .alias("byte_val"),
                    )
                    for j in range(_N_BYTES)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "fp", "blk.byte_idx", "blk.byte_val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.byte_idx") == F.col("b.byte_idx"))
            & (F.col("a.byte_val") == F.col("b.byte_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(ham <= _HAMMING_MAX).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


@register(
    "q_minhash_calibration",
    oracle=f"""
    WITH {_tok_cte()},
    sig AS (SELECT doc_id, {_SIG_SELECT} FROM tok GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b AS band_idx,
             md5(CAST(CASE b WHEN 0 THEN sig_0 WHEN 1 THEN sig_2
                             WHEN 2 THEN sig_4 ELSE sig_6 END AS VARCHAR)
                 || '|' ||
                 CAST(CASE b WHEN 0 THEN sig_1 WHEN 1 THEN sig_3
                             WHEN 2 THEN sig_5 ELSE sig_7 END AS VARCHAR))
               AS band_hash
      FROM sig, unnest(generate_series(0, 3)) AS g(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT c.id_a, c.id_b,
             (CASE WHEN sa.sig_0 = sb.sig_0 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_1 = sb.sig_1 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_2 = sb.sig_2 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_3 = sb.sig_3 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_4 = sb.sig_4 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_5 = sb.sig_5 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_6 = sb.sig_6 THEN 1 ELSE 0 END
            + CASE WHEN sa.sig_7 = sb.sig_7 THEN 1 ELSE 0 END) AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
    ),
    sets AS (SELECT doc_id, list(tok) AS toks FROM tok GROUP BY doc_id),
    jac AS (
      SELECT g.id_a, g.id_b, g.n_agree,
             len(list_intersect(ta.toks, tb.toks)) AS inter,
             len(ta.toks) + len(tb.toks)
               - len(list_intersect(ta.toks, tb.toks)) AS uni
      FROM agree g
      JOIN sets ta ON ta.doc_id = g.id_a
      JOIN sets tb ON tb.doc_id = g.id_b
    )
    SELECT n_agree,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(inter) AS BIGINT) AS sum_inter,
           CAST(SUM(uni) AS BIGINT) AS sum_union
    FROM jac GROUP BY n_agree
    """,
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator, MEASURED: over the LSH candidate set,
    how similar are pairs really, as a function of how many of the 8
    signature components agree? Emits per agreement count the pair
    count and exact Σ|A∩B| / Σ|A∪B| — the calibration curve behind
    choosing a band layout (agree/8 is the classical Jaccard
    estimator; this panel is its empirical bias on THIS corpus, in
    exact integers). All candidate generation, agreement counting,
    and set intersection reuse the production chain's plan shapes.

    r4 rep-collapse, count-weighted: every bucketed value (agreement
    count, |A∩B|, |A∪B|) is a pure function of the two token sets,
    so the panel aggregates over DISTINCT-set rep pairs with weight
    gszₐ·gsz_b (cross) and gsz·(gsz−1)/2 at n_agree = 8, inter = uni
    = |set| (within identical-set groups) — identical sums, verify
    volume linear in distinct texts (sf1: 425 s → seconds)."""
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
        document_reps_artifact,
    )

    # r9: rep map + rep documents read from the shared per-sf
    # artifact — the signature branch and the token-array branch
    # prune this subplan differently, so AQE could not fold the
    # token_set_reps groupBy join and it executed per branch
    # (subplan audit); materialized, each branch is a pruned scan.
    reps = document_reps_artifact(spark, sf_dir)
    m = reps.select("doc_id", "rep_id")
    gs = m.groupBy("rep_id").agg(F.count(F.lit(1)).alias("gsz"))
    rep_docs = reps.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    sigs = minhash_signatures_universal(rep_docs, "doc_id", "text", _NUM_HASHES)
    cand = lsh_candidate_pairs(sigs, "doc_id", _NUM_HASHES, _ROWS_PER_BAND)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"a{i}") for i in range(_NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"b{i}") for i in range(_NUM_HASHES)],
    )
    agree = None
    for i in range(_NUM_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    ta = token_array(rep_docs, "doc_id", "text")
    pa = ta.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    pb = ta.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    ga = gs.select(F.col("rep_id").alias("id_a"), F.col("gsz").alias("gsz_a"))
    gb = gs.select(F.col("rep_id").alias("id_b"), F.col("gsz").alias("gsz_b"))
    cross = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", agree.alias("n_agree"))
        .join(pa, "id_a")
        .join(pb, "id_b")
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "n_agree",
            (F.col("gsz_a") * F.col("gsz_b")).alias("w"),
            inter.alias("inter"),
            uni.alias("uni"),
        )
    )
    within = (
        ta.join(gs.withColumnRenamed("rep_id", "doc_id"), "doc_id")
        .filter(F.col("gsz") >= 2)
        .select(
            F.lit(_NUM_HASHES).alias("n_agree"),
            (F.col("gsz") * (F.col("gsz") - 1) / 2).cast("long").alias("w"),
            F.size("toks").alias("inter"),
            F.size("toks").alias("uni"),
        )
    )
    return (
        cross.unionByName(within)
        .groupBy("n_agree")
        .agg(
            F.sum("w").cast("bigint").alias("n_pairs"),
            F.sum(F.col("w") * F.col("inter")).cast("bigint").alias("sum_inter"),
            F.sum(F.col("w") * F.col("uni")).cast("bigint").alias("sum_union"),
        )
    )
