"""LLM tier XXII: PII curation gate + the production-recall (64
permutation / 16 band) LSH layout.

PII (q_pii_detect / q_pii_scrub): the reference's governance surface
is column masking over a structured entity (plans/analytics14.py
q_mask_pii); a text corpus needs the harder version — find PII
mid-string, validate candidates (Luhn), redact without destroying
non-PII. Deterministic PII is injected from doc_id arithmetic
(llm/pii.py inject_pii — closed form, hence SQL-derivable) and the
REAL regex/checksum/redaction kernels run downstream; the oracle
replays the GROUND TRUTH (what was injected and what its checksum
says), so a kernel that over- or under-matches fails by value —
detection is checked against truth, not against a SQL copy of the
same regex.

64-perm layout (q_minhash_64perm / q_near_dup_pairs_16band): the
8-permutation chain tunes for a Jaccard-0.5 threshold with coarse
resolution; production dedup runs 64-128 permutations for sharper
S-curves. The universal-hash family makes that affordable (one md5
per token total — the whole point of the round-4 swap); here the full
64-permutation signature and the 16-band × 4-row chain are
value-oracled end-to-end. Threshold: (1/16)^(1/4) ≈ 0.5 — same
operating point, much steeper selectivity curve than 4×2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures_universal,
)
from lakehouse_ecommerce_etl_pipeline_spark.llm.pii import (
    PAN_LEN,
    detect_pii,
    inject_pii,
    luhn_valid_sql,
    scrub_pii,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

# ---------------------------------------------------------------- PII

# closed-form regeneration of the injected corpus (llm/pii.inject_pii)
_PAN_SQL = (
    f"lpad(CAST((doc_id * doc_id * 31 + doc_id * 7 + 11) % "
    f"{10**PAN_LEN} AS VARCHAR), {PAN_LEN}, '0')"
)

_INJ_TEXT_SQL = f"""text
      || ' user' || CAST(doc_id AS VARCHAR)
      || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      || CASE WHEN doc_id % 3 = 0
           THEN ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE '' END
      || CASE WHEN doc_id % 4 = 1
           THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
                || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
           ELSE '' END
      || CASE WHEN doc_id % 5 = 2 THEN ' card ' || {_PAN_SQL}
           ELSE '' END"""

_LUHN_PAN = luhn_valid_sql("pan")


@register(
    "q_pii_detect",
    oracle=f"""
    WITH pans AS (
      SELECT doc_id, {_PAN_SQL} AS pan FROM documents WHERE doc_id % 5 = 2
    )
    SELECT d.doc_id,
           CAST(1 AS INTEGER) AS n_emails,
           CAST(CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
             AS n_phones,
           CAST(CASE WHEN d.doc_id % 4 = 1 THEN 1 ELSE 0 END AS INTEGER)
             AS n_ips,
           d.doc_id % 5 = 2 AS has_card,
           COALESCE({_LUHN_PAN}, FALSE) AS card_luhn_valid
    FROM documents d LEFT JOIN pans p ON p.doc_id = d.doc_id
    """,
)
def q_pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII inventory over the seeded corpus: regex
    detection (email / phone / IPv4 / 16-digit card candidate) plus
    the Luhn mod-10 verdict on each candidate — a regex proposes, the
    checksum disposes. The oracle replays GROUND TRUTH (the injection
    formulas + the checksum over the regenerated PAN), so over- and
    under-matching kernels both fail by value.

    100 TB: detection is a narrow projection riding the corpus scan
    (regexp_extract_all + 16 fixed Luhn terms, whole-stage codegen);
    no shuffle, no UDF, no driver round-trip."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return detect_pii(inject_pii(docs, "doc_id", "text"), "doc_id", "text")


@register(
    "q_pii_scrub",
    oracle=f"""
    WITH inj AS (
      SELECT doc_id, {_INJ_TEXT_SQL} AS text
      FROM documents
    ),
    pans AS (
      SELECT doc_id, {_PAN_SQL} AS pan FROM documents WHERE doc_id % 5 = 2
    ),
    scrubbed AS (
      SELECT d.doc_id,
             d.text || ' [EMAIL]'
             || CASE WHEN d.doc_id % 3 = 0 THEN ' [PHONE]' ELSE '' END
             || CASE WHEN d.doc_id % 4 = 1 THEN ' [IP]' ELSE '' END
             || CASE WHEN d.doc_id % 5 = 2 THEN
                  CASE WHEN {_LUHN_PAN} THEN ' card [CARD]'
                       ELSE ' card ' || p.pan END
                ELSE '' END AS s
      FROM documents d LEFT JOIN pans p ON p.doc_id = d.doc_id
    )
    SELECT i.doc_id,
           CAST(length(i.text) AS INTEGER) AS len_raw,
           CAST(length(s.s) AS INTEGER) AS len_scrubbed,
           md5(s.s) AS scrub_fp
    FROM inj i JOIN scrubbed s ON s.doc_id = i.doc_id
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction, value-pinned TO THE BYTE: emails/phones/IPs →
    placeholders, card candidates → [CARD] only when Luhn-valid (a
    failed checksum is not a card — deleting it would destroy data).
    The oracle reconstructs the expected scrubbed text from the
    injection formulas and compares md5 fingerprints, so a redaction
    that eats one extra character fails.

    100 TB: one regexp_replace chain, linear in bytes scanned, zero
    shuffles — redaction costs what the scan costs."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return scrub_pii(inject_pii(docs, "doc_id", "text"), "doc_id", "text")


# ------------------------------------------- 64-perm / 16-band layout

_N64 = 64
_R4 = 4  # rows per band → 16 bands, threshold (1/16)^(1/4) ≈ 0.5

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SIG64_SELECT = ",\n           ".join(
    f"MIN((CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT)"
    f" * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS sig_{i}"
    for i in range(_N64)
)

_BANDS64_UNION = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, {b} AS band_idx, md5("
    + " || '|' || ".join(
        f"CAST(sig_{b * _R4 + r} AS VARCHAR)" for r in range(_R4)
    )
    + ") AS band_hash FROM sig"
    for b in range(_N64 // _R4)
)

_TOK64_CTE = f"""
    tok0 AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    tok AS (SELECT DISTINCT doc_id, tok FROM tok0 WHERE tok <> ''),
    sig AS (SELECT doc_id, {_SIG64_SELECT} FROM tok GROUP BY doc_id)
    """


@register(
    "q_minhash_64perm",
    oracle=f"""
    WITH {_TOK64_CTE}
    SELECT * FROM sig
    """,
)
def q_minhash_64perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-recall MinHash signature: 64 universal-hash
    permutations — still ONE md5 per token plus 64 multiply-adds
    (the md5-per-permutation family would pay 64 cryptographic hashes
    per token here, which is why round 4 swapped families). Same
    shuffle-free shape as the 8-perm production signature: token
    array → narrow projection, zero exchanges."""
    return minhash_signatures_universal(
        load(spark, sf_dir, "documents"), "doc_id", "text", _N64
    )


@register(
    "q_near_dup_pairs_16band",
    oracle=f"""
    WITH {_TOK64_CTE},
    bands AS (
      {_BANDS64_UNION}
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
def q_near_dup_pairs_16band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup chain at the PRODUCTION operating point: 64
    universal permutations banded 16×4 (collision threshold
    (1/16)^(1/4) ≈ 0.5 — same threshold as the 8-perm chain but a far
    steeper S-curve: fewer false candidates reach the exact-Jaccard
    verifier, which is where the money goes at 100 TB), then exact
    Jaccard ≥ 0.5. Identical family-agnostic banding/verification
    stages as production — only num_hashes/rows_per_band change.

    r4 rep-collapse + expansion, as in q_near_dup_pairs: the 64-perm
    signature build and the verify both run once per distinct token
    set; surviving rep pairs expand to member pairs, identical-set
    groups emit within-group pairs at Jaccard exactly 1.0."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    m = token_set_reps(docs, "doc_id", "text")
    rep_docs = (
        docs.join(m, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    sigs = minhash_signatures_universal(rep_docs, "doc_id", "text", _N64)
    cand = lsh_candidate_pairs(sigs, "doc_id", _N64, _R4)
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
