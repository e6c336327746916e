"""LLM tier XXVIII: SPAN-level duplication profiling — the signal
behind substring dedup (Lee et al.'s "Deduplicating Training Data
Makes Language Models Better" removes repeated SPANS with suffix
arrays; the distributed proxy is fixed-width shingle multiplicity).

Document-level dedup (exact / MinHash tiers) misses the common
failure where distinct documents share large verbatim spans
(boilerplate, quotes, templates). The span profile answers "how much
of the corpus is repeated text?": every 8-token shingle is hashed
IN-ROW (transform over the positional token array — one md5 per
shingle, no token explosion until the count), then the corpus-wide
multiplicity histogram says how duplicated the span space is.

100 TB: the only exchange carries 16-byte shingle hashes (doc ids
dropped before the global count via per-doc distinct in-row); the
two-level aggregation is partial-aggregable end-to-end. This is the
cheap always-on diagnostic; a positive signal justifies running the
expensive span-REMOVAL pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.functions.text import normalize_text
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_K = 8  # shingle width (tokens)

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def shingle_hashes(text_col: str, k: int = _K):
    """Positional (order-preserving, duplicate-preserving) token
    array → array of unhex(md5(k-gram)) — computed entirely in-row.

    The hash is released by NO query (both consumers aggregate or
    join on it internally), so it rides the exchanges as 16-byte
    BINARY instead of the 32-char hex string (guide §2.3: halve the
    column, halve its shuffle bytes; equality joins/groupBy on binary
    are bytewise-identical to the hex comparison). 128-bit width is
    load-bearing: a 64-bit hash would birthday-collide on the 10^13
    shingles of a 100 TB corpus and change dup-set membership."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.unhex(F.md5(F.concat_ws(" ", F.slice(toks, i, k)))),
        ),
    ).otherwise(F.array().cast("array<binary>"))


@register(
    "q_dup_span_histogram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    shingles AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(tk) - {_K - 1}),
               i -> md5(array_to_string(tk[i:i + {_K - 1}], ' '))
             )) AS sh
      FROM toks WHERE len(tk) >= {_K}
    ),
    per_shingle AS (
      SELECT sh, COUNT(DISTINCT doc_id) AS n_docs
      FROM shingles GROUP BY sh
    )
    SELECT n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM per_shingle GROUP BY n_docs
    """,
)
def q_dup_span_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus span-duplication histogram: for every distinct 8-token
    shingle, in how many documents does it appear — rolled up to
    (multiplicity → shingle count). n_docs = 1 is unique text;
    the tail mass at high n_docs is verbatim boilerplate that
    document-level dedup cannot see.

    100 TB: per-doc distinctness happens IN-ROW (array_distinct on
    the shingle array before the explode), so no (doc_id, hash)
    exchange ever exists — the explode feeds the per-shingle count
    directly and only 16-byte hashes cross the two remaining
    partial-aggregable exchanges."""
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    sh = docs.select(
        F.explode(F.array_distinct(shingle_hashes("text"))).alias("sh")
    )
    per = sh.groupBy("sh").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return per.groupBy("n_docs").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )


@register(
    "q_dup_span_removal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split({_NORM}, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    pos_sh AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(tk[i:i + {_K - 1}], ' ')) AS sh
      FROM toks, unnest(generate_series(1, len(tk) - {_K - 1})) AS g(i)
      WHERE len(tk) >= {_K}
    ),
    dup AS (
      SELECT sh FROM (SELECT DISTINCT sh, doc_id FROM pos_sh)
      GROUP BY sh HAVING COUNT(*) >= 2
    ),
    covpos AS (
      SELECT doc_id, list(tpos) AS cps
      FROM (SELECT DISTINCT p.doc_id, p.s + j AS tpos
            FROM pos_sh p JOIN dup USING (sh),
                 unnest(generate_series(0, {_K - 1})) AS u(j))
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(cps), 0) AS BIGINT) AS n_removed,
           md5(COALESCE(array_to_string(
             list_filter(tk, (x, i) -> NOT list_contains(COALESCE(cps, []), i)),
             ' '), '')) AS kept_md5
    FROM toks t LEFT JOIN covpos c USING (doc_id)
    """,
)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN removal — the expensive pass the histogram justifies
    (Lee et al.'s ExactSubstr dedup, distributed): every 8-token
    shingle that appears in ≥2 documents is excised from ALL of them;
    per doc we emit how much was cut and the md5 of the surviving
    token sequence (byte-pinned so the oracle checks WHICH tokens
    survived, not just how many).

    100 TB plan shape: the shingle table carries (16-byte hash,
    int start) only — text never leaves the row; the duplicate set
    is a partial-aggregable count over in-row-distinct hashes; the
    verdict comes back as ONE equi-join on the hash (shuffle join —
    the dup set is corpus-sized, no broadcast assumption) and
    collapses to collect_set(start) per doc, so the rebuild join is
    doc-grain. Position expansion (start → start..start+k-1) happens
    IN-ROW after the aggregation (flatten/transform), not as an
    8×-wider exchange."""
    docs = spread_to_cores(load(spark, sf_dir, "documents"))
    toks = F.filter(F.split(normalize_text("text"), " "), lambda t: t != "")

    # r13 (guide §5): the positional branch and the duplicate-set
    # branch both computed the md5-per-shingle arrays from scratch —
    # the dominant CPU of this query, paid twice.  One lazy
    # localCheckpoint of (doc_id, token array, shingle array)
    # materializes the hashes once inside the first consuming pass and
    # serves all three consumers (posexplode, distinct-explode, and
    # the final rebuild's token arrays).  Unlike the Theil-Sen
    # negative result (where regeneration was codegen-cheap), the
    # regenerated work here is a cryptographic hash per shingle —
    # storage beats recompute.  Interleaved A/B at sf0.1 (6 reps):
    # 1.456/2.008 → 1.204/1.633 min/med, fresh-session qtime
    # confirmed; values byte-identical (asserted row-for-row in the
    # A/B harness, oracle-hash-checked both SFs).
    sh_tab = docs.select(
        "doc_id", toks.alias("tk"), shingle_hashes("text").alias("shs")
    ).localCheckpoint(eager=False)

    # (doc_id, 1-based start, shingle hash) — duplicates preserved
    pos_sh = sh_tab.select(
        "doc_id", F.posexplode("shs").alias("p0", "sh")
    ).select("doc_id", (F.col("p0") + 1).alias("s"), "sh")

    # shingles seen in >= 2 docs; per-doc distinct happens in-row
    # (array_distinct before the explode), so the count's input is
    # already (sh, doc)-unique without a distinct exchange
    dup = (
        sh_tab.select(F.explode(F.array_distinct("shs")).alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
        .select("sh")
    )

    # duplicated start positions per doc (collect_set: pos_sh can
    # carry the same start twice only via hash collisions — set
    # semantics also match the oracle's DISTINCT)
    cov = (
        pos_sh.join(dup, "sh")
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("starts"))
    )

    covered = F.array_distinct(
        F.flatten(F.transform("starts", lambda s: F.sequence(s, s + (_K - 1))))
    )
    empty = F.array().cast("array<int>")
    # rebuild via position-set subtraction: array_except is hash-based
    # O(n + |covered|), vs the old per-token array_contains filter's
    # O(n · |covered|) — boilerplate-heavy docs with thousands of
    # covered slots made that quadratic term the whole query's cost.
    # array_except preserves first-array order, so kept positions stay
    # ascending and the surviving token sequence is order-exact.
    # sequence(1, 0) would generate a DESCENDING [1, 0] for an empty
    # token array — guard the degenerate doc explicitly
    all_pos = F.when(
        F.size("tk") > 0, F.sequence(F.lit(1), F.size("tk"))
    ).otherwise(empty)
    kept_pos = F.array_except(all_pos, F.coalesce(covered, empty))
    tk = F.col("tk")
    return (
        sh_tab.select("doc_id", "tk")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size(covered), F.lit(0)).cast("bigint").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(kept_pos, lambda i: F.element_at(tk, i)),
                )
            ).alias("kept_md5"),
        )
    )
