"""Analytics tier XLVI: fixed-width source, corpus keep-list,
calibration table.

New shapes over I-XLV: a fixed-width (COBOL/mainframe-export style)
text source parsed by column offsets — the one classic ETL file
format the source tier didn't yet cover (CSV, parquet, ORC, JSON,
Excel, Delta, Python DataSource all exist); the END-TO-END corpus
curation keep-list (near-dup clusters × quality score → one
best-quality representative kept per cluster — the actual artifact a
training-data pipeline publishes, where q_near_dup_clusters stopped
at cluster ids); and a score-calibration table (decile of predicted
score vs observed positive rate — the reliability diagram behind
every model review, sibling of q_rank_auc's discrimination metric).

Cross-engine exactness: the fixed-width round-trip carries balances
as integer cents; keep-list ranking is a total order (quality desc,
n_chars desc, doc_id); calibration buckets come from NTILE over a
totally-ordered window and every rate is one division of exact
integers."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm import (
    _BANDS_UNION,
    _NTOK,
    _NUM_HASHES,
    _PUNCT_RE,
    _ROWS_PER_BAND,
    _SIG_SELECT,
    _T,
    _tok_cte,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

# fixed-width layout: suppkey[10] name[18] nationkey[4] cents[12]
_FW_KEY_W, _FW_NAME_W, _FW_NATION_W, _FW_CENTS_W = 10, 18, 4, 12


@register(
    "q_scan_fixed_width",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier
    """,
)
def q_scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source: supplier exported as offset-addressed
    records (the mainframe/COBOL copybook format that still feeds
    real lakehouses), scanned back with ``spark.read.text`` and
    parsed by substring offsets — no delimiter, no quoting, schema IS
    the byte layout.  Balances travel as right-aligned integer cents
    so the round-trip is exact (no float formatting ambiguity).

    100 TB: ``read.text`` splits on line boundaries like any text
    source, so the parse is embarrassingly parallel; all four
    substring+cast columns are whole-stage-codegen'd projections.
    The limitation worth knowing: column pruning cannot help a
    fixed-width file — every byte of every record is read — which is
    the argument for converting such feeds to parquet at the
    ingestion edge exactly once (what this query's write half
    simulates)."""
    fmt = f"%{_FW_KEY_W}d%-{_FW_NAME_W}s%{_FW_NATION_W}d%{_FW_CENTS_W}d"
    out = session_artifact(
        spark,
        sf_dir,
        "fixed_width_supplier",
        lambda p: load(spark, sf_dir, "supplier")
        .select(
            F.format_string(
                fmt,
                F.col("s_suppkey"),
                F.col("s_name"),
                F.col("s_nationkey"),
                F.round(F.col("s_acctbal") * 100).cast("bigint"),
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(p),
    )
    lines = spark.read.text(out)
    p = 1
    key = F.trim(F.substring("value", p, _FW_KEY_W))
    p += _FW_KEY_W
    name = F.rtrim(F.substring("value", p, _FW_NAME_W))
    p += _FW_NAME_W
    nation = F.trim(F.substring("value", p, _FW_NATION_W))
    p += _FW_NATION_W
    cents = F.trim(F.substring("value", p, _FW_CENTS_W))
    return lines.select(
        key.cast("bigint").alias("s_suppkey"),
        name.alias("s_name"),
        nation.cast("int").alias("s_nationkey"),
        cents.cast("bigint").alias("acctbal_cents"),
    )


_THRESH = 0.5


@register(
    "q_corpus_keep_list",
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
    ),
    q AS (
      SELECT doc_id,
             CAST(
               CAST(length(text) BETWEEN 20 AND 100000 AS INTEGER)
             + CAST((CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text)
                       - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))
                       AS DOUBLE) / CAST(length(text) AS DOUBLE) END) < 0.2
                    AS INTEGER)
             + CAST((CASE WHEN length({_T}) = 0 THEN 0.0
                  ELSE CAST(length(replace({_T}, ' ', '')) AS DOUBLE)
                       / CAST({_NTOK} AS DOUBLE) END) BETWEEN 2.0 AND 12.0
                    AS INTEGER)
               AS DOUBLE) / 3.0 AS quality,
             n_chars
      FROM documents
    )
    SELECT r.node AS doc_id, r.lbl AS cluster, q.quality,
           (ROW_NUMBER() OVER (
              PARTITION BY r.lbl
              ORDER BY q.quality DESC, q.n_chars DESC, r.node) = 1) AS keep
    FROM reach r JOIN q ON q.doc_id = r.node
    """,
)
def q_corpus_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation decision: near-dup clusters
    (MinHash → LSH → exact-Jaccard verify → min-label fixpoint, the
    q_near_dup_clusters chain) joined with the composite quality
    score, keeping the BEST-quality document per cluster (ties: more
    content, then smallest id — a total order, so the keep bit is
    engine-exact).  This is the artifact a training-data pipeline
    actually publishes: q_near_dup_clusters decides who is together,
    this decides who SURVIVES — quality-aware canonicalization
    instead of the arbitrary min-id representative.

    100 TB: everything upstream is the LSH-bounded pair mine and the
    duplicate-subgraph fixpoint (see q_near_dup_clusters); the new
    work is one |corpus| quality projection (codegen, no shuffle) and
    one per-cluster window whose partitions are cluster-sized — tiny,
    because near-dup clusters are.  Applying the decision downstream
    is a broadcast semi-join of the keep set."""
    from lakehouse_ecommerce_etl_pipeline_spark.functions import text as txt
    from lakehouse_ecommerce_etl_pipeline_spark.plans.llm8 import (
        q_near_dup_clusters,
    )

    clusters = q_near_dup_clusters(spark, sf_dir).select("doc_id", "cluster")
    q = load(spark, sf_dir, "documents").select(
        "doc_id", txt.quality_score("text").alias("quality"), "n_chars"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        clusters.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster",
            "quality",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


@register(
    "q_calibration_deciles",
    oracle="""
    WITH s AS (
      SELECT NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS pos_rate,
           CAST(SUM(cents) AS DOUBLE) / CAST(100 * COUNT(*) AS DOUBLE)
             AS avg_score
    FROM s GROUP BY decile
    """,
)
def q_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration table: orders bucketed into score deciles
    (NTILE over a TOTALLY-ordered window — o_orderkey breaks price
    ties so bucket edges are engine-exact), then per-decile observed
    positive rate vs mean score — the reliability diagram a model
    review reads next to the AUC (q_rank_auc: discrimination; this:
    calibration).  Scores aggregate as integer cents; each output
    rate is one division of exact integers.

    PRODUCTION PLAN: boundary-cut exact global ntile
    (operators/ranks.py — percentile probe → literal cuts → balanced
    per-bucket windows → closed-form NTILE arithmetic), bit-equal to
    the window form for this total order; no single-partition window
    at data grain.  The NTILE twin below stays as the semantics
    witness, pytest-pinned equal; the DuckDB oracle is unchanged."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        with_global_ntile,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey", "o_orderstatus"
    )
    s = with_global_ntile(
        o,
        ["o_totalprice", "o_orderkey"],
        primary="o_totalprice",
        k=10,
        alias="decile",
        secondary="o_orderkey",
    ).select(
        "decile",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return s.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        (
            F.sum("pos").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
        (
            F.sum("cents").cast("double")
            / (100 * F.count(F.lit(1))).cast("double")
        ).alias("avg_score"),
    )


def q_calibration_deciles_window_form(spark: SparkSession, sf_dir: str):
    """NTILE oracle-exactness twin of q_calibration_deciles (the
    former single-reducer production plan), pytest-pinned equal to
    the boundary-cut form."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    s = load(spark, sf_dir, "orders").select(
        F.ntile(10).over(w).alias("decile"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return s.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        (
            F.sum("pos").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
        (
            F.sum("cents").cast("double")
            / (100 * F.count(F.lit(1))).cast("double")
        ).alias("avg_score"),
    )
