"""Analytics tier XXXVI: interval-overlap joins, asymmetric
containment dedup, schema evolution on read, balanced shard
assignment, null-aware anti-join semantics.

New shapes over I-XXXV: a true interval×interval overlap join (both
sides are ranges — q_range_join is point-in-range and
q_concurrency_sweep is a scalar sweep; overlap needs 2-sided bounds
and a bucket-exploded blocking scheme), directed containment
similarity (|A∩B|/|A| — the subset-duplication detector Jaccard
misses when a short doc is wholly embedded in a long one), parquet
schema evolution via mergeSchema across heterogeneous batches (the
lakehouse reality that columns arrive later), serpentine balanced
shard assignment (the training-data packing decision: equalize
per-shard token mass, deterministically), and the ANSI NOT IN vs
NOT EXISTS null-probe divergence (Spark's null-aware anti join).

Cross-engine exactness: all interval math is integer microseconds;
containment/balance/counts are integer ratios under IEEE division;
the schema-merge batches are deterministic projections of orders.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register

# interval-overlap: deterministic per-event duration of 1..7 hours and
# a 4-hour blocking bucket (max duration 7 h => an interval covers at
# most 3 buckets, so the explode factor is bounded by construction)
_US_PER_HOUR = 3_600_000_000
_BUCKET_US = 4 * _US_PER_HOUR

_CONTAIN_THRESH = 0.8

_N_SHARDS = 8

_EVO_CUTOFF = "1998-01-01"


@register(
    "q_interval_overlap_join",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS s,
             epoch_us(ts) + (event_id % 7 + 1) * {_US_PER_HOUR} AS e
      FROM events
      WHERE event_type IN ('view', 'click')
    )
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS click_id,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM iv a
    JOIN iv b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'click'
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: each view/click event carries
    a deterministic 1-7 h activity interval; emit every same-user
    (view, click) pair whose intervals overlap, with the exact overlap
    in integer microseconds.  This is the 2-sided range shape
    (a.s <= b.e AND b.s <= a.e) that neither an equi-join nor the
    point-in-range q_range_join expresses.

    100 TB: the naive plan is a per-user theta join (quadratic in the
    per-user event count).  Instead each interval is exploded into the
    4-hour buckets it covers (bounded at 3 by the duration cap), both
    sides equi-join on (user_id, bucket) — a plain shuffled hash join —
    and the exact overlap predicate verifies within buckets; a pair
    spanning several shared buckets would dup, so candidates dedupe on
    the pair key before the final projection.  Blocking factor and
    duration cap are the two knobs: bucket width ~ max duration keeps
    the explode factor and bucket occupancy both O(1)."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("s"),
            (
                F.unix_micros("ts")
                + (F.col("event_id") % 7 + 1) * F.lit(_US_PER_HOUR)
            ).alias("e"),
        )
    )
    bucketed = ev.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _BUCKET_US),
                F.floor(F.col("e") / _BUCKET_US),
            )
        ).alias("bucket"),
    )
    a = bucketed.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("bucket"),
        F.col("event_id").alias("view_id"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = bucketed.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("b_user"),
        F.col("bucket").alias("b_bucket"),
        F.col("event_id").alias("click_id"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    pairs = (
        a.join(
            b,
            (a["user_id"] == b["b_user"])
            & (a["bucket"] == b["b_bucket"])
            & (a["a_s"] <= b["b_e"])
            & (b["b_s"] <= a["a_e"]),
        )
        # a pair overlapping across k shared buckets appears k times
        .select("user_id", "view_id", "click_id", "a_s", "a_e", "b_s", "b_e")
        .distinct()
    )
    return pairs.select(
        "user_id",
        "view_id",
        "click_id",
        (
            F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
        ).alias("overlap_us"),
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle): distinct 3-token shingles per document
    (docs under 3 tokens produce no rows and are absent from every
    downstream relation, matching the oracle)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("t")
    )
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> concat_ws(' ', slice(t, i + 1, 3)))"
                )
            ).alias("shingle"),
        )
        .filter(F.size("t") >= 3)
        .distinct()
    )


def shingle_set_reps_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rep_id): rep = min doc_id among documents with the
    IDENTICAL distinct-3-shingle SET — the containment twin of the
    text chain's token_set_reps, materialized once per session
    like document_reps (plans/llm.py).  Containment is a pure
    function of the shingle sets, so pair mining needs only one
    representative per DISTINCT set and results expand back through
    this map; identical-set documents have containment exactly 1
    with each other and identical containment against everyone else.
    Shingles contain spaces, so the set key joins on \\x01 (never in
    whitespace-split tokens).  Only shingled documents (>= 3 tokens)
    appear, matching the oracle's sh relation.

    Returns ``(member_map, rep_shingles)`` — BOTH materialized: the
    rep shingle table too, so the consumer's inverted-index self-join
    sits directly on column-pruned parquet scans with no join subtree
    beneath it (the duplicated-subplan discipline, DESIGN §20 — a
    rep-filter join below a self-join would execute once per side)."""
    def build(out: str) -> None:
        sh = _doc_shingles(spark, sf_dir)
        keyed = sh.groupBy("doc_id").agg(
            F.md5(
                F.concat_ws("\x01", F.array_sort(F.collect_set("shingle")))
            ).alias("skey")
        )
        reps = keyed.groupBy("skey").agg(F.min("doc_id").alias("rep_id"))
        m = keyed.join(reps, "skey").select("doc_id", "rep_id")
        m.write.mode("overwrite").parquet(os.path.join(out, "members"))
        m_scan = spark.read.parquet(os.path.join(out, "members"))
        sh.join(
            m_scan.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"),
            "doc_id",
        ).write.mode("overwrite").parquet(os.path.join(out, "rep_shingles"))

    out = session_artifact(spark, sf_dir, "shingle_set_reps", build)
    return (
        spark.read.parquet(os.path.join(out, "members")),
        spark.read.parquet(os.path.join(out, "rep_shingles")),
    )


@register(
    "q_containment_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
                         AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.sz AS BIGINT) AS sz_a,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE)
             AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE)
          >= {_CONTAIN_THRESH}
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dup pairs: |shingles(A) ∩ shingles(B)|
    / |shingles(A)| >= 0.8 over distinct 3-token shingles — the
    asymmetric criterion that catches a short document embedded inside
    a longer one, which symmetric Jaccard dilutes below threshold.
    Output is directed: (id_a contained-in id_b) and its reverse are
    separate decisions.

    100 TB: pair mining runs on ONE REPRESENTATIVE per distinct
    shingle set (shingle_set_reps_artifact — the rep-collapse that
    keeps the inverted-index join linear in DISTINCT texts instead of
    quadratic in duplicates: on a duplicate-heavy corpus every
    posting list shrinks by the duplication factor, so candidate
    pairs shrink by its square; measured 190 → ~8 s at sf1 on the
    10×-replicated stress corpus with bit-identical output).  The
    intersection itself is the shingle inverted-index equi-join
    (shuffle on shingle), never an all-pairs product; results expand
    back through the member map — cross-group pairs inherit the rep
    pair's counts (identical sets ⇒ identical intersections), and
    within-group ordered pairs are containment exactly 1 by
    construction.  At ingest scale the same join is further pruned by
    stop-shingle df-caps / prefix filtering (the q_setsim_prefix_join
    machinery) when approximate recall is acceptable; THIS query is
    the exact-semantics verify, so it prunes only via the collapse."""
    m, rep_sh = shingle_set_reps_artifact(spark, sf_dir)
    sizes = rep_sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    other = rep_sh.select(
        F.col("doc_id").alias("rb"), F.col("shingle").alias("sh_b")
    )
    inter = (
        rep_sh.join(
            other,
            (rep_sh["shingle"] == other["sh_b"])
            & (rep_sh["doc_id"] != other["rb"]),
        )
        .groupBy(F.col("doc_id").alias("ra"), "rb")
        .agg(F.count("*").alias("n_inter"))
    )
    rep_pairs = (
        inter.join(sizes, inter["ra"] == sizes["doc_id"])
        .filter(F.col("n_inter") / F.col("sz") >= _CONTAIN_THRESH)
        .select("ra", "rb", "n_inter", "sz")
    )
    ma = m.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("id_a"))
    mb = m.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("id_b"))
    cross = (
        rep_pairs.join(ma, "ra")
        .join(mb, "rb")
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("sz").cast("bigint").alias("sz_a"),
            (F.col("n_inter") / F.col("sz")).alias("containment"),
        )
    )
    # identical-set ordered pairs: full intersection, containment 1.0
    # (0.8 <= 1 always passes); both directions via doc_id != doc_id
    within = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .join(sizes, F.col("x.rep_id") == sizes["doc_id"])
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("sz").cast("bigint").alias("n_inter"),
            F.col("sz").cast("bigint").alias("sz_a"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionByName(within)


def _schema_evo_batches(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize two parquet batches of orders with DIFFERENT
    schemas: the early batch predates the o_orderpriority column, the
    late batch carries it — the column-arrived-later evolution case."""
    def build(out: str) -> None:
        orders = load(spark, sf_dir, "orders")
        early = orders.filter(F.col("o_orderdate") < F.lit(_EVO_CUTOFF))
        late = orders.filter(F.col("o_orderdate") >= F.lit(_EVO_CUTOFF))
        early.select("o_orderkey", "o_custkey", "o_totalprice").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "batch1"))
        late.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(out, "batch2"))

    out = session_artifact(spark, sf_dir, "schema_evo", build)
    return os.path.join(out, "batch1"), os.path.join(out, "batch2")


@register(
    "q_schema_merge_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderdate >= TIMESTAMP '{_EVO_CUTOFF} 00:00:00'
                THEN o_orderpriority ELSE NULL END AS o_orderpriority
    FROM orders
    """,
)
def q_schema_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written months
    apart with different schemas (o_orderpriority exists only in the
    newer batch) scanned as ONE table via mergeSchema — rows from the
    old batch surface the new column as NULL.  This is the read-side
    half of schema evolution (the write-side MERGE half is
    q_merge_upsert's mergeSchema test).

    100 TB: schema reconciliation happens on parquet FOOTERS at
    planning time, not data — the scan itself stays columnar with
    pushdown intact; the cost knob is footer-read fan-in, which is why
    production tables record the merged schema in the catalog/Delta log
    instead of re-deriving it per query (spark.sql.parquet.mergeSchema
    stays off by default for exactly this reason)."""
    b1, b2 = _schema_evo_batches(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(b1, b2)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "q_shard_assignment_balanced",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1
               AS pos
      FROM d
    ),
    assigned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN (pos // {_N_SHARDS}) % 2 = 0
                  THEN pos % {_N_SHARDS}
                  ELSE {_N_SHARDS - 1} - (pos % {_N_SHARDS})
             END AS shard
      FROM ranked
    )
    SELECT doc_id, n_tokens, CAST(shard AS INT) AS shard,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard) AS BIGINT)
             AS shard_tokens
    FROM assigned
    """,
)
def q_shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment: rank documents by token
    count (ties→doc_id), deal them into 8 shards in
    serpentine order (0..7, 7..0, ...) so every shard receives one doc
    per size band — the deterministic greedy that bounds the
    per-shard token-mass spread by one band, where hash sharding only
    balances in expectation and plain round-robin systematically
    favors shard 0.  Emits the assignment plus the resulting per-shard
    token totals.

    PRODUCTION PLAN: the rank comes from the boundary-cut exact
    global row number (operators/ranks.py, DESC on n_tokens) — token-
    count cuts become plan literals, per-bucket windows stay balanced,
    and the serpentine shard is pure arithmetic on the exact rank;
    the shard-total window is already PARTITIONed (8 groups).  Window
    twin pytest-pinned equal; oracle unchanged.  When rank-exact
    balance isn't required, the md5-hash shard (q_split_train_val) is
    the shuffle-free alternative."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        with_global_row_number,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    ranked = with_global_row_number(
        d,
        [F.desc("n_tokens"), "doc_id"],
        primary="n_tokens",
        descending=True,
        rn="__rn",
        secondary="doc_id",
    )
    pos = F.col("__rn") - 1
    assigned = ranked.select(
        "doc_id",
        "n_tokens",
        F.when(
            F.floor(pos / _N_SHARDS) % 2 == 0, pos % _N_SHARDS
        )
        .otherwise(F.lit(_N_SHARDS - 1) - pos % _N_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    return assigned.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.sum("n_tokens")
        .over(Window.partitionBy("shard"))
        .cast("bigint")
        .alias("shard_tokens"),
    )


def q_shard_assignment_balanced_window_form(
    spark: SparkSession, sf_dir: str
):
    """ROW_NUMBER oracle-exactness twin (former production plan),
    pytest-pinned equal to the boundary-cut form."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    pos = (
        F.row_number().over(Window.orderBy(F.desc("n_tokens"), "doc_id")) - 1
    )
    assigned = d.select(
        "doc_id",
        "n_tokens",
        F.when(
            F.floor(pos / _N_SHARDS) % 2 == 0, pos % _N_SHARDS
        )
        .otherwise(F.lit(_N_SHARDS - 1) - pos % _N_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    return assigned.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.sum("n_tokens")
        .over(Window.partitionBy("shard"))
        .cast("bigint")
        .alias("shard_tokens"),
    )


@register(
    "q_not_in_nulls",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_custkey END AS fk
      FROM orders
    ),
    neg AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    SELECT
      (SELECT COUNT(*) FROM probe
        WHERE fk NOT IN (SELECT c_custkey FROM neg)) AS n_not_in,
      (SELECT COUNT(*) FROM probe p
        WHERE NOT EXISTS (SELECT 1 FROM neg n
                          WHERE n.c_custkey = p.fk)) AS n_not_exists,
      (SELECT COUNT(*) FROM probe WHERE fk IS NULL) AS n_null_probes
    """,
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULL probes — the ANSI three-valued
    divergence every migration trips over: a NULL foreign key makes
    `fk NOT IN (...)` UNKNOWN (row dropped) while `NOT EXISTS` finds
    no match (row kept), so the two counts differ by exactly the
    null-probe count whenever the subquery itself is null-free.  Spark
    plans the NOT IN as a null-aware anti join; both engines implement
    the same standard, which this query pins down as a regression
    canary.

    100 TB: both shapes are anti joins against the (tiny,
    broadcastable) negative-balance key set — the semantics differ,
    the physical plan cost doesn't; the null-aware variant only gets
    expensive when the SUBQUERY side can be null (forces a
    zero-partition check), which is why production schemas declare FK
    columns NOT NULL."""
    return spark.sql(
        """
        WITH probe AS (
          SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                      ELSE o_custkey END AS fk
          FROM {orders}
        ),
        neg AS (SELECT c_custkey FROM {customer} WHERE c_acctbal < 0)
        SELECT
          (SELECT COUNT(*) FROM probe
            WHERE fk NOT IN (SELECT c_custkey FROM neg)) AS n_not_in,
          (SELECT COUNT(*) FROM probe p
            WHERE NOT EXISTS (SELECT 1 FROM neg n
                              WHERE n.c_custkey = p.fk)) AS n_not_exists,
          (SELECT COUNT(*) FROM probe WHERE fk IS NULL) AS n_null_probes
        """,
        orders=load(spark, sf_dir, "orders"),
        customer=load(spark, sf_dir, "customer"),
    )


@register(
    "q_partition_pruned_scan",
    oracle="""
    SELECT event_id, ts, user_id, value, event_type
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned read: events written hive-partitioned by
    event_type, then scanned with an event_type predicate — the filter
    resolves against DIRECTORY names at planning time (PartitionFilters
    in the scan node), so the purchase partition is the only data ever
    opened.  The write half (q_write_partitioned) proves layout; this
    proves the read-side payoff.

    100 TB: partition pruning is the single highest-leverage scan
    optimization — a 1-of-5 partition hit reads 20% of the table with
    ZERO per-row work, before row-group min/max skipping even applies;
    the planning cost is listing one directory level.  Partition
    columns must stay low-cardinality (event_type: 5 values) or the
    file listing itself becomes the bottleneck."""
    path = session_artifact(
        spark,
        sf_dir,
        "events_by_type",
        lambda p: load(spark, sf_dir, "events")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(p),
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "value", "event_type")
    )
