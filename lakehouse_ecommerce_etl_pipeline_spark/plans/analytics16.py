"""Analytics tier XVI: robust statistics and graph analytics.

New shapes over I-XV: median/MAD robust outlier detection (two-phase
exact quantiles), gaps-and-islands over integer sequences (the
row_number-difference trick), month-over-month growth rates, modal
value per group (deterministic argmax), global triangle counting on
the co-purchase graph (oriented wedge join), and a 3-iteration
decimal-exact PageRank — the iterative-dataflow tier with a full
DuckDB oracle (float sums are order-dependent, so every per-node
contribution is quantized to DECIMAL(25,15) before summing; decimal
addition is associative, making the fixpoint bit-identical on both
engines — the same discipline operators/aggregates.py applies to
plain SUMs).

Reference parity: the reference's docs promise "anomaly detection on
ordering behavior" (docs/full_implementation_guide.md:153) with no
code — median/MAD is that feature done robustly; the graph tier is
the co-purchase analysis its order_items fact exists to serve.

Cross-engine exactness: quantile_cont ≡ Spark percentile (verified,
q_percentile); double→decimal casts are tie-safe (dyadic rationals
never sit on half-ulp decimal boundaries); IEEE division/abs on
identical doubles; total orders under every ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    copurchase_graph,
    load,
    order_part_edges,
    session_artifact,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register


# ------------------------------------------------------- median + MAD


@register(
    "q_median_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT c_mktsegment, quantile_cont(c_acctbal, 0.5) AS seg_median
      FROM customer GROUP BY c_mktsegment
    ),
    dev AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, m.seg_median,
             abs(c.c_acctbal - m.seg_median) AS absdev
      FROM customer c JOIN med m USING (c_mktsegment)
    ),
    mad AS (
      SELECT c_mktsegment, quantile_cont(absdev, 0.5) AS seg_mad
      FROM dev GROUP BY c_mktsegment
    )
    SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal,
           d.seg_median, m.seg_mad
    FROM dev d JOIN mad m USING (c_mktsegment)
    WHERE d.absdev > 1.5 * m.seg_mad
    """,
)
def q_median_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: customers whose balance deviates from
    their segment median by more than 1.5× the median absolute
    deviation. Median/MAD resist the heavy tail that wrecks the
    z-score variant (q_anomaly_zscore) — this is the docs' promised
    "anomaly detection" feature built on order statistics.

    100 TB: two grouped exact percentiles (each a sort within the
    segment partition) and two broadcast-sized dimension joins (one
    row per segment). At scale swap percentile for approx_percentile
    sketches — the MAD cut tolerates sketch error by construction."""
    cust = load(spark, sf_dir, "customer")
    med = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", 0.5).alias("seg_median")
    )
    dev = cust.join(F.broadcast(med), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "seg_median",
        F.abs(F.col("c_acctbal") - F.col("seg_median")).alias("absdev"),
    )
    mad = dev.groupBy("c_mktsegment").agg(
        F.percentile("absdev", 0.5).alias("seg_mad")
    )
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .filter(F.col("absdev") > 1.5 * F.col("seg_mad"))
        .select("c_custkey", "c_mktsegment", "c_acctbal", "seg_median", "seg_mad")
    )


# ------------------------------------------------------- gaps & islands


@register(
    "q_integer_islands",
    oracle="""
    WITH m AS (
      SELECT DISTINCT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) // 60
             AS minute_idx
      FROM events
    ),
    g AS (
      SELECT minute_idx,
             minute_idx - row_number() OVER (ORDER BY minute_idx) AS grp
      FROM m
    )
    SELECT MIN(minute_idx) AS island_start,
           MAX(minute_idx) AS island_end,
           COUNT(*) AS n_minutes
    FROM g GROUP BY grp
    """,
)
def q_integer_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the integer epoch-minute sequence of
    event activity: maximal runs of consecutive active minutes via
    the classic value-minus-row_number constant-group trick. The
    integer-sequence cousin of q_sessionize (which islands on time
    gaps, not unit steps).

    100 TB: the distinct is a map-side-combined shuffle; the global
    row number runs on the boundary-cut machinery (operators/ranks.py
    — balanced per-bucket windows, literal offsets), so the trick
    survives finer grains and longer horizons than the minute/year
    domain that once justified a single-reducer sort (r8 promotion;
    former window form kept as the pytest-pinned twin, oracle
    unchanged).  The island grouping is unaffected: value − rank is
    constant per run for ANY exact global rank."""
    from lakehouse_ecommerce_etl_pipeline_spark.operators.ranks import (
        with_global_row_number,
    )

    m = (
        load(spark, sf_dir, "events")
        .select(
            F.expr("unix_timestamp(date_trunc('minute', ts)) div 60").alias(
                "minute_idx"
            )
        )
        .distinct()
    )
    g = with_global_row_number(
        m, ["minute_idx"], primary="minute_idx", rn="__rn"
    ).select(
        "minute_idx",
        (F.col("minute_idx") - F.col("__rn")).alias("grp"),
    )
    return g.groupBy("grp").agg(
        F.min("minute_idx").alias("island_start"),
        F.max("minute_idx").alias("island_end"),
        F.count(F.lit(1)).alias("n_minutes"),
    ).drop("grp")


def q_integer_islands_window_form(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unpartitioned-window oracle-exactness twin (former production
    plan), pytest-pinned equal to the boundary-cut rank."""
    m = (
        load(spark, sf_dir, "events")
        .select(
            F.expr("unix_timestamp(date_trunc('minute', ts)) div 60").alias(
                "minute_idx"
            )
        )
        .distinct()
    )
    g = m.select(
        "minute_idx",
        (
            F.col("minute_idx")
            - F.row_number().over(Window.orderBy("minute_idx"))
        ).alias("grp"),
    )
    return g.groupBy("grp").agg(
        F.min("minute_idx").alias("island_start"),
        F.max("minute_idx").alias("island_end"),
        F.count(F.lit(1)).alias("n_minutes"),
    ).drop("grp")


# ------------------------------------------------------- MoM growth


@register(
    "q_mom_growth",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           (revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month) AS mom_growth
    FROM m
    """,
)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: decimal-exact monthly sums,
    then one lag and one IEEE division over identical doubles. First
    month's growth is NULL (no prior).

    100 TB: the monthly rollup shuffles once and collapses to a few
    hundred rows; the lag window over months is driver-trivial. The
    pre-aggregation is what makes the unpartitioned window safe —
    never window over raw facts for a timeline."""
    m = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("double")
                / F.lit(100.0)
            ).alias("revenue")
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        ((F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


# ------------------------------------------------------- mode per group


@register(
    "q_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    r AS (
      SELECT l_returnflag, l_quantity AS modal_quantity, n AS n_lines,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity) AS rk
      FROM c
    )
    SELECT l_returnflag, modal_quantity, n_lines FROM r WHERE rk = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal (most frequent) quantity per return flag — the
    deterministic MODE() aggregate: count per (group, value), then a
    total-order ranking (count desc, value asc tiebreak) so both
    engines pick the same winner on ties.

    100 TB: two shuffles, both map-side combinable; the ranking
    window partitions by group so it parallelizes (and Spark executes
    the rk=1 filter as WindowGroupLimit — top-1 per partition without
    materializing ranks)."""
    c = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n"), "l_quantity"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("modal_quantity"),
            F.col("n").alias("n_lines"),
        )
    )


# ------------------------------------------------------- triangle count

_PAIRS_CTE = """
    d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """Re-orient an undirected edge set (one row per edge, any key
    orientation) from the (degree, id)-smaller endpoint to the
    larger — the classic triangle-enumeration orientation (Cohen
    2009 / Suri-Vassilvitskii "Counting Triangles and the Curse of
    the Last Reducer", WWW'11): the oriented out-degree of EVERY
    node is then O(sqrt(|E|)), so a high-degree hub no longer fans
    out its full neighborhood in the wedge join (key orientation
    bounds nothing when the hub also has a small id).

    Degrees are the undirected degrees, one map-side-combined agg of
    the endpoint union; ties are impossible because ids are unique,
    so the (deg, id) struct order is total and the result is a DAG.
    Returns (src, dst, dst_deg) — dst_deg is carried so the wedge
    pair-ordering downstream needs no extra join."""
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("src_deg"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("dst_deg"))
    ed = e.join(da, "src").join(db, "dst")
    fwd = F.struct(F.col("src_deg"), F.col("src")) < F.struct(
        F.col("dst_deg"), F.col("dst")
    )
    return ed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        F.when(fwd, F.col("dst_deg")).otherwise(F.col("src_deg")).alias(
            "dst_deg"
        ),
    )


def oriented_wedges(oriented: DataFrame) -> DataFrame:
    """(pivot, a, c) wedge rows from a degree-oriented edge set:
    pivot has out-edges to both a and c, and (a_deg, a) < (c_deg, c)
    so each unordered out-pair appears exactly once.  Per-pivot
    fan-out is C(outdeg, 2) with outdeg = O(sqrt(|E|)) under degree
    orientation — the quantity the skewed-graph regression test
    pins (a star hub emits ZERO wedges: all its edges point in)."""
    x = oriented.select(
        F.col("src").alias("pivot"),
        F.col("dst").alias("a"),
        F.col("dst_deg").alias("a_deg"),
    )
    y = oriented.select(
        F.col("src").alias("pivot"),
        F.col("dst").alias("c"),
        F.col("dst_deg").alias("c_deg"),
    )
    return x.join(y, "pivot").filter(
        F.struct(F.col("a_deg"), F.col("a"))
        < F.struct(F.col("c_deg"), F.col("c"))
    )


def oriented_triangles(
    e: DataFrame | None = None, *, oriented: DataFrame | None = None
) -> DataFrame:
    """One row (pivot, a, c) per triangle of the undirected edge set,
    found exactly once: orient by (degree, id), enumerate wedges at
    each triangle's orientation-minimal corner, close with the
    oriented (a → c) edge — a<c in the orientation order by the
    wedge filter, so the closing edge needs no LEAST/GREATEST
    canonicalization.  The triangle set is orientation-invariant, so
    consumers' oracles are unchanged from the key-oriented form.

    Pass ``oriented=`` when the caller already holds a materialized
    degree-oriented edge set (the plan path) — the orientation
    subplan is referenced three times here, and Spark does not dedupe
    common subplans, so plans should pay the degree agg once."""
    o = degree_oriented_edges(e) if oriented is None else oriented
    closing = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return oriented_wedges(o).join(closing, ["a", "c"]).select(
        "pivot", "a", "c"
    )


def degree_oriented_copurchase_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The (degree, id)-oriented co-purchase edge set, materialized
    once per session (same shared-artifact discipline as
    ``order_part_edges``): the degree agg and the two endpoint
    annotation joins are paid once, and the three self-references in
    the wedge + closing join become plain column-pruned parquet
    scans instead of three recomputations of the orientation."""
    path = session_artifact(
        spark,
        sf_dir,
        "degree_oriented_edges",
        lambda p: degree_oriented_edges(order_part_edges(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.parquet(path)


@register(
    "q_triangle_count",
    oracle=f"""
    WITH {_PAIRS_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.src = e1.dst
    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the co-purchase graph (parts are
    adjacent iff they share an order). Edges are re-oriented by
    (degree, id) and each triangle is counted exactly once at its
    orientation-minimal corner (``oriented_triangles``).

    100 TB: degree orientation caps every node's oriented out-degree
    at O(sqrt(|E|)) — on a skewed graph the wedge join's per-key
    fan-out is bounded even at the hubs, where the old key
    orientation blew up whenever a hub also had a small id. Cost:
    one extra map-side-combined degree agg plus two narrow equi-joins
    to annotate endpoints — paid ONCE via the shared materialized
    artifact (``degree_oriented_copurchase_edges``); all joins are
    equi-joins on edge endpoints (AQE picks broadcast for the
    |V|-row degree side at small sf, shuffle-hash beyond). Integer
    headroom: plain COUNT only — no count products (DESIGN §19: not
    applicable)."""
    o = degree_oriented_copurchase_edges(spark, sf_dir)
    return oriented_triangles(oriented=o).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


# ------------------------------------------------------- PageRank

_PR_ITERS = 3
_DAMP = 0.85


# Fixed-point PageRank grid: ranks live on an integer lattice of
# 1e-18 units (BIGINT-safe: total mass 1e18 < 2^63).  teleport and
# damping are exact integer ops — 0.15/n becomes 15e16 DIV n and
# 0.85·s becomes 85·(s DIV 100) — so the iteration is pure integer
# arithmetic in BOTH engines and bit-identical by construction (the
# old DECIMAL(25,15) quantization of a double division rounded
# differently in Spark [shortest-string BigDecimal, HALF_UP] vs
# DuckDB [exact-binary, half-even] once the graph was big enough to
# hit a boundary — caught at sf1, node 64).
_PR_SCALE = 10**18
_PR_TELEPORT_NUM = 15 * 10**16  # 0.15 × _PR_SCALE


@register(
    "q_pagerank",
    oracle=f"""
    WITH {_PAIRS_CTE},
    edges AS (
      SELECT src, dst FROM e
      UNION ALL
      SELECT dst AS src, src AS dst FROM e
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS c FROM deg),
    r0 AS (
      SELECT src AS node,
             CAST({_PR_SCALE} AS BIGINT) // (SELECT c FROM n) AS r
      FROM deg
    ),
    r1 AS (
      SELECT ed.dst AS node,
             CAST({_PR_TELEPORT_NUM} AS BIGINT) // (SELECT c FROM n)
             + 85 * (SUM(r.r // d.outdeg) // 100) AS r
      FROM edges ed
      JOIN deg d ON d.src = ed.src
      JOIN r0 r ON r.node = ed.src
      GROUP BY ed.dst
    ),
    r2 AS (
      SELECT ed.dst AS node,
             CAST({_PR_TELEPORT_NUM} AS BIGINT) // (SELECT c FROM n)
             + 85 * (SUM(r.r // d.outdeg) // 100) AS r
      FROM edges ed
      JOIN deg d ON d.src = ed.src
      JOIN r1 r ON r.node = ed.src
      GROUP BY ed.dst
    ),
    r3 AS (
      SELECT ed.dst AS node,
             CAST({_PR_TELEPORT_NUM} AS BIGINT) // (SELECT c FROM n)
             + 85 * (SUM(r.r // d.outdeg) // 100) AS r
      FROM edges ed
      JOIN deg d ON d.src = ed.src
      JOIN r2 r ON r.node = ed.src
      GROUP BY ed.dst
    )
    SELECT node, CAST(r AS DOUBLE) / {float(_PR_SCALE)} AS pagerank
    FROM r3
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 synchronous PageRank iterations (damping 0.85) over the
    symmetric co-purchase graph — the iterative-dataflow operator
    with a FULL value oracle: ranks live on a 1e-18 integer lattice
    (_PR_SCALE) and every engine-side op is BIGINT div/mul/sum, so
    the reduction is associative and the ranks are bit-identical
    across engines, partitionings, and retries (plain float PageRank
    is none of those, and even double→DECIMAL quantization rounds
    differently across engines at scale — see _PR_SCALE note).

    100 TB: one shuffle per iteration (group incoming contributions
    by dst); the degree-annotated symmetric edge list is the SHARED
    graph artifact (``copurchase_graph``: degrees map-side combined to
    |nodes| rows, broadcast back onto the edges — the edge table never
    shuffles or sorts for the annotation), materialized once per
    scale factor and here just scanned and cached. The ranks side of
    the per-iteration join is SIZE-GATED (VERDICT r3 task #3): ranks
    grow O(nodes), so the broadcast that wins at measured scales
    (241 MB shuffle vs 965 MB cumulative broadcast at sf1, but zero
    edge movement) becomes the scale-killer at ~100× nodes.  Below
    the gate (_PR_BROADCAST_MAX_NODES, override via
    SPARK_GRAFT_PR_MAX_BCAST_NODES) the ranks broadcast onto
    dst-partitioned cached edges; above it the edges are cached
    src-partitioned instead and each iteration shuffle-hash-joins the
    |nodes|-row contribution table against them — the edge table
    still never moves (only the small side shuffles), at the cost of
    one extra |nodes|-sized exchange per iteration. Crossover
    measurements: docs/DESIGN.md §12."""
    return _pagerank_impl(spark, sf_dir)


# Measured crossover (docs/DESIGN.md §12): broadcast wins at 20k
# nodes (2.5 vs 3.3 s warm, sf0.1) and loses at 200k (9.6 vs 6.5 s,
# sf1) — rebuilding an O(nodes) broadcast every iteration overtakes
# exchanging the same rows once somewhere in between.  100k splits
# the measured interval; override via SPARK_GRAFT_PR_MAX_BCAST_NODES.
_PR_BROADCAST_MAX_NODES = 100_000


def _pagerank_impl(
    spark: SparkSession, sf_dir: str, force_plan: str | None = None
) -> DataFrame:
    """force_plan: None = size gate decides; 'broadcast' / 'shuffle'
    pin a side (tests + the scale audit exercise both)."""
    import os as _os

    graph, deg = copurchase_graph(spark, sf_dir)
    n_nodes = deg.count()
    max_bcast = int(
        _os.environ.get(
            "SPARK_GRAFT_PR_MAX_BCAST_NODES", _PR_BROADCAST_MAX_NODES
        )
    )
    plan = force_plan or (
        "broadcast" if n_nodes <= max_bcast else "shuffle"
    )
    # only (src, dst) rides the iteration; the degree annotation lives
    # on the |nodes|-sized side, not on every edge row.  Partition by
    # the join-strategy's reuse key: dst (the per-iteration aggregate
    # key) under broadcast — the aggregate then reuses the exchange;
    # src (the join key) under shuffle-hash — the join then only
    # exchanges the |nodes|-row contribution side.
    part_key = "dst" if plan == "broadcast" else "src"
    ed = graph.select("src", "dst").repartition(part_key)

    # integer fixed-point iteration (see _PR_SCALE note above): the
    # driver computes the exact teleport term once; every engine-side
    # op is BIGINT div/mul/sum — associative AND identically rounded
    # everywhere, so the ranks are bit-equal across engines, plans,
    # partitionings, and retries.
    #
    # r12 optimization (guide §1.2/§2.4): the iteration count is a
    # FIXED small constant, so the three rounds chain LAZILY into one
    # physical plan instead of the former persist()+count() barrier per
    # round (4 blocking driver actions + a final parquet spill → one
    # job).  The identical per-round subtrees — the ed exchange and
    # each round's broadcast of the |nodes|-row contribution — are
    # deduplicated at runtime by AQE's exchange reuse (the final
    # adaptive plan appended to plans/r12/q_pagerank_after.txt shows
    # 4x ReusedExchange: the edge scan+shuffle materializes once and
    # the later rounds read the same shuffle stage; the PRE-execution
    # explain at the top of that file shows the 3 identical Exchange
    # subtrees AQE dedups), so the unrolled plan does the SAME data
    # movement as the checkpointed loop without any materialization. Values are bit-equal by the integer-lattice
    # argument above; the driver-side structure (size gate, teleport
    # literal) is unchanged.
    teleport = _PR_TELEPORT_NUM // n_nodes
    ranks = deg.select(
        F.col("node"),
        F.lit(_PR_SCALE // n_nodes).cast("bigint").alias("r"),
        "outdeg",
    )
    for it in range(_PR_ITERS):
        # The r div outdeg division happens HERE, on |nodes| rows
        # before the join — each edge row then only hash-probes and
        # adds a ready bigint, instead of re-dividing per edge
        # (|edges| >> |nodes|)
        contrib = ranks.select(
            "node", F.expr("r div outdeg").alias("c")
        )
        if plan == "broadcast":
            joined = ed.join(
                F.broadcast(contrib), ed["src"] == contrib["node"]
            )
        else:
            joined = ed.join(
                contrib.hint("shuffle_hash"),
                ed["src"] == contrib["node"],
            )
        nxt = (
            joined.groupBy(F.col("dst"))
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(teleport)
                    + F.lit(85) * F.expr("s div 100")
                ).alias("r"),
            )
        )
        if it < _PR_ITERS - 1:
            # re-attach outdeg only while another round still needs it
            nxt = nxt.join(F.broadcast(deg), "node")
        ranks = nxt
    return ranks.select(
        "node",
        (F.col("r").cast("double") / F.lit(float(_PR_SCALE))).alias(
            "pagerank"
        ),
    )


_KCORE_MAX_ROUNDS = 50


def kcore_k(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive core threshold: MIN initial degree + 1 — by
    construction at least every minimum-degree node peels (the
    operator always has work), while staying safely below the
    graph's sharp core collapse (the synthetic co-purchase graph is
    near-regular: its core empties within ~20 of the median, so
    percentile-based choices are brittle). Deterministic; one O(1)
    driver collect (the same model-sized-decision shape as kmeans)."""
    e = order_part_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return int(deg.agg(F.min("deg").alias("k")).collect()[0]["k"]) + 1


@register(
    "q_kcore",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    sym AS (
      SELECT src, dst FROM e
      UNION ALL
      SELECT dst AS src, src AS dst FROM e
    ),
    kv AS (
      SELECT MIN(cnt) + 1 AS k
      FROM (SELECT COUNT(*) AS cnt FROM sym GROUP BY src)
    ),
    peel(r, src, dst) AS (
      SELECT 0, src, dst FROM sym
      UNION ALL
      SELECT p.r + 1, p.src, p.dst
      FROM peel p
      WHERE p.r < {_KCORE_MAX_ROUNDS}
        AND p.src IN (SELECT src FROM peel GROUP BY src
                      HAVING COUNT(*) >= (SELECT k FROM kv))
        AND p.dst IN (SELECT src FROM peel GROUP BY src
                      HAVING COUNT(*) >= (SELECT k FROM kv))
    )
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM peel WHERE r = {_KCORE_MAX_ROUNDS} GROUP BY src
    """,
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph — the fifth
    graph fixpoint beside components, pagerank, BFS, and HITS:
    repeatedly delete nodes of degree < k until none remain; what
    survives is the k-core, the standard "dense enough to matter"
    subgraph filter (community seeds, spam/bot rings, influence
    backbones). k = min initial degree + 1 so the peel bites
    at every scale (see kcore_k). Emits each surviving node with its
    WITHIN-CORE degree. Value-oracled (VERDICT r3 task #4) by a
    DuckDB recursive-CTE twin: the peel runs under WORKING-TABLE
    semantics (each iteration sees only the previous round's edge
    rows, so the round-tagged edge set IS the peeling state), capped
    at the same {_KCORE_MAX_ROUNDS}-round bound; at a fixpoint every
    further round reproduces the same edges, so the r = cap slice
    equals Spark's early-broken fixpoint, and an emptied core yields
    zero r = cap rows on both sides. Also exact-match pytested
    against an independent pure-Python peeler (tests/test_kcore.py).

    100 TB: each round is one degree aggregation + two semi-joins on
    the shrinking edge set (monotone — nothing ever returns); each
    generation is localCheckpointed, so a round reads the previous
    round's blocks and its lineage stays one round deep, and the
    blocks free when the superseded generation is dropped. Round
    count is bounded by the degeneracy ordering depth, small in
    practice. The deleted-node set, not the graph, is the per-round
    churn."""
    k = kcore_k(spark, sf_dir)
    e = order_part_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cur = sym.localCheckpoint(eager=True)
    n_edges = cur.count()
    for _ in range(_KCORE_MAX_ROUNDS):
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        nxt = (
            cur.join(F.broadcast(keep), "src")
            .join(
                F.broadcast(keep.select(F.col("src").alias("dst"))), "dst"
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .select(F.col("src").alias("node"), "core_deg")
    )
