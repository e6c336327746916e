"""Analytics tier XXXVIII: XML extraction, map-typed higher-order
functions, case-insensitive collations.

New shapes over I-XXXVII: xpath extraction over an XML column
(element AND attribute paths, round-tripped against the source
columns the XML was built from — the same identity-oracle discipline
as the pyjsonl sink), the map-typed HOF battery (map_from_entries →
transform_values → map_filter → explode; the array HOFs are
q_higher_order_fns), and Spark 4 string collations (UTF8_LCASE
grouping ≡ lower()-normalized grouping, pinned cross-engine).

Cross-engine exactness: XML values round-trip through Spark's own
shortest-decimal double rendering; map values are integer counts;
collation equality on ASCII equals lower() equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores


@register(
    "q_xml_extract",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS id_rt,
           o_orderpriority AS priority,
           o_totalprice AS price
    FROM orders
    """,
)
def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML column extraction: an XML document is rendered per order
    (attribute id + two child elements), then xpath pulls the
    attribute (`/order/@id`) and elements back out and re-casts them
    to their original types.  The oracle is the source projection —
    losslessness of the render→parse round trip IS the assertion,
    exactly like q_python_datasource_write for JSON.  Doubles survive
    because Spark renders shortest round-trip decimals and its own
    cast parses them back bit-equal.

    100 TB: parse ONCE — Spark 4's native from_xml builds the typed
    struct in a single parse and all fields project from it; the r3
    form ran one xpath_string per field, and each xpath_string call
    instantiates a DOM parse, so three fields cost three parses per
    row (44 s at sf0.1). With from_xml + a cost-respread scan
    (spread_to_cores — the orders parquet is 1-2 row groups at test
    SFs, serializing the parse): 0.5 s, ~90×. Same discipline as
    q_variant_extract for JSON (parse to VARIANT once, then typed
    gets)."""
    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('"><priority>'),
        F.col("o_orderpriority"),
        F.lit("</priority><price>"),
        F.col("o_totalprice").cast("string"),
        F.lit("</price></order>"),
    )
    parsed = (
        spread_to_cores(load(spark, sf_dir, "orders"))
        .select("o_orderkey", xml.alias("xml"))
        .select(
            "o_orderkey",
            F.from_xml(
                "xml", "STRUCT<_id: BIGINT, priority: STRING, price: DOUBLE>"
            ).alias("p"),
        )
    )
    return parsed.select(
        "o_orderkey",
        F.col("p._id").alias("id_rt"),
        F.col("p.priority").alias("priority"),
        F.col("p.price").alias("price"),
    )


@register(
    "q_map_fns",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    s AS (SELECT user_id, CAST(COUNT(*) AS INT) AS n_types
          FROM c GROUP BY user_id)
    SELECT c.user_id, c.event_type,
           CAST(c.n * 2 AS BIGINT) AS n2, s.n_types
    FROM c JOIN s USING (user_id)
    WHERE c.n * 2 >= 10
    """,
)
def q_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed higher-order functions: per-user event-type counts
    assembled into a MAP column (map_from_entries), values rescaled
    in place (transform_values), small entries dropped map-side
    (map_filter), cardinality read off with size(), and the result
    exploded back to rows — the map complement of the array-lambda
    battery (q_higher_order_fns).  The oracle is the equivalent
    relational pipeline (group → scale → filter → join), proving the
    map algebra preserves exact integer values.

    100 TB: the map stays inside one row — every HOF here is
    codegen'd per row with zero shuffle beyond the initial count;
    per-user maps are bounded by event-type cardinality (5), which is
    the required invariant: map columns model BOUNDED per-key state,
    never unbounded collections (that's what explode + aggregation
    are for)."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    hof = maps.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.map_filter(
            F.transform_values("m", lambda _k, v: v * 2),
            lambda _k, v: v >= 10,
        ).alias("m2"),
    )
    return hof.select(
        "user_id", F.explode("m2").alias("event_type", "n2"), "n_types"
    ).select("user_id", "event_type", "n2", "n_types")


@register(
    "q_collation_groupby",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN o_orderkey % 2 = 0
                  THEN upper(o_orderpriority)
                  ELSE lower(o_orderpriority) END AS label
      FROM orders
    )
    SELECT lower(label) AS priority, CAST(COUNT(*) AS BIGINT) AS n
    FROM t GROUP BY lower(label)
    """,
)
def q_collation_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: mixed-case labels grouped under
    UTF8_LCASE collation — equality, and therefore grouping, hashing
    and shuffling, is case-insensitive at the TYPE level instead of
    via lower() rewrites scattered through the query.  The emitted key
    is lower()-normalized because a collated group's representative
    value is whichever variant a partition saw first (order-dependent)
    — the one collation gotcha worth pinning in a regression query.

    100 TB: collation-aware hashing happens inside the normal
    hash-aggregate path (no extra pass, no normalization column); the
    trade is that collated comparisons are costlier per row than
    binary equality, so collate the COLUMN only where the semantics
    need it."""
    return spark.sql(
        """
        WITH t AS (
          SELECT CASE WHEN o_orderkey % 2 = 0
                      THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority)
                 END COLLATE UTF8_LCASE AS label
          FROM {orders}
        )
        SELECT lower(CAST(label AS STRING)) AS priority,
               COUNT(*) AS n
        FROM t GROUP BY label
        """,
        orders=load(spark, sf_dir, "orders"),
    )
