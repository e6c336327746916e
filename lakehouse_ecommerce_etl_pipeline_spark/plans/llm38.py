"""LLM tier XXXVIII: protobuf delimited streams — the event-bus
interchange format (Kafka/gRPC payloads) as export + scan.

The spark-protobuf jar and compiled descriptors are absent from this
runtime (probed), so sources/proto.py implements the published wire
format directly (varint base-128, tag bytes, writeDelimitedTo
framing), the way the Avro/WARC/xlsx sources do for their specs.

Oracle strategy mirrors the Avro tier verbatim: per-record encoded
sizes are closed-form varint arithmetic (an off-by-one in a length
prefix or a wrong tag byte breaks the digit-exact equality), and the
scan proves full export→import identity against the original table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import (
    load,
    session_artifact,
    session_dir,
)
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm30 import _varlen
from lakehouse_ecommerce_etl_pipeline_spark.plans.registry import register
from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
    scan_proto,
    write_proto_files,
)
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain

_N_FILES = 8


@register(
    "q_export_protobuf",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id,
             CAST(strlen(text) AS BIGINT) AS sz,
             doc_id AS uid
      FROM documents
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(2 + {_varlen('uid')} + {_varlen('sz')} + sz) AS BIGINT)
             AS record_bytes
    FROM m GROUP BY file_id
    """,
)
def q_export_protobuf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → {_N_FILES} deterministic length-delimited .pb streams;
    per-file stats where ``record_bytes`` sums each message's wire
    size — two single-byte tags + varint(doc_id) + varint(len) +
    utf-8 payload — and the oracle restates that varint arithmetic in
    pure SQL (protobuf int64 field 1 is an unprefixed uvarint, unlike
    Avro's zigzag, so the oracle's argument is the RAW id).

    100 TB: one applyInPandas group per file (size-bound the files in
    production); protobuf streams are not splittable, so export-side
    file count IS downstream scan parallelism — exactly the knob this
    writer exposes."""
    return (
        write_proto_files(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_files=_N_FILES,
        )
        .select("file_id", "n_records", "record_bytes")
    )


def _doc_streams(spark: SparkSession, sf_dir: str) -> str:
    """The corpus as delimited .pb streams, written once per session."""
    return session_artifact(
        spark,
        sf_dir,
        "proto_streams",
        lambda p: write_proto_files(
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            n_files=_N_FILES,
            out_dir=p,
        ).collect(),  # stat rows — the action that writes the files
    )


def _nested_streams(spark: SparkSession, sf_dir: str) -> str:
    """lineitem as nested OrderLines .pb streams, written once per
    session."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        write_proto_nested_files,
    )

    return session_artifact(
        spark,
        sf_dir,
        "proto_nested",
        lambda p: write_proto_nested_files(
            load(spark, sf_dir, "lineitem"), n_files=_N_FILES, out_dir=p
        ).collect(),
    )


@register(
    "q_scan_protobuf",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_scan_protobuf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST side: materialize the corpus as delimited .pb streams
    once per session, scan back distributedly
    (binaryFile → varint walker in mapInPandas), and prove the
    export→import identity — every message returns byte-for-byte
    through tag dispatch + varint decode, oracle recomputed from the
    ORIGINAL table."""
    recs = scan_proto(spark, _doc_streams(spark, sf_dir))
    return recs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
    )


@register(
    "q_stream_protobuf_ingest",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_stream_protobuf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-zone pattern over protobuf wire streams as REAL
    Structured Streaming (the Avro tier's q_stream_avro_ingest, at the
    other wire format): a file stream watches the .pb directory, every
    discovered stream decodes through the same mapInPandas varint
    walker, availableNow drains the backlog into a parquet sink
    through a checkpoint, and the identity oracle holds regardless of
    micro-batch split — ingest correctness is batching-invariant.

    100 TB: file-source streams scale by file count
    (maxFilesPerTrigger); only source-discovery state checkpoints —
    the decode is stateless."""
    import uuid

    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        stream_scan_proto,
    )

    streams = _doc_streams(spark, sf_dir)
    run = os.path.join(
        session_dir(spark, sf_dir, "proto_stream"), uuid.uuid4().hex[:8]
    )
    sink, ckpt = os.path.join(run, "sink"), os.path.join(run, "ckpt")
    drain(
        stream_scan_proto(spark, streams)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        streams,
    )
    return spark.read.parquet(sink).select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_hash"),
    )


def _varlen9(u: str) -> str:
    """SQL: varint byte length of non-negative {u}, to 9 bytes (epoch
    micros need 8)."""
    return (
        f"CASE WHEN {u} < 128 THEN 1 WHEN {u} < 16384 THEN 2"
        f" WHEN {u} < 2097152 THEN 3 WHEN {u} < 268435456 THEN 4"
        f" WHEN {u} < 34359738368 THEN 5 WHEN {u} < 4398046511104 THEN 6"
        f" WHEN {u} < 562949953421312 THEN 7"
        f" WHEN {u} < 72057594037927936 THEN 8 ELSE 9 END"
    )


@register(
    "q_export_protobuf_orders",
    oracle=f"""
    WITH m AS (
      SELECT CAST(o_orderkey % {_N_FILES} AS INTEGER) AS file_id,
             o_orderkey AS k, o_custkey AS c,
             CAST(strlen(o_orderstatus) AS BIGINT) AS ls,
             epoch_us(o_orderdate) AS us,
             CAST(strlen(o_orderpriority) AS BIGINT) AS lr
      FROM orders
    )
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(14 + {_varlen9('k')} + {_varlen9('c')}
                    + {_varlen9('ls')} + ls + {_varlen9('us')}
                    + {_varlen9('lr')} + lr) AS BIGINT) AS record_bytes
    FROM m GROUP BY file_id
    """,
)
def q_export_protobuf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED protobuf export — the Order message exercises all three
    scalar wire types (varint keys + epoch-micro timestamps, fixed64
    IEEE double price, length-delimited strings).  The oracle's
    closed form per message: 6 single-byte tags + 8 fixed64 bytes
    (= 14) + varints + string payloads; a wrong wire type or a
    truncated fixed64 breaks the digit-exact sum."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        write_proto_order_files,
    )

    return (
        write_proto_order_files(
            load(spark, sf_dir, "orders"), n_files=_N_FILES
        )
        .select("file_id", "n_records", "record_bytes")
    )


@register(
    "q_scan_protobuf_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
    FROM orders
    """,
)
def q_scan_protobuf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPED identity through the wire format: every column of every
    order returns exactly — including the DOUBLE through IEEE-754
    fixed64 (bit-preserving, proven by the value hash) and the
    timestamp through epoch-micros varints."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        scan_proto_orders,
        write_proto_order_files,
    )

    out = session_artifact(
        spark,
        sf_dir,
        "proto_orders",
        lambda p: write_proto_order_files(
            load(spark, sf_dir, "orders"), n_files=_N_FILES, out_dir=p
        ).collect(),
    )
    return scan_proto_orders(spark, out)


@register(
    "q_export_protobuf_nested",
    oracle=f"""
    WITH l AS (
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
             l_partkey AS pk,
             CAST(strlen(l_returnflag) AS BIGINT) AS lf,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    ),
    per_line AS (
      SELECT l_orderkey,
             3 + {_varlen9('ln')} + {_varlen9('pk')}
               + {_varlen9('lf')} + lf AS line_size,
             {_varlen9('q')} AS qbytes
      FROM l
    ),
    per_order AS (
      SELECT l_orderkey,
             CAST(SUM(1 + {_varlen9('line_size')} + line_size) AS BIGINT)
               AS lines_bytes,
             CAST(SUM(qbytes) AS BIGINT) AS qpayload
      FROM per_line GROUP BY l_orderkey
    ),
    msg AS (
      SELECT CAST(l_orderkey % {_N_FILES} AS INTEGER) AS file_id,
             1 + {_varlen9('l_orderkey')} + lines_bytes
               + 1 + {_varlen9('qpayload')} + qpayload AS msg
      FROM per_order
    )
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(msg) AS BIGINT) AS record_bytes
    FROM msg GROUP BY file_id
    """,
)
def q_export_protobuf_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED protobuf export — one OrderLines message per order with
    its lineitems as ``repeated`` embedded Line messages (wire type 2
    recursion) and quantities as a proto3 PACKED repeated-varint
    block.  The oracle restates the whole recursive framing as varint
    arithmetic: per-line body sizes, the per-occurrence embed framing
    (tag + length prefix per Line), and the single packed block —
    a wrong nesting depth, an unpacked-by-mistake field 3, or an
    off-by-one in any inner length prefix breaks the digit-exact sum.

    100 TB: the fan-in (lines per order) is bounded, so the one
    applyInPandas group per FILE stays memory-safe under the same
    file-count knob as the flat exports."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        write_proto_nested_files,
    )

    return (
        write_proto_nested_files(
            load(spark, sf_dir, "lineitem"), n_files=_N_FILES
        )
        .select("file_id", "n_records", "record_bytes")
    )


@register(
    "q_scan_protobuf_nested",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_partkey, l_returnflag,
           CAST(l_quantity AS BIGINT) AS l_quantity
    FROM lineitem
    """,
)
def q_scan_protobuf_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity through the NESTED wire format: every lineitem row
    returns exactly after the order-grouped export — embedded-message
    recursion, repeated-field accumulation, and positional alignment
    between the Line embeds and the packed quantities block all proven
    by the value hash against the ORIGINAL table.  The walker reads
    tags as varints and dispatches on (field_number, wire_type),
    accepting packed and expanded repeated encodings per spec."""
    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        scan_proto_nested,
    )

    return scan_proto_nested(spark, _nested_streams(spark, sf_dir))


@register(
    "q_stream_protobuf_nested_ingest",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_partkey, l_returnflag,
           CAST(l_quantity AS BIGINT) AS l_quantity
    FROM lineitem
    """,
)
def q_stream_protobuf_nested_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NESTED wire format through the drop-zone streaming pattern
    (completing the tier's trio: export, scan, stream — as the flat
    Doc and typed Order messages have): a file stream discovers the
    OrderLines streams, every micro-batch flattens through the same
    recursive walker into a parquet sink via availableNow + a
    checkpoint, and the identity oracle holds regardless of
    micro-batch split — embedded-message recursion and packed-
    repeated decode are batching-invariant because framing is
    per-file.

    100 TB: file-source streams scale by file count; the decode is
    stateless, so only source-discovery state checkpoints."""
    import uuid

    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        stream_scan_proto_nested,
    )

    streams = _nested_streams(spark, sf_dir)
    run = os.path.join(
        session_dir(spark, sf_dir, "proto_stream_nested"), uuid.uuid4().hex[:8]
    )
    sink, ckpt = os.path.join(run, "sink"), os.path.join(run, "ckpt")
    drain(
        stream_scan_proto_nested(spark, streams)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        streams,
    )
    return spark.read.parquet(sink)


@register(
    "q_protobuf_corrupt_recovery",
    oracle=f"""
    WITH m AS (
      SELECT CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id, doc_id,
             2 + {_varlen9('doc_id')}
               + {_varlen9('CAST(strlen(text) AS BIGINT)')}
               + strlen(text) AS msg
      FROM documents
    ),
    framed AS (
      SELECT file_id, doc_id, {_varlen9('msg')} + msg AS framed_bytes
      FROM m
    ),
    cum AS (
      SELECT file_id, doc_id,
             SUM(framed_bytes) OVER (
               PARTITION BY file_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_bytes,
             SUM(framed_bytes) OVER (PARTITION BY file_id) AS file_bytes
      FROM framed
    )
    SELECT file_id,
           CAST(SUM(CASE WHEN file_id <> {_N_FILES - 1}
                         OR cum_bytes <= file_bytes // 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           -- truncated is DERIVED from the framing, not hardcoded to
           -- the victim file: decode_delimited_tolerant returns False
           -- when the size//2 cut lands exactly on a message boundary
           -- (or an empty prefix), so the oracle checks whether the
           -- cut point is one of the cum_bytes boundaries.
           (file_id = {_N_FILES - 1}
            AND MAX(file_bytes) // 2 > 0
            AND MAX(CASE WHEN cum_bytes = file_bytes // 2
                         THEN 1 ELSE 0 END) = 0) AS truncated
    FROM cum GROUP BY file_id
    """,
)
def q_protobuf_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-stream accounting (the csv/json corrupt-recovery
    pattern at the binary layer): the LAST container is truncated to
    half its bytes; a tolerant walker recovers every message wholly
    inside the cut and reports per-file (recovered count, truncated
    flag).  The oracle pins the BYTE-LEVEL FRAMING itself: it replays
    the per-message varint arithmetic as a window cumsum per file and
    counts how many whole framed messages fit under floor(bytes/2) —
    an encoder or walker off by one byte moves the count.

    100 TB: this is what ingest does when an upstream producer dies
    mid-upload — recover the prefix, flag the file, re-request the
    tail; the walker is the same stateless mapInPandas kernel."""
    import shutil

    from lakehouse_ecommerce_etl_pipeline_spark.sources.proto import (
        decode_delimited_tolerant,
    )

    def corrupt_copy(out: str) -> None:
        pristine = _doc_streams(spark, sf_dir)
        for f in sorted(os.listdir(pristine)):
            if f.endswith(".pb"):
                shutil.copyfile(os.path.join(pristine, f), os.path.join(out, f))
        victim = os.path.join(out, f"part_{_N_FILES - 1:05d}.pb")
        with open(victim, "rb+") as fh:
            fh.truncate(os.path.getsize(victim) // 2)

    corrupt = session_artifact(spark, sf_dir, "proto_corrupt", corrupt_copy)

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("file_id", T.IntegerType()),
            T.StructField("n_ok", T.LongType()),
            T.StructField("truncated", T.BooleanType()),
        ]
    )

    def walk(batches):
        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                fid = int(path.rsplit("part_", 1)[1][:5])
                ok, trunc = decode_delimited_tolerant(bytes(blob))
                rows.append((fid, len(ok), trunc))
            yield pd.DataFrame(
                rows, columns=["file_id", "n_ok", "truncated"]
            )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pb")
        .load(corrupt)
        .select("path", "content")
    )
    return files.mapInPandas(walk, schema=out_schema)
