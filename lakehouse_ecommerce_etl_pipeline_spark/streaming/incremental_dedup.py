"""Streaming incremental corpus dedup: each arriving document batch
is probed against the PERSISTED survivor index, and only novel
documents (no LSH-verified near-dup among prior survivors) are
appended — the streaming face of ``plans/llm12.q_dedup_incremental``.

State design: the stream checkpoint holds only file-source discovery
state; the dedup state is two plain parquet tables the pipeline owns —
``survivors`` (doc_id, text — what verification joins against) and
``bands`` (doc_id, band_idx, band_hash — what candidates equi-join
against).  Restarting the query with the same checkpoint resumes
exactly where it stopped and never reprocesses a file, so the
survivor set is append-only and deterministic in arrival order.

100 TB: per micro-batch cost is O(batch bands ⋈ index bands) — an
equi-join against a bucketable index that GROWS ONLY BY SURVIVORS,
never a corpus rescan; at real scale the bands table is a bucketed
(band_idx, band_hash) table so the probe is shuffle-free on the index
side, and survivors' text lives in the corpus store keyed by doc_id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.llm.dedup import (
    jaccard_pairs,
    lsh_band,
    minhash_signatures_universal,
)
from lakehouse_ecommerce_etl_pipeline_spark.streaming.drain import drain

_NUM_HASHES = 8
_ROWS_PER_BAND = 2
_THRESH = 0.5


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The state table at ``path``, or None before the first batch has
    written it. Any other read error raises: an unreadable index must
    not pass for an empty one."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def dedup_batch_against_index(
    batch: DataFrame, survivors: DataFrame | None, bands: DataFrame | None
) -> DataFrame:
    """Pure per-batch decision: batch docs with NO verified near-dup
    among prior survivors.  In-batch duplicates are resolved by the
    next batch (each batch's survivors join the index before the next
    arrives), matching sequential-arrival semantics.

    r4 rep-collapse: the keep/drop verdict is EXISTENCE of a verified
    match, and signatures/Jaccard are pure functions of the token
    set — so the batch probes with one representative per distinct
    set, colliding index docs collapse to their own reps before
    verification, and a batch doc drops iff its rep drops.  Verify
    volume is distinct-text pairs, not duplicate pairs.  (At real
    scale the srep key would be persisted WITH the survivor index
    instead of recomputed per batch.)"""
    if survivors is None or bands is None:
        return batch
    from lakehouse_ecommerce_etl_pipeline_spark.llm.components import (
        token_set_reps,
    )

    mb = token_set_reps(batch, "doc_id", "text")
    batch_reps = (
        batch.join(mb, "doc_id")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    sig = minhash_signatures_universal(batch_reps, "doc_id", "text", _NUM_HASHES)
    probe = lsh_band(sig, "doc_id", _NUM_HASHES, _ROWS_PER_BAND)
    msurv = token_set_reps(survivors, "doc_id", "text")
    cand = (
        probe.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .join(msurv, F.col("id_b") == msurv["doc_id"])
        .select("id_a", F.col("rep_id").alias("id_b"))
        .distinct()
    )
    corpus = batch.select("doc_id", "text").unionByName(
        survivors.select("doc_id", "text")
    )
    dup_breps = (
        jaccard_pairs(corpus, "doc_id", "text", pairs=cand)
        .filter(F.col("jaccard") >= _THRESH)
        .select(F.col("id_a").alias("rep_id"))
        .distinct()
    )
    dup_ids = mb.join(dup_breps, "rep_id").select("doc_id")
    return batch.join(dup_ids, "doc_id", "left_anti")


def run_incremental_dedup(
    spark: SparkSession,
    raw_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain all new parquet files under ``raw_dir`` through the
    incremental dedup, appending survivors (and their bands) to the
    state tables.  availableNow + a persistent checkpoint make the
    call restartable: invoke again after new files land and only the
    new files are processed."""
    surv_path = os.path.join(state_dir, "survivors")
    bands_path = os.path.join(state_dir, "bands")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(raw_dir)
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        survivors = _read_or_none(s, surv_path)
        bands = _read_or_none(s, bands_path)
        keep = dedup_batch_against_index(batch, survivors, bands)
        keep = keep.localCheckpoint(eager=True)
        if keep.count() > 0:
            keep.select("doc_id", "text").write.mode("append").parquet(
                surv_path
            )
            sig = minhash_signatures_universal(keep, "doc_id", "text", _NUM_HASHES)
            lsh_band(sig, "doc_id", _NUM_HASHES, _ROWS_PER_BAND).write.mode(
                "append"
            ).parquet(bands_path)

    # r13: the per-batch dedup pipeline runs ~6 tiny batch jobs per
    # staged file; the drain's input-sized shuffle width (same rationale
    # as the stateful drains — see state_sized_shuffle) cuts the
    # per-batch exchange overhead.  Batch-side plans keep AQE, so this
    # only moves the pre-AQE width.
    drain(
        stream.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        raw_dir,
    )
