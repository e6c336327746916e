from __future__ import annotations

import hashlib
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.streaming.incremental_dedup import (
    run_incremental_dedup,
)

SF0001 = "/root/testdata/sf0.001"
_NUM_HASHES = 8
_ROWS_PER_BAND = 2
_THRESH = 0.5


def _norm_tokens(text: str) -> frozenset[str]:
    t = re.sub(r"\s+", " ", text.lower()).strip()
    return frozenset(tok for tok in t.split(" ") if tok)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _signature(toks: frozenset[str]) -> list[str]:
    return [min(_md5(f"{i}|{t}") for t in toks) for i in range(_NUM_HASHES)]


def _bands(sig: list[str]) -> set[tuple[int, str]]:
    return {
        (b, _md5("|".join(sig[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND])))
        for b in range(_NUM_HASHES // _ROWS_PER_BAND)
    }


def _jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    i = len(a & b)
    return round(i / (len(a) + len(b) - i), 6) if i else 0.0


def _reference_survivors(batches):
    """Sequential-arrival dedup: each batch screens against the
    survivor index only (in-batch dups both survive), then its
    survivors join the index — mirrors dedup_batch_against_index."""
    index: list[tuple[int, frozenset, set]] = []
    for batch in batches:
        fresh = []
        for doc_id, text in batch:
            toks = _norm_tokens(text)
            bands = _bands(_signature(toks))
            dup = any(
                bands & old_bands and _jaccard(toks, old_toks) >= _THRESH
                for _, old_toks, old_bands in index
            )
            if not dup:
                fresh.append((doc_id, toks, bands))
        index.extend(fresh)
    return {doc_id for doc_id, _, _ in index}


def test_streaming_incremental_dedup_matches_sequential_reference(
    spark, tmp_path
):
    docs = sorted(
        (r["doc_id"], r["text"])
        for r in load(spark, SF0001, "documents")
        .select("doc_id", "text")
        .limit(90)
        .collect()
    )
    # guarantee a cross-batch near-dup: batch 3 carries a one-token
    # variant of a batch-1 document
    base_id, base_text = docs[0]
    variant = (10_000_000, base_text + " extraneous")
    batches = [docs[:30], docs[30:60], docs[60:90] + [variant]]

    raw = tmp_path / "raw"
    state = tmp_path / "state"
    ckpt = tmp_path / "ckpt"
    raw.mkdir()
    schema = (
        load(spark, SF0001, "documents").select("doc_id", "text").schema
    )

    for i, batch in enumerate(batches):
        # stage as a FLAT file in raw/ — the file stream source does
        # not recurse into non-partition subdirectories
        stage = tmp_path / f"stage_{i}"
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(str(stage / part), str(raw / f"batch_{i}.parquet"))
        run_incremental_dedup(
            spark,
            str(raw),
            str(state),
            str(ckpt),
            schema,
            max_files_per_trigger=1,
        )

    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(state / "survivors")).collect()
    }
    expected = _reference_survivors(batches)
    assert got == expected
    # the planted variant must have been screened out as a near-dup
    assert variant[0] not in got
    assert base_id in got
    # restart with no new files: checkpoint prevents reprocessing
    run_incremental_dedup(
        spark, str(raw), str(state), str(ckpt), schema, 1
    )
    again = {
        r["doc_id"]
        for r in spark.read.parquet(str(state / "survivors")).collect()
    }
    assert again == got


def test_unreadable_survivor_index_raises(spark, tmp_path):
    """Only an absent state dir means "first batch": a survivors dir
    that exists but cannot be read as parquet fails the drain instead
    of passing for an empty index (which would keep every duplicate)."""
    from pyspark.errors import StreamingQueryException

    schema = load(spark, SF0001, "documents").select("doc_id", "text").schema
    raw = tmp_path / "raw"
    stage = tmp_path / "stage"
    raw.mkdir()
    spark.createDataFrame([(1, "a b c"), (2, "a b c")], schema).coalesce(
        1
    ).write.parquet(str(stage))
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(str(stage / part), str(raw / "batch_0.parquet"))
    survivors = tmp_path / "state" / "survivors"
    survivors.mkdir(parents=True)
    (survivors / "index.txt").write_text("not a parquet file\n")
    with pytest.raises(StreamingQueryException):
        run_incremental_dedup(
            spark, str(raw), str(tmp_path / "state"), str(tmp_path / "ckpt"),
            schema,
        )
