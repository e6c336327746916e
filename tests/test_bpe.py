from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_ecommerce_etl_pipeline_spark.llm.bpe import train_bpe
from lakehouse_ecommerce_etl_pipeline_spark.plans._helpers import load
from lakehouse_ecommerce_etl_pipeline_spark.plans.llm5 import (
    q_bpe_train_merges,
)

SF0001 = "/root/testdata/sf0.001"


def _python_bpe(word_counts: dict[str, int], n_merges: int):
    """Independent reference implementation: greedy BPE with
    lexicographic tie-break, left-to-right rewrite."""
    vocab = {w: [c for c in w] for w in word_counts}
    merges = []
    for step in range(1, n_merges + 1):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            wc = word_counts[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += wc
        if not counts:
            break
        # max count, then lexicographically smallest (l, r)
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        merges.append(
            {
                "step": step,
                "left": left,
                "right": right,
                "merged": left + right,
                "pair_count": cnt,
            }
        )
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def test_bpe_merge_table_matches_python_reference(spark):
    docs = load(spark, SF0001, "documents")
    wc: Counter = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].split(" "):
            if w:
                wc[w] += 1
    want = _python_bpe(dict(wc), 8)
    got = train_bpe(spark, docs, 8)
    assert got == want


def test_bpe_counts_monotone_and_symbols_grow(spark):
    rows = q_bpe_train_merges(spark, SF0001).orderBy("step").collect()
    assert len(rows) == 8
    # greedy BPE pair counts are non-increasing when no merge creates
    # a more frequent pair than the previous max; that CAN happen in
    # general, so only sanity-check positivity and structure here
    for r in rows:
        assert r["pair_count"] > 0
        assert r["merged"] == r["left"] + r["right"]
        assert len(r["merged"]) >= 2
    # merged symbols are unique across steps
    assert len({r["merged"] for r in rows}) == len(rows)


def test_bpe_negative_maintained_pair_count_raises(spark, monkeypatch):
    """The maintained pair counts only ever subtract occurrences they
    added; a delta fold that subtracts more (here: every old pair
    counted twice) must raise, not drop the pair silently."""
    import pytest
    from pyspark.sql import functions as F

    import lakehouse_ecommerce_etl_pipeline_spark.llm.bpe as bpe

    pairs = bpe._pairs_or_empty

    def doubled_old(col):
        p = pairs(col)
        return F.concat(p, p) if col == "s_old" else p

    monkeypatch.setattr(bpe, "_pairs_or_empty", doubled_old)
    docs = spark.createDataFrame([("abab ab",), ("ab cd",)], "text string")
    with pytest.raises(RuntimeError, match="went negative"):
        train_bpe(spark, docs, 2)
