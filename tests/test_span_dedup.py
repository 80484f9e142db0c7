"""Corpus-level exact span dedup (operators/span_dedup.py)."""
from __future__ import annotations

import pytest

from console_log_parser_spark.operators.span_dedup import (
    span_dedup_stats, word_chunk_array)


def _brute(docs, w):
    """Independent per-occurrence replay of the owner rule."""
    occ = []  # (doc_id, cidx, chunk)
    for doc_id, text in docs:
        words = text.split(" ")
        for cidx in range((len(words) + w - 1) // w):
            occ.append((doc_id, cidx, " ".join(words[cidx * w:
                                                     (cidx + 1) * w])))
    owner = {}
    for doc_id, cidx, chunk in sorted(occ):
        owner.setdefault(chunk, (doc_id, cidx))
    out = {}
    for doc_id, cidx, chunk in occ:
        n_chunks, n_dropped, kept = out.setdefault(doc_id, [0, 0, []])
        out[doc_id][0] += 1
        if owner[chunk] == (doc_id, cidx):
            kept.append((cidx, chunk))
        else:
            out[doc_id][1] += 1
    return sorted(
        (d, n, drop, " ".join(c for _, c in sorted(kept)))
        for d, (n, drop, kept) in out.items())


def _run(spark, docs, w, parts=5):
    df = (spark.createDataFrame(docs, "doc_id long, text string")
          .repartition(parts))
    got = [(r["doc_id"], r["n_chunks"], r["n_dropped"], r["kept_text"])
           for r in span_dedup_stats(df, w=w).collect()]
    return sorted(got)


def test_chunk_array_remainder_and_width(spark):
    row = (spark.range(1)
           .select(word_chunk_array("'a b c d e f g'", 3).alias("c"))
           .first())
    assert row["c"] == ["a b c", "d e f", "g"]


def test_cross_doc_duplicate_dropped_canonical_kept(spark):
    docs = [(1, "x y z p q"), (2, "x y z a b"), (3, "a b x y z")]
    got = _run(spark, docs, w=5)
    # every 5-word chunk here is distinct -> nothing dropped
    assert [g[2] for g in got] == [0, 0, 0]
    docs = [(1, "x y z"), (2, "x y z"), (3, "x y z")]
    got = _run(spark, docs, w=3)
    assert got == [(1, 1, 0, "x y z"), (2, 1, 1, ""), (3, 1, 1, "")]


def test_within_doc_repeat_keeps_first_occurrence(spark):
    docs = [(7, "a b a b c d")]
    got = _run(spark, docs, w=2)
    assert got == [(7, 3, 1, "a b c d")]


@pytest.mark.parametrize("parts", [1, 3, 17])
def test_matches_brute_force_under_any_partitioning(spark, parts):
    import random
    rng = random.Random(42)
    vocab = ["v%d" % i for i in range(9)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(3, 24))))
            for i in range(40)]
    assert _run(spark, docs, w=4, parts=parts) == _brute(docs, w=4)


def test_plan_partial_owner_agg_no_python(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = span_dedup_stats(df, w=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # owner election must be a partial-aggregable groupBy, not a window
    assert "partial_min" in plan or "InMemoryTableScan" in plan
