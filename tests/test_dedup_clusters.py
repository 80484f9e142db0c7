"""Canonical-survivor dedup and duplicate-cluster connected components
(checked against a pure-Python union-find)."""
from __future__ import annotations

import pytest


def test_dedup_keep_first(spark):
    from console_log_parser_spark.operators import dedup
    rows = [(1, "a", "same text"), (2, "a", "same text"),
            (3, "b", "same text"), (4, "b", "other"),
            (5, "c", "third")]
    df = spark.createDataFrame(rows, "doc_id long, source string, "
                                     "text string")
    kept = {r["doc_id"] for r in dedup.dedup_keep_first(df).collect()}
    assert kept == {1, 4, 5}


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_duplicate_clusters_match_union_find(spark):
    from console_log_parser_spark.operators import dedup
    # a chain, a triangle, an isolated pair — including a chain long
    # enough to need several propagation rounds
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["label"]
           for r in dedup.duplicate_clusters(pdf).collect()}
    assert got == _union_find_labels(pairs)


def test_duplicate_clusters_on_minhash_pairs(spark):
    import os
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from console_log_parser_spark.operators import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    pairs_rows = [(r["doc_a"], r["doc_b"])
                  for r in dedup.minhash_dedup_pairs(docs).collect()]
    pdf = spark.createDataFrame(pairs_rows, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["label"]
           for r in dedup.duplicate_clusters(pdf).collect()}
    assert got == _union_find_labels(pairs_rows)
