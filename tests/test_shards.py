"""Deterministic shard sink + manifest (sinks/shards.py)."""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from console_log_parser_spark.sinks.shards import (
    assign_shards, shard_manifest)


def _docs(spark, n=60, parts=7):
    rows = [(i, " ".join("w%d" % ((i * j) % 11) for j in range(3 + i % 5)))
            for i in range(n)]
    return (spark.createDataFrame(rows, "doc_id long, text string")
            .repartition(parts))


def _py_shard(doc_id, n, salt="shard42"):
    h = hashlib.md5((salt + str(doc_id)).encode()).hexdigest()
    return int(h[:8], 16) % n


def test_assignment_matches_python_md5_and_is_map_side(spark):
    df = _docs(spark)
    got = {r["doc_id"]: r["shard"]
           for r in assign_shards(df, 16).collect()}
    assert got == {i: _py_shard(i, 16) for i in range(60)}
    plan = (assign_shards(df, 16)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan.replace("RoundRobin", "", 1) \
        or plan.count("Exchange") == 1  # only the fixture repartition


def test_manifest_totals_and_checksum_order_invariance(spark):
    df = _docs(spark)
    m = shard_manifest(df, 8).collect()
    assert sum(r["n_docs"] for r in m) == 60
    # permuting the input (different partitioning + order) must not
    # change any manifest row: the checksum is commutative
    m2 = shard_manifest(df.orderBy(F.desc("doc_id")).repartition(3),
                        8).collect()
    assert sorted(map(tuple, m)) == sorted(map(tuple, m2))

