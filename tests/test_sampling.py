"""Deterministic sampling / mixing (operators/sampling.py)."""
from __future__ import annotations

from pyspark.sql import functions as F

from console_log_parser_spark.operators.sampling import (
    bucket_bp, deterministic_sample)


def _docs(spark, n=2000):
    return (spark.range(n)
            .select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
                    (F.col("id") % 3).cast("string").alias("source")))


def test_sample_deterministic_and_partition_invariant(spark):
    df = _docs(spark)
    a = sorted(r["doc_id"] for r in
               deterministic_sample(df, 3000).collect())
    b = sorted(r["doc_id"] for r in
               deterministic_sample(df.repartition(13), 3000).collect())
    assert a == b and a  # same rows, any partitioning
    # rate is honest: 30% +- 4 points on 2000 keys
    assert 0.26 < len(a) / 2000 < 0.34
    # monotone: a higher rate keeps a superset
    c = set(r["doc_id"] for r in
            deterministic_sample(df, 6000).collect())
    assert set(a) <= c


def test_bucket_portable_value(spark):
    # pin the md5-prefix bucket against an independently computed value
    import hashlib
    row = (spark.range(1)
           .select(F.lit("d7").alias("k"))
           .select(bucket_bp(F.col("k"), "mix42").alias("b"))
           .collect()[0])
    exp = int(hashlib.md5(b"mix42d7").hexdigest()[:8], 16) % 10000
    assert row["b"] == exp


def _skewed(spark):
    # strata sizes 64 / 16 / 4: for tau=2 the rarest ("c") is kept
    # whole and the rest downsample toward sqrt proportions
    rows = [(f"d{i}", "a") for i in range(64)] \
        + [(f"e{i}", "b") for i in range(16)] \
        + [(f"f{i}", "c") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id string, source string")


def test_split_assign_exhaustive_disjoint_stable(spark):
    import pytest as _pytest
    from console_log_parser_spark.operators.sampling import (
        bucket_bp, split_assign)
    df = _skewed(spark)
    fr = {"train": 8000, "val": 1000, "test": 1000}
    got = {r["doc_id"]: r["split"]
           for r in split_assign(df, fr, salt="s").collect()}
    # exhaustive: every row got exactly one split
    assert len(got) == df.count()
    assert set(got.values()) == {"train", "val", "test"}
    # matches the bucket thresholds computed independently
    buckets = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", bucket_bp(F.col("doc_id"), "s").alias("b")).collect()}
    for d, s in got.items():
        b = buckets[d]
        assert s == ("train" if b < 8000 else
                     "val" if b < 9000 else "test"), (d, b, s)
    # growth-stable: a subset corpus assigns identically
    sub = {r["doc_id"]: r["split"] for r in split_assign(
        df.filter(F.col("source") == "a"), fr, salt="s").collect()}
    assert all(got[d] == s for d, s in sub.items())
    # bad fractions rejected
    with _pytest.raises(ValueError):
        split_assign(df, {"train": 9000, "val": 500})


def test_temperature_rates_integer_exact(spark):
    import math
    from console_log_parser_spark.operators.sampling import (
        temperature_rates)
    got = {r["source"]: (r["n_docs"], r["weight"], r["rate_bp"])
           for r in temperature_rates(_skewed(spark)).collect()}
    w = {n: math.floor(math.sqrt(n) * 1_000_000) for n in (64, 16, 4)}
    exp = {s: (n, w[n], 10000 * w[n] * 4 // (w[4] * n))
           for s, n in (("a", 64), ("b", 16), ("c", 4))}
    assert got == exp
    assert got["c"][2] == 10000           # rarest stratum kept whole
    assert got["a"][2] < got["b"][2] < got["c"][2]  # monotone in size
    # perfect squares make the sqrt exact: rates are sqrt-proportional
    assert exp["a"][2] == 2500 and exp["b"][2] == 5000

