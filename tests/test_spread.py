"""_spread: the scale-adaptive low-parallelism-scan redistributor
(__spark_entry__._spread) must (a) leave small scans and wide scans
unchanged, (b) add exactly one round-robin exchange for a mid-size
single-file scan, and (c) never change results."""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_scan_unchanged(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("small") / "t.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = em._spread(df)
    assert "RoundRobinPartitioning" not in _plan(out)


def test_midsize_single_file_spreads_and_preserves_rows(
        spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mid") / "t.parquet")
    # ~3 MB of incompressible-ish data in ONE file (one row group)
    from pyspark.sql import functions as F
    (spark.range(60000)
     .withColumn("payload", F.md5(F.col("id").cast("string")))
     .coalesce(1).write.parquet(p))
    df = spark.read.parquet(p)
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert len(files) == 1
    if sum(os.path.getsize(os.path.join(p, f)) for f in files) < (2 << 20):
        pytest.skip("test table compressed below the spread threshold")
    out = em._spread(df)
    assert "RoundRobinPartitioning" in _plan(out)
    base = df.groupBy().agg(F.count("*"), F.sum("id"),
                            F.min("payload"), F.max("payload")).collect()
    spread = out.groupBy().agg(F.count("*"), F.sum("id"),
                               F.min("payload"), F.max("payload")).collect()
    assert base == spread


def test_suffixed_max_partition_bytes_still_spreads(spark, tmp_path_factory):
    # Spark accepts byte strings like "128m" for maxPartitionBytes; the
    # gate must read them as bytes, not give up on the spread
    p = str(tmp_path_factory.mktemp("suffix") / "t.parquet")
    from pyspark.sql import functions as F
    (spark.range(60000)
     .withColumn("payload", F.md5(F.col("id").cast("string")))
     .coalesce(1).write.parquet(p))
    if sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
           if f.endswith(".parquet")) < (2 << 20):
        pytest.skip("test table compressed below the spread threshold")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "128m")
    try:
        out = em._spread(spark.read.parquet(p))
    finally:
        spark.conf.set(key, old)
    assert "RoundRobinPartitioning" in _plan(out)
