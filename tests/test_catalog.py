"""Iceberg-first table I/O (sources/catalog.py): the sandbox has no
Iceberg runtime jar, so these tests pin (a) the availability probe is
honest, (b) the Parquet fallback preserves the 4-column contract and
partition pruning, (c) an Iceberg-style identifier without the jar
fails loudly rather than silently reading the wrong thing."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from console_log_parser_spark.sources import catalog


def test_availability_probe_is_false_in_sandbox(spark):
    assert catalog.iceberg_available(spark) is False


def test_parquet_fallback_roundtrip(spark, small_dataset, tmp_path):
    logs = catalog.read_tokens(
        spark, f"{small_dataset}/tokenized_logs.parquet")
    assert logs.columns == ["doc_id", "tokens", "n_tok", "source"]
    n = logs.count()
    assert n == 300
    routed = logs.withColumn(
        "sink", F.concat(F.lit("sink_"),
                         (F.col("n_tok") % 2).cast("string")))
    out = str(tmp_path / "routed")
    catalog.write_routed(routed, out, mode="overwrite")
    back = spark.read.parquet(out)
    assert back.count() == n
    # hive-partitioned by sink -> a single-sink read prunes partitions
    one = spark.read.parquet(out).filter(F.col("sink") == "sink_0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() < n
    assert "PartitionFilters" in plan


def test_identifier_without_jar_raises(spark):
    with pytest.raises(Exception):
        catalog.read_tokens(spark, "logs.db.tokenized_logs").count()
