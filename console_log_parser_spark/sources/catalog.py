"""Tokenized-sequence table I/O: the tokens table is read from Iceberg
when the runtime is there, else from Parquet; the routed table is
written as partitioned Parquet.

The production deployment (BASELINE.json input_hint / SCALE.md §1)
reads the 10^12-sequence corpus from an Iceberg table — partition
pruning, hidden partitioning on ``bucket(source)``, snapshot isolation
for resume, and schema evolution come from the table format, not from
this engine. The sandbox ships no Iceberg runtime jar, so
``read_tokens`` probes for the DataSourceV2 provider and falls back to
plain Parquet with identical dataframe semantics; the rest of the
pipeline is format-agnostic (it sees a DataFrame either way — that is
the point of keeping the scan declarative). Both writers of the routed
table (the checkpoint runner and ``route.write_fanout``) pass a
filesystem path, so ``write_routed`` writes Parquet only.

To read the tokens table from Iceberg on a real cluster, submit with::

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
      --conf spark.sql.catalog.logs=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.logs.type=hadoop \
      --conf spark.sql.catalog.logs.warehouse=<warehouse-uri> ...

and pass ``--tokens-table logs.db.tokenized_logs``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg SparkCatalog class is loadable in this
    JVM (i.e. the runtime jar was shipped)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_tokens(spark: SparkSession, location: str) -> DataFrame:
    """Read the tokenized-log table.

    ``location`` is either an Iceberg table identifier
    (``catalog.db.table`` — requires the runtime jar + catalog conf)
    or a Parquet directory path. Either way the result is the same
    4-column DataFrame contract (doc_id, tokens, n_tok, source) and
    Catalyst still gets pushdown + pruning: Iceberg via DataSourceV2
    scan planning, Parquet via the native file source.
    """
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_routed(routed: DataFrame, location: str,
                 mode: str = "append") -> None:
    """Fan-out write of the routed table to a Parquet directory as
    hive-style ``partitionBy`` directories: by ``batch, sink`` when the
    frame carries the checkpoint runner's ``batch`` column, with dynamic
    partition overwrite so an overwrite replaces only the batches
    present in the frame, else by ``sink``.
    """
    parts = [c for c in ("batch", "sink") if c in routed.columns]
    writer = routed.write.mode(mode).partitionBy(*parts)
    if "batch" in parts:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(location)
