"""Deterministic shard assignment + manifest — the training-data export
sink's plan.

Part of the graft's training-data extension surface (the reference's
sinks render HTML/index/session dumps; a curation pipeline's terminal
sink is sharded training files plus a manifest the trainer and any
auditor can re-derive): each document's shard out of ``n_shards`` is a
pure function of the row key,

    shard(id) = int(md5(salt || id)[:8], 16) % n_shards

so a resumed, retried, or re-run export places every document in the
SAME shard (``rand()``/round-robin sharding re-deals per run — a
silent train/eval contamination hazard when shards are later split),
and the manifest can be recomputed by any engine from the same bytes
(the ``bucket_bp`` portability argument, ``operators/sampling.py``).

The manifest carries, per shard: document count, word count, and an
ORDER-INVARIANT content checksum (the bitwise XOR of each
document's 48-bit md5 prefix — commutative AND overflow-free at any
shard cardinality; a SUM checksum would wrap BIGINT past ~2^16
docs/shard, silently in Spark and loudly in a DuckDB HUGEINT auditor,
breaking the any-engine-recomputes attestation at exactly the
100-TB scale it exists for).

Scale design (100 TB): shard assignment is map-side; the manifest is a
partial+final aggregate over n_shards rows. The driver's
``doc_shard_manifest`` query runs the manifest; the program writes no
shard files.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_of(col, n_shards: int) -> Column:
    """Deterministic shard id [0, n_shards) for a key column; portable
    across engines (md5 of the same bytes)."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit("shard42"), col.cast("string"))), 1, 8),
        16, 10).cast("long") % n_shards)


def content_key(text_col) -> Column:
    """48-bit md5 prefix of a text column as a long — the commutative
    XOR-checksum term."""
    return F.conv(F.substring(F.md5(text_col), 1, 12), 16, 10) \
        .cast("long")


def assign_shards(df: DataFrame, n_shards: int) -> DataFrame:
    """The input plus a ``shard`` column of its ``doc_id`` (pure map,
    no shuffle)."""
    return df.withColumn("shard", shard_of(F.col("doc_id"), n_shards))


def shard_manifest(df: DataFrame, n_shards: int) -> DataFrame:
    """(shard, n_docs, n_words, content_xor) for the corpus as it
    would be sharded — recomputable from the written files (or by the
    DuckDB oracle) because every term is a pure function of row
    bytes."""
    return (assign_shards(df, n_shards)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.size(F.split(F.col("text"), " ")))
                 .cast("long").alias("n_words"),
                 F.bit_xor(content_key(F.col("text")))
                 .cast("long").alias("content_xor"))
            .orderBy("shard"))

