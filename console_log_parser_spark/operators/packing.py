"""Token-aware sequence packing — the concat-then-chunk layout a
training pipeline uses to turn variable-length documents into
fixed-length training sequences (documents are concatenated in a
deterministic global order, then the token stream is cut into
``seq_len``-token windows; a document may straddle a cut).

The core primitive is a GLOBAL running token offset, i.e.
``sum(n_tok) OVER (ORDER BY order_key)`` — which must NOT be a global
window (a single-task sort dies at 10^12 docs). It is computed as a
distributed two-pass prefix sum, the same family as
``operators.windows.range_partitioned_lag``:

1. range-partition by the order key; in-partition cumulative sum
   (ordinary partitioned window — parallel);
2. per-partition totals (one row per range partition, cluster-width
   sized, never data-sized) get their EXCLUSIVE prefix via a broadcast
   triangular join (O(P^2) over P = #partitions rows — trivial to
   ~1e5 partitions, and it avoids re-introducing an unpartitioned
   window, which this repo bans);
3. broadcast the offsets back and add.

Determinism: the order key defaults to ``md5(cast(id as string))`` —
content-independent, skew-free (md5 is uniform), and byte-identical on
re-run/resume, so a killed packing job resumes with identical sequence
boundaries (the checkpoint/lineage requirement of BASELINE.json).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_prefix_sum(df: DataFrame, order_cols: list[str],
                      value_col: str, out_col: str) -> DataFrame:
    """INCLUSIVE running sum of ``value_col`` under the global order of
    ``order_cols`` (which must be a unique key tuple), with no
    single-partition sort, over ``spark.sql.shuffle.partitions`` range
    partitions. Output schema = input + ``out_col``."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (df.repartitionByRange(n, *order_cols)
              .withColumn("_pid", F.spark_partition_id()))
    in_part = Window.partitionBy("_pid").orderBy(*order_cols)
    local = ranged.withColumn("_cum", F.sum(value_col).over(in_part))
    # per-partition totals come FROM the windowed frame (the last
    # in-order row's inclusive sum), not from a second aggregation
    # over `ranged`: every consumer then sits above the ONE range
    # exchange, so the _pid a row carries is consistent as long as
    # the exchange's map outputs are materialized once (Spark's
    # exchange reuse — both subtrees are built from the same object).
    # The residual hazard (full stage loss + re-sampled range
    # boundaries mid-query) applies to any repartitionByRange
    # consumer and is accepted corpus-wide.
    totals = (local.groupBy("_pid")
              .agg(F.max(F.struct(
                  *[F.col(c) for c in order_cols],
                  F.col("_cum").alias("_c"))).getField("_c")
                  .alias("_psum")))
    offs = (totals.select(F.col("_pid").alias("_xpid"))
            .join(F.broadcast(totals.select(
                F.col("_pid").alias("_ypid"), "_psum")),
                F.col("_ypid") < F.col("_xpid"))
            .groupBy("_xpid")
            .agg(F.sum("_psum").alias("_off"))
            .select(F.col("_xpid").alias("_pid"), "_off"))
    return (local.join(F.broadcast(offs), "_pid", "left")
            .withColumn(out_col,
                        F.col("_cum") + F.coalesce(F.col("_off"),
                                                   F.lit(0)))
            .drop("_pid", "_cum", "_off"))


def pack_sequences(docs: DataFrame, seq_len: int,
                   n_tok_col: str = "n_tok") -> DataFrame:
    """Per-``doc_id`` packing coordinates under concat-then-chunk:
    ``tok_end`` (exclusive global token offset), ``first_seq`` /
    ``last_seq`` (the fixed ``seq_len``-token windows the document's
    tokens land in; a doc spanning a cut has last_seq > first_seq;
    an empty doc occupies no window and gets first_seq > last_seq).
    All-integer arithmetic, so the DuckDB oracle agrees exactly."""
    keyed = docs.withColumn(
        "_okey", F.md5(F.col("doc_id").cast("string")))
    cum = global_prefix_sum(keyed, ["_okey", "doc_id"], n_tok_col,
                            "tok_end")
    # all-INTEGER division (DIV), never float floor(); the one negative
    # operand case — an empty doc at global offset 0, where Spark's DIV
    # truncates toward zero but DuckDB's // floors — is pinned by the
    # explicit CASE, identical in the oracle SQL.
    return cum.selectExpr(
        "doc_id",
        "CAST(tok_end AS BIGINT) AS tok_end",
        f"CAST((tok_end - {n_tok_col}) DIV {seq_len} AS BIGINT) "
        "AS first_seq",
        "CASE WHEN tok_end = 0 THEN CAST(-1 AS BIGINT) "
        f"ELSE CAST((tok_end - 1) DIV {seq_len} AS BIGINT) END "
        "AS last_seq")


def grouped_rank(df: DataFrame, group_col: str, order_cols: list[str],
                 out_col: str) -> DataFrame:
    """PER-GROUP 1-based rank under the order of ``order_cols``
    (a unique key tuple within the group), with neither an
    unpartitioned window nor a single task per group — the
    group-local generalization of :func:`global_prefix_sum`:

    1. range-partition by ``(group, *order_cols)`` — a group larger
       than one partition spans CONTIGUOUS partitions, so no task
       ever holds more than one partition's slice of it (group skew
       cannot concentrate);
    2. in-partition rank windowed by ``(physical partition, group)``
       — parallel, bounded by partition size;
    3. per-(partition, group) counts — at most P + |groups| rows
       under range partitioning (each partition holds a contiguous
       group range) — get their exclusive prefix within the group via
       the broadcast triangular join, and broadcast back.

    The width P is ``spark.sql.shuffle.partitions``.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (df.repartitionByRange(n, group_col, *order_cols)
              .withColumn("_pid", F.spark_partition_id()))
    in_part = Window.partitionBy("_pid", group_col).orderBy(*order_cols)
    local = ranged.withColumn("_lrn", F.row_number().over(in_part))
    # per-(partition, group) counts from the windowed frame itself
    # (max row_number IS the count) — same single-exchange-lineage
    # rationale as global_prefix_sum's totals
    totals = local.groupBy("_pid", group_col).agg(
        F.max("_lrn").alias("_pc"))
    x, y = totals.alias("x"), totals.alias("y")
    # NULL-SAFE group equality throughout: Window.partitionBy treats
    # NULL as one group, so the offset joins must too — with plain
    # equality a NULL group spanning several range partitions would
    # never receive its offsets and ranks would restart per partition
    offs = (x.join(F.broadcast(y),
                   F.col(f"y.{group_col}").eqNullSafe(
                       F.col(f"x.{group_col}"))
                   & (F.col("y._pid") < F.col("x._pid")))
            .groupBy(F.col("x._pid").alias("_pid"),
                     F.col(f"x.{group_col}").alias(group_col))
            .agg(F.sum("y._pc").alias("_off")))
    o = offs.select(F.col("_pid").alias("_opid"),
                    F.col(group_col).alias("_ogrp"),
                    "_off")
    return (local.join(
                F.broadcast(o),
                (F.col("_pid") == F.col("_opid"))
                & F.col(group_col).eqNullSafe(F.col("_ogrp")),
                "left")
            .withColumn(out_col,
                        (F.col("_lrn")
                         + F.coalesce(F.col("_off"), F.lit(0)))
                        .cast("long"))
            .drop("_pid", "_lrn", "_off", "_opid", "_ogrp"))


def length_bucket_batches(docs: DataFrame, bucket_width: int = 64,
                          batch_size: int = 32,
                          n_col: str = "n_tok") -> DataFrame:
    """Length-bucketed training batches with padding-waste telemetry —
    the dynamic-batching layout that pads each batch only to ITS OWN
    longest member instead of the corpus maximum. Documents are
    bucketed by ``n_col DIV bucket_width``, ordered within the bucket
    by the content-independent md5 key of ``doc_id`` (deterministic under
    retry/resume, same contract as packing), cut into
    ``batch_size``-doc batches, and summarized per batch:

        (bucket, batch_id, n_docs, min_len, max_len, sum_len,
         pad_waste = n_docs * max_len - sum_len)

    Only the final (short) batch of a bucket may have
    n_docs < batch_size. All-integer, so the DuckDB oracle agrees
    exactly; the per-bucket rank is :func:`grouped_rank` — no
    single-task-per-bucket window at any scale."""
    keyed = (docs
             .withColumn("_okey", F.md5(F.col("doc_id").cast("string")))
             .withColumn("bucket", F.expr(
                 f"CAST({n_col} DIV {bucket_width} AS BIGINT)")))
    ranked = grouped_rank(keyed, "bucket", ["_okey", "doc_id"], "_rn")
    return (ranked
            .withColumn("batch_id", F.expr(
                f"CAST((_rn - 1) DIV {batch_size} AS BIGINT)"))
            .groupBy("bucket", "batch_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min(n_col).cast("long").alias("min_len"),
                 F.max(n_col).cast("long").alias("max_len"),
                 F.sum(n_col).cast("long").alias("sum_len"))
            .withColumn("pad_waste",
                        (F.col("n_docs") * F.col("max_len")
                         - F.col("sum_len")).cast("long")))
