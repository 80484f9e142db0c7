"""Scale-safe global-order window primitives.

A bare ``Window.orderBy(...)`` (no partitionBy) makes Spark move the
whole dataset to ONE partition and sort it there — at 100 TB one task
sorts the world (Spark itself warns ``WindowExec: No Partition
Defined``). The reference's dual-cursor merge (twebber.py:26-105) is a
global order too, but it streams; the distributed equivalent here is:

1. ``repartitionByRange`` on the full ordering key — contiguous,
   balanced, globally ordered ranges (boundaries from reservoir
   sampling, equal keys never split across partitions);
2. the lag/window runs WITHIN each range partition (parallel,
   bounded by partition size, never by data size);
3. a boundary exchange fixes each partition's first row: the tiny
   per-partition "last value" table (one row per range partition —
   cluster-width-sized, data-size-independent) is lagged and joined
   back broadcast.

The whole thing is one lazy plan, so the range exchange is planned
once and reused (ReusedExchange) between the window pass and the
boundary aggregate — no eager driver action, no re-sampling skew.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import max_partition_bytes

# UnsafeRow layout constants for the fixed-width in-memory bound:
# every field occupies one 8-byte word, preceded by one 8-byte null
# bitset word per 64 fields. Variable-width types (strings, arrays,
# maps, structs, large decimals) append to a variable region whose
# size the schema cannot bound — those return None (no bound).
_FIXED_WIDTH_TYPES = (T.BooleanType, T.ByteType, T.ShortType,
                      T.IntegerType, T.LongType, T.FloatType,
                      T.DoubleType, T.DateType, T.TimestampType,
                      T.TimestampNTZType)


def _unsafe_row_width(schema: T.StructType) -> int | None:
    """Exact per-row in-memory (UnsafeRow) size for an all-fixed-width
    schema, or None when any field is variable-width."""
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType) and f.dataType.precision <= 18:
            continue  # compact decimal packs into the 8-byte word
        if not isinstance(f.dataType, _FIXED_WIDTH_TYPES):
            return None
    n = len(schema.fields)
    return 8 * ((n + 63) // 64) + 8 * n


# logical-plan nodes whose full execution costs no more than the scan
# itself — the only lineages the ambiguous-band row probe may run
_PROBE_CHEAP_NODES = frozenset(
    {"Project", "Filter", "Relation", "LocalRelation", "Range"})


def _probe_cheap_plan(df: DataFrame) -> bool:
    """True when the optimized logical plan is a bare
    scan/project/filter lineage, so an eager ``count()`` costs one
    bounded scan and nothing else. Any other node (Join, Aggregate,
    Generate, Union, ...) makes the probe re-run real compute."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        if not node:
            continue
        name = node.split(" ", 1)[0].split("[", 1)[0]
        if name and name not in _PROBE_CHEAP_NODES:
            return False
    return True


def range_partitioned_lag(df: DataFrame, order_cols: list[str],
                          value_col: str, out_col: str,
                          num_partitions: int | None = None) -> DataFrame:
    """``lag(value_col) OVER (ORDER BY order_cols)`` with global-order
    semantics but no single-partition sort.

    Exactly equivalent to the naive global window when the ordering key
    (the ``order_cols`` tuple) is unique per row and ``value_col`` is
    non-null. Adds (then drops) helper columns; output schema is the
    input schema plus ``out_col``.
    """
    spark = df.sparkSession
    if num_partitions is None:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # Auto-narrow for small inputs, the same decision AQE's
        # partition coalescing makes for shuffles: when the input
        # provably fits one comfortable partition, a 32-way range
        # exchange is pure overhead — the sampling pass, per-partition
        # sorts and two boundary broadcasts cost more than the single
        # sort they avoid. Three tiers, cheapest signal first:
        # Catalyst rowCount stats (exact semantic size, no job), then
        # the compressed-byte estimate with a 4x decompression safety
        # factor (no job), then — only inside the ambiguous band,
        # whose width caps the job's cost — an exact row-count probe
        # for fixed-width schemas. At scale the estimate exceeds every
        # bound and the range path is taken unchanged with zero probe
        # jobs; an estimate failure falls back to the scale-safe
        # width, never to the single partition.
        try:
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            est = int(stats.sizeInBytes())
            bound = max_partition_bytes(spark)
            if stats.rowCount().isDefined():
                # rowCount-backed stats (Range, LocalRelation,
                # materialized cache, CBO): the row count is free. For
                # a fixed-width schema, rows * UnsafeRow width is the
                # EXACT sort-buffer size — gate on that, not on
                # sizeInBytes, which for a materialized cache is the
                # COMPRESSED columnar size (r5 review finding: an
                # RLE-friendly cached frame could report 100 MB yet
                # sort as 500 MB). Var-width schemas keep the 4x
                # factor for the same reason.
                rows = int(stats.rowCount().get())
                w = _unsafe_row_width(df.schema)
                if w is not None:
                    if rows * w <= bound:
                        n = 1
                elif est * 4 <= bound:
                    n = 1
            elif est * 4 <= bound:
                # 4x decompression safety factor (ADVICE r3): a scan
                # estimate is COMPRESSED file size, and parquet
                # commonly decompresses to several times that in row
                # form — a borderline input must take the scale-safe
                # range path, not a single-task global sort
                # (spill/OOM risk).
                n = 1
            elif est <= bound:
                # Ambiguous band: the compressed bytes fit one
                # partition but 4x-decompressed might not. For an
                # all-fixed-width schema the in-memory size is EXACTLY
                # rows * UnsafeRow width — count the rows and gate on
                # that. The probe is a real (bounded) job, the same
                # trade AQE makes: its scan cost is capped by the band
                # itself (compressed input <= maxPartitionBytes), so
                # it is data-size-independent — at 100 TB the estimate
                # exceeds the band and the probe never fires.
                # Var-width schemas (strings) skip the probe: no row
                # count bounds their decompressed size. So do plans
                # with compute above the scan (joins, aggregates,
                # explodes): df.count() would execute that whole
                # upstream once just to pick a width — only a bare
                # scan/project/filter lineage is cheap enough to probe
                # (r5 review finding).
                w = _unsafe_row_width(df.schema)
                if (w is not None
                        and _probe_cheap_plan(df)
                        and df.count() * w <= bound):
                    n = 1
        except Exception:
            pass
    else:
        n = int(num_partitions)
    if n == 1:
        # single-partition fast path: one range partition IS the global
        # order — the in-partition lag is already exact, and the
        # boundary machinery (lasts aggregate + two broadcast jobs)
        # would only fix a first row that has no predecessor. Callers
        # pass num_partitions=1 for known-small inputs; the default
        # stays the shuffle width.
        # coalesce(1), not repartition(1), when the lineage is a bare
        # scan/project/filter: the narrow merge skips the exchange
        # entirely (the window's own sort orders the rows anyway) —
        # measured 0.98 s -> 0.48 s on the 1M-row as-of interleave.
        # For any richer lineage keep repartition(1): coalesce would
        # pull the upstream compute (join/aggregate reduce side) into
        # the single task, which the exchange deliberately avoids.
        if _probe_cheap_plan(df):
            one = (df.coalesce(1)
                   .withColumn("_pid", F.spark_partition_id()))
        else:
            one = (df.repartition(1)
                   .withColumn("_pid", F.spark_partition_id()))
        w1 = Window.partitionBy("_pid").orderBy(*order_cols)
        return (one.withColumn(out_col, F.lag(value_col).over(w1))
                .drop("_pid"))
    ranged = (df.repartitionByRange(n, *order_cols)
              .withColumn("_pid", F.spark_partition_id()))

    in_part = Window.partitionBy("_pid").orderBy(*order_cols)
    with_lag = (ranged
                .withColumn(out_col, F.lag(value_col).over(in_part))
                .withColumn("_rn", F.row_number().over(in_part)))

    # last row of each (non-empty) range partition, by the order tuple.
    # Aggregated from `ranged`, NOT `with_lag`: max(struct(order...))
    # needs no window, so the WindowExec runs once (in the main branch)
    # and this branch is scan -> ReusedExchange -> hash agg only.
    tail_struct = F.max(F.struct(
        *[F.col(c) for c in order_cols],
        F.col(value_col).alias("_v"))).alias("_s")
    lasts = ranged.groupBy("_pid").agg(tail_struct)
    # previous NON-EMPTY partition's last value. ``lasts`` has one row
    # per range partition — cluster-width-sized, never data-sized — so
    # a broadcast triangular join (O(P^2) over P = #partitions rows,
    # trivial up to ~1e5 partitions) beats reintroducing a global-order
    # window on it; empty partitions are simply absent and get skipped.
    bounds = (lasts.select(F.col("_pid").alias("_xpid"))
              .join(F.broadcast(lasts.select(
                  F.col("_pid").alias("_ypid"), "_s")),
                  F.col("_ypid") < F.col("_xpid"))
              .groupBy("_xpid")
              .agg(F.max_by("_s", "_ypid").alias("_ps"))
              .select(F.col("_xpid").alias("_pid"),
                      F.col("_ps._v").alias("_prev_val")))

    fixed = (with_lag
             .join(F.broadcast(bounds), "_pid", "left")
             .withColumn(out_col,
                         F.when(F.col("_rn") == 1, F.col("_prev_val"))
                         .otherwise(F.col(out_col)))
             .drop("_pid", "_rn", "_prev_val"))
    return fixed
