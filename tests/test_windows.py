"""range_partitioned_lag (operators/windows.py): exact equivalence with
the naive global-order window, and plan-shape guarantees (no
unpartitioned WindowExec over fact-sized input — the scale-killer the
helper exists to remove)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from console_log_parser_spark.operators.windows import range_partitioned_lag


def _naive_lag(df, order_cols, value_col, out_col):
    w = Window.orderBy(*order_cols)
    return df.withColumn(out_col, F.lag(value_col).over(w))


def _rows(df, order_cols, out_col):
    return sorted(
        tuple(r) for r in
        df.select(*order_cols, out_col).collect())


@pytest.mark.parametrize("n_rows,n_parts", [(1, 4), (7, 4), (500, 8),
                                            (500, 1), (500, 64)])
def test_matches_global_window(spark, n_rows, n_parts):
    # keys with heavy ties on ts (10 distinct ts values) so range
    # boundaries land inside tie runs; (ts, k) tuple is unique
    df = (spark.range(n_rows)
          .select((F.col("id") % 10).alias("ts"),
                  F.col("id").alias("k"),
                  (F.col("id") % 3).alias("v")))
    got = _rows(range_partitioned_lag(df, ["ts", "k"], "v", "prev",
                                      num_partitions=n_parts),
                ["ts", "k"], "prev")
    want = _rows(_naive_lag(df, ["ts", "k"], "v", "prev"),
                 ["ts", "k"], "prev")
    assert got == want


def test_string_values_and_gap_partitions(spark):
    # 3 rows spread over 16 requested partitions -> most range
    # partitions empty; the boundary lag must skip the gaps
    df = spark.createDataFrame(
        [(1, 1, "a"), (5, 2, "b"), (9, 3, "c")], "ts int, k int, v string")
    got = _rows(range_partitioned_lag(df, ["ts", "k"], "v", "prev",
                                      num_partitions=16),
                ["ts", "k"], "prev")
    assert got == [(1, 1, None), (5, 2, "a"), (9, 3, "b")]


def test_empty_input(spark):
    df = spark.createDataFrame([], "ts int, k int, v string")
    out = range_partitioned_lag(df, ["ts", "k"], "v", "prev")
    assert out.count() == 0
    assert "prev" in out.columns


def _window_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "Window [" in ln
            or "RunningWindowFunction" in ln]


def _has_unpartitioned_window(df) -> bool:
    # an unpartitioned window spec prints as
    # windowspecdefinition(<order>...) with no partition columns before
    # the ordering spec; a partitioned one starts with the partition
    # expressions. Cheap reliable probe: the optimized plan's Window
    # nodes, checked for an empty partition spec via the analyzed plan.
    for node in df._jdf.queryExecution().executedPlan().toString().split(
            "\n"):
        if "windowspecdefinition(" not in node:
            continue
        inside = node.split("windowspecdefinition(", 1)[1]
        # partition spec = everything before the first " ASC NULLS" /
        # " DESC NULLS" ordering marker; unpartitioned specs start
        # directly with an ordered column
        head = inside.split(",", 1)[0]
        if " ASC" in head or " DESC" in head:
            return True
    return False


def test_helper_plan_has_no_unpartitioned_window(spark):
    df = (spark.range(100)
          .select((F.col("id") % 10).alias("ts"), F.col("id").alias("k"),
                  (F.col("id") % 3).alias("v")))
    out = range_partitioned_lag(df, ["ts", "k"], "v", "prev")
    assert not _has_unpartitioned_window(out)
    # sanity: the naive version IS flagged by the same probe
    assert _has_unpartitioned_window(_naive_lag(df, ["ts", "k"], "v", "p"))


def test_driver_queries_have_no_unpartitioned_window(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em
    for name in ("events_asof_interleave", "cast_hops"):
        df = em.queries()[name](spark, sf_dir)
        assert not _has_unpartitioned_window(df), name


def test_auto_narrows_small_input_to_single_partition(spark):
    # default (auto) width: a tiny input takes the single-partition
    # fast path — no range exchange, no boundary machinery
    df = (spark.range(200)
          .select((F.col("id") % 10).alias("ts"), F.col("id").alias("k"),
                  (F.col("id") % 3).alias("v")))
    out = range_partitioned_lag(df, ["ts", "k"], "v", "prev")
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan
    got = _rows(out, ["ts", "k"], "prev")
    want = _rows(_naive_lag(df, ["ts", "k"], "v", "prev"),
                 ["ts", "k"], "prev")
    assert got == want


def _band_parquet(spark, tmp_path, with_string: bool):
    """A parquet scan whose Catalyst byte estimate lands INSIDE the
    ambiguous band (est <= bound < 4*est): compressed fits one
    partition, 4x-decompressed would not. xxhash64 values defeat
    dictionary/RLE so the file size tracks raw width."""
    df = (spark.range(5000)
          .select(F.col("id").alias("ts"),
                  F.xxhash64("id").alias("k"),
                  (F.xxhash64("id", F.lit(1)) % 100).alias("v")))
    if with_string:
        df = df.withColumn("v", F.concat(F.lit("s"), F.col("v")))
    path = str(tmp_path / f"band_{int(with_string)}.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)
    est = int(scan._jdf.queryExecution().optimizedPlan()
              .stats().sizeInBytes())
    # bound: >= est (in band), >= rows * UnsafeRow width 32 (so the
    # fixed-width probe passes), and < 4*est (still in band)
    bound = max(est, 5000 * 32) + 1024
    assert est <= bound < 4 * est, (est, bound)
    return scan, bound


@pytest.mark.parametrize("with_string,expect_range", [(False, False),
                                                      (True, True)])
def test_band_probe_gates_on_exact_rows_for_fixed_width(
        spark, tmp_path, with_string, expect_range):
    # ambiguous band (est <= bound < 4*est): an all-fixed-width schema
    # is row-count-probed (rows * UnsafeRow width <= bound -> single
    # partition); a var-width schema has no such bound and must stay
    # on the scale-safe range path
    scan, bound = _band_parquet(spark, tmp_path, with_string)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(bound))
    try:
        out = range_partitioned_lag(scan, ["ts", "k"], "v", "prev")
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert ("rangepartitioning" in plan) == expect_range
        got = _rows(out, ["ts", "k"], "prev")
        want = _rows(_naive_lag(scan, ["ts", "k"], "v", "prev"),
                     ["ts", "k"], "prev")
        assert got == want
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_unsafe_row_width():
    from console_log_parser_spark.operators.windows import \
        _unsafe_row_width
    from pyspark.sql import types as T
    fixed = T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", T.TimestampType()),
                          T.StructField("c", T.IntegerType())])
    assert _unsafe_row_width(fixed) == 8 + 3 * 8
    var = T.StructType([T.StructField("a", T.LongType()),
                        T.StructField("s", T.StringType())])
    assert _unsafe_row_width(var) is None
    wide = T.StructType([T.StructField(f"c{i}", T.LongType())
                         for i in range(65)])
    assert _unsafe_row_width(wide) == 16 + 65 * 8  # 2 bitset words


def _auto_lag_is_ranged(spark, bound):
    """Run the auto-width lag over a 200-row input under a session
    maxPartitionBytes of ``bound``; check its rows and return whether
    it took the range path."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", bound)
    try:
        df = (spark.range(200)
              .select((F.col("id") % 10).alias("ts"),
                      F.col("id").alias("k"),
                      (F.col("id") % 3).alias("v")))
        out = range_partitioned_lag(df, ["ts", "k"], "v", "prev")
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        got = _rows(out, ["ts", "k"], "prev")
        want = _rows(_naive_lag(df, ["ts", "k"], "v", "prev"),
                     ["ts", "k"], "prev")
        assert got == want
        return "rangepartitioning" in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_auto_keeps_range_path_when_estimate_exceeds_bound(spark):
    # shrink the bound so the same tiny input is "large": the
    # scale-safe range path must be chosen
    assert _auto_lag_is_ranged(spark, "16")


def test_auto_narrows_under_a_suffixed_bound(spark):
    # Spark accepts byte strings like "128m" for maxPartitionBytes; the
    # gate must read them as bytes, not fall back to the range path
    assert not _auto_lag_is_ranged(spark, "128m")


def test_narrow_path_coalesces_bare_scans_but_not_rich_plans(
        spark, tmp_path):
    # bare scan/project lineage: the n=1 fast path must use the
    # exchange-free narrow coalesce (r6 optimization) ...
    p = str(tmp_path / "scan.parquet")
    (spark.range(300)
     .select((F.col("id") % 7).alias("ts"), F.col("id").alias("k"),
             (F.col("id") % 2).alias("v"))
     .write.parquet(p))
    scan = spark.read.parquet(p)
    out = range_partitioned_lag(scan, ["ts", "k"], "v", "prev",
                                num_partitions=1)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    # the narrow merge replaces the exchange outright
    assert "coalesce" in plan
    assert "exchange" not in plan
    got = _rows(out, ["ts", "k"], "prev")
    want = _rows(_naive_lag(scan, ["ts", "k"], "v", "prev"),
                 ["ts", "k"], "prev")
    assert got == want
    # ... while a lineage with compute above the scan (aggregate) keeps
    # repartition(1): coalesce would pull the whole reduce side into
    # one task
    rich = (scan.groupBy("ts")
            .agg(F.max("k").alias("k"), F.min("v").alias("v")))
    out2 = range_partitioned_lag(rich, ["ts", "k"], "v", "prev",
                                 num_partitions=1)
    plan2 = out2._jdf.queryExecution().executedPlan().toString().lower()
    # the reduce side stays behind a single-partition EXCHANGE (AQE
    # plan text may mention coalesced shuffle reads, so assert on the
    # exchange marker, not the word "coalesce")
    assert "exchange singlepartition" in plan2
    got2 = _rows(out2, ["ts", "k"], "prev")
    want2 = _rows(_naive_lag(rich, ["ts", "k"], "v", "prev"),
                  ["ts", "k"], "prev")
    assert got2 == want2
