"""range_partitioned_lag (operators/windows.py): exact equivalence with
the naive global-order window, and plan-shape guarantees (no
unpartitioned WindowExec over fact-sized input — the scale-killer the
helper exists to remove)."""
from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from console_log_parser_spark.operators.windows import range_partitioned_lag


@contextmanager
def session_conf(spark, conf: dict):
    """Run the block under the session settings ``conf`` and restore
    the old values afterwards."""
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def ranged_at(spark, n_parts):
    """Session settings under which the lag takes the range path at
    width ``n_parts``: the shuffle width, and a 16-byte
    ``maxPartitionBytes`` that no input's estimate fits."""
    return session_conf(spark, {
        "spark.sql.shuffle.partitions": str(n_parts),
        "spark.sql.files.maxPartitionBytes": "16"})


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
    with ranged_at(spark, n_parts):
        got = _rows(range_partitioned_lag(df, ["ts", "k"], "v", "prev"),
                    ["ts", "k"], "prev")
        want = _rows(_naive_lag(df, ["ts", "k"], "v", "prev"),
                     ["ts", "k"], "prev")
    assert got == want


def test_string_values_and_gap_partitions(spark):
    # 3 rows spread over 16 requested partitions -> most range
    # partitions empty; the boundary lag must skip the gaps
    df = spark.createDataFrame(
        [(1, 1, "a"), (5, 2, "b"), (9, 3, "c")], "ts int, k int, v string")
    with ranged_at(spark, 16):
        got = _rows(range_partitioned_lag(df, ["ts", "k"], "v", "prev"),
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


def _auto_lag_is_ranged(spark, bound):
    """Run the auto-width lag over a 200-row input under a session
    maxPartitionBytes of ``bound``; check its rows and return whether
    it took the range path."""
    with session_conf(spark, {"spark.sql.files.maxPartitionBytes": bound}):
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
    # bare scan/project lineage: the single-partition path a small
    # input takes must use the exchange-free narrow coalesce ...
    p = str(tmp_path / "scan.parquet")
    (spark.range(300)
     .select((F.col("id") % 7).alias("ts"), F.col("id").alias("k"),
             (F.col("id") % 2).alias("v"))
     .write.parquet(p))
    scan = spark.read.parquet(p)
    out = range_partitioned_lag(scan, ["ts", "k"], "v", "prev")
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
    out2 = range_partitioned_lag(rich, ["ts", "k"], "v", "prev")
    plan2 = out2._jdf.queryExecution().executedPlan().toString().lower()
    # the reduce side stays behind a single-partition EXCHANGE (AQE
    # plan text may mention coalesced shuffle reads, so assert on the
    # exchange marker, not the word "coalesce")
    assert "exchange singlepartition" in plan2
    got2 = _rows(out2, ["ts", "k"], "prev")
    want2 = _rows(_naive_lag(rich, ["ts", "k"], "v", "prev"),
                  ["ts", "k"], "prev")
    assert got2 == want2
