"""Sketch-prefiltered exact heavy hitters (operators/sketch.py)."""
from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest

from console_log_parser_spark.operators.sketch import (frequent_items,
                                                       mg_merge)


def _exact(rows, k):
    cnt = Counter(rows)
    n = len(rows)
    return sorted((u, c) for u, c in cnt.items() if c * k > n)


def _df(spark, rows, parts):
    return (spark.createDataFrame([(r,) for r in rows], "user_id long")
            .repartition(parts))


def test_mg_merge_bounds_width_and_undercount():
    vc = None
    rows = [1] * 50 + [2] * 30 + list(range(100, 160))  # 62 keys
    for i in range(0, len(rows), 10):
        vc = mg_merge(vc, pd.Series(rows[i:i + 10]).value_counts(),
                      width=8)
    assert len(vc) <= 8
    # the heavy key must survive, with undercount <= n/(width+1)
    assert 1 in vc.index
    assert 50 - len(rows) // 9 <= vc.loc[1] <= 50


def test_mg_merge_prune_drops_light_keys():
    vc = mg_merge(None, pd.Series([1, 1, 1, 1, 2, 3, 4]).value_counts(),
                  width=2)
    assert len(vc) <= 2 and 1 in vc.index


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_frequent_items_exact_under_any_partitioning(spark, parts):
    # Zipf-ish: key i appears (200 // (i + 1)) times
    rows = [i for i in range(60) for _ in range(200 // (i + 1))]
    got = [(r["user_id"], r["cnt"]) for r in
           frequent_items(_df(spark, rows, parts), "user_id",
                          k=25).collect()]
    assert got == _exact(rows, 25)
    assert got  # non-trivial: the threshold selects some keys


def test_frequent_items_uniform_no_survivors(spark):
    rows = list(range(100)) * 3  # everyone has support 1/100
    got = frequent_items(_df(spark, rows, 8), "user_id", k=50).collect()
    assert got == []


def test_frequent_items_plan_broadcasts_candidates(spark):
    df = _df(spark, [1, 1, 1, 2, 3], 2)
    plan = (frequent_items(df, "user_id", k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan
