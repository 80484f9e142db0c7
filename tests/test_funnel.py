"""Strict-sequence funnel (operators/funnel.py): first-touch chain
semantics pinned on hand-built logs (broken chains, out-of-order
events, repeats), plus the one-exchange plan shape."""
from datetime import datetime

import pytest

from console_log_parser_spark.operators.funnel import funnel_times


def _ts(s):
    return datetime(2026, 1, 1, 0, 0, s)


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, _ts(s), t) for u, s, t in rows],
        "user_id long, ts timestamp, event_type string")


def _collect(df):
    return {r["user_id"]: tuple(r[c] for c in df.columns[1:])
            for r in df.collect()}


def test_funnel_chain_semantics(spark):
    stages = ["view", "click", "purchase"]
    rows = [
        # u1: clean chain
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        # u2: purchase BEFORE the click chain completes -> not counted
        (2, 1, "view"), (2, 2, "purchase"), (2, 3, "click"),
        # u3: click before any view -> chain never starts past t1
        (3, 2, "click"), (3, 3, "view"),
        # u4: repeats — first-touch takes the earliest valid hop
        (4, 1, "view"), (4, 2, "view"), (4, 3, "click"),
        (4, 4, "click"), (4, 5, "purchase"),
        # u5: tie — click at the SAME second as view is not strictly
        # after it
        (5, 1, "view"), (5, 1, "click"),
        # u6: no funnel events at all -> no row (filtered pre-shuffle)
        (6, 1, "error"),
    ]
    got = _collect(funnel_times(_df(spark, rows), stages))
    assert got[1] == (_ts(1), _ts(2), _ts(3))
    assert got[2] == (_ts(1), _ts(3), None)
    assert got[3] == (_ts(3), None, None)
    assert got[4] == (_ts(1), _ts(3), _ts(5))
    assert got[5] == (_ts(1), None, None)
    assert 6 not in got


def test_funnel_two_stage_and_validation(spark):
    rows = [(1, 1, "view"), (1, 2, "click")]
    got = _collect(funnel_times(_df(spark, rows), ["view", "click"]))
    assert got[1] == (_ts(1), _ts(2))
    with pytest.raises(ValueError):
        funnel_times(_df(spark, rows), ["view"])


def test_funnel_single_exchange(spark):
    """The stage filter + stacked windows + per-user reduce plan ONE
    hash exchange over the events relation (the final orderBy of the
    query is a separate tiny range exchange, not asserted here)."""
    rows = [(u, s, t) for u in range(20)
            for s, t in ((1, "view"), (2, "click"), (3, "purchase"))]
    plan = funnel_times(_df(spark, rows),
                        ["view", "click", "purchase"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan ExistingRDD") == 1
