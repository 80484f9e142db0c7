"""Strict-sequence funnel analysis over the event stream.

The standard product/log-analytics question: of the users who did
stage 1, how many went on to do stage 2 STRICTLY AFTER their first
stage 1, then stage 3 strictly after that, and how long did each hop
take? Semantics (the common "first-touch" funnel): stage k's
timestamp is the earliest stage-k event strictly after the user's
stage-(k-1) timestamp; a user reaches stage k only via that chain, so
out-of-order events (purchase before any view) do not count.

Scale design (100 TB of events): the stage filter runs FIRST (pushed
to the scan — only funnel event types survive), then the stream is
exchanged ONCE, hash-partitioned by user. Every per-stage timestamp
is a ``min(CASE ...) OVER (PARTITION BY user)`` window on that same
partitioning — Catalyst stacks the Window operators and the final
per-user aggregate behind the single exchange (no further shuffle;
``tests/test_funnel.py`` pins one exchange over the events
relation). Stage k's condition references stage k-1's window column,
which is a per-user constant on every row, so the iterated
dependency costs projections, not passes over storage. Per-user
event counts bound window memory; power-user skew is bounded by the
stage filter (only funnel-type events per user are held).

Hop latencies are integer epoch-microsecond differences —
``unix_micros`` here, ``epoch_us`` in the DuckDB oracle — never
second-truncated timestamps (truncate-then-subtract differs from
subtract-then-truncate).
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_times(df: DataFrame, stages: Sequence[str]) -> DataFrame:
    """One row per ``user_id`` who emitted any funnel-stage event, with
    ``t1..tk`` stage timestamps (null once the chain breaks)."""
    if len(stages) < 2:
        raise ValueError("a funnel needs at least two stages")
    ev = (df.filter(F.col("event_type").isin(list(stages)))
            .select("user_id", "ts", "event_type"))
    w = Window.partitionBy("user_id")
    prev = None
    for i, stage in enumerate(stages, start=1):
        cond = F.col("event_type") == stage
        if prev is not None:
            cond = cond & (F.col("ts") > F.col(prev))
        ev = ev.withColumn(f"t{i}",
                           F.min(F.when(cond, F.col("ts"))).over(w))
        prev = f"t{i}"
    tcols = [f"t{i}" for i in range(1, len(stages) + 1)]
    # every row of a user carries identical t1..tk after the windows;
    # the reduce runs on the window's partitioning — no new exchange
    return (ev.groupBy("user_id")
              .agg(*[F.max(c).alias(c) for c in tcols]))
