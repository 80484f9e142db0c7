"""Per-user event-type transition matrix (first-order Markov counts).

The behavioral-analytics primitive behind funnel discovery and
next-event models: for every ordered pair of consecutive events of the
same user, count (prev_type -> next_type) transitions and the number
of distinct users exhibiting each.

Scale design: the per-user ordering uses a ``user_id``-PARTITIONED
window (one hash exchange on the uniform user key; per-user streams
are bounded, so no partition skew — the same shape as the sessionizer
in streaming/jobs.py), never an unpartitioned window. The transition
aggregation is a partial+final hash agg whose key space is
|event_types|^2 — constant-bounded output regardless of event volume.
``n_users`` is an exact count_distinct at test scale; at 10^12 events
the identical plan swaps approx_count_distinct, the same documented
trade as the A8 string sets (operators/extract_sets.py).

Reference parity note: the reference engine has no event-transition
operator; this is a beyond-reference analytics op. The ordering key
(ts, event_id) is unique per user (event_id globally unique), so lag
is deterministic in both engines.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def transition_counts(events: DataFrame) -> DataFrame:
    """(prev_type, next_type, n_trans, n_users), one row per observed
    transition pair."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (events
              .select("user_id", "event_type", "ts", "event_id")
              .withColumn("prev_type", F.lag("event_type").over(w))
              .filter(F.col("prev_type").isNotNull()))
    return (lagged
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_trans"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users")))


def user_trigrams(events: DataFrame) -> DataFrame:
    """Top-20 event-type trigrams across users: both lags ride the
    SAME user-partitioned window, so the whole pattern-mining pass
    costs ONE hash exchange on the user key plus the
    |types|^3-bounded count agg; the top-k is a TakeOrderedAndProject
    (per-partition partial top-k, never a global sort). Total order
    (n desc, t1, t2, t3) makes the cut deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (events
              .select("user_id", "event_type", "ts", "event_id")
              .withColumn("t2", F.lag("event_type", 1).over(w))
              .withColumn("t1", F.lag("event_type", 2).over(w))
              .filter(F.col("t1").isNotNull()))
    return (lagged
            .groupBy("t1", "t2", F.col("event_type").alias("t3"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), "t1", "t2", "t3")
            .limit(20))
