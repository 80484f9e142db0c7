"""Cohort retention analysis over the event stream — the classic
product-analytics rollup (Mixpanel/Amplitude-style): bucket users by
the day they first appeared (their cohort), then for each cohort count
how many distinct users came back d days later, as a
``(cohort_day, day_offset) -> (n_users, pct_x100)`` retention matrix.

All-integer output (counts and a basis-point-style percentage via
integer DIV against the cohort's day-0 size), so the DuckDB oracle
agrees exactly; the retention percentage divides by the day-0 row,
which by construction exists for every cohort (a user's first day is
offset 0 of their own cohort).

Scale design (10^12 events):

* per-user first-day: one partial+final min() aggregation keyed by
  user — skew-free (user ids are the natural uniform key);
* the cohort join back onto the per-(user, day) stream is keyed on the
  SAME user id, so the aggregation's hash partitioning is reused by
  the join (no second user-keyed exchange; AQE broadcasts it outright
  at small scale);
* dedup to (user, cohort, offset) then count — the matrix itself is
  bounded by days^2 regardless of event volume, so the final
  aggregation and the day-0 self-join are trivially broadcast-sized.

Dates: events.ts is TIMESTAMP_NTZ; both engines reduce it with
``CAST(ts AS DATE)`` and date difference in days, and the cohort day
is emitted as its ISO string so the compared schema is engine-neutral.

Reference parity: generalizes the reference's per-stream running
counters (SURVEY.md §2 A10) to the multi-user analytics the north
star's telemetry pipeline needs; no direct reference analog.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def retention_matrix(events: DataFrame) -> DataFrame:
    """``(cohort_day, day_offset, n_users, pct_x100)`` sorted by
    (cohort_day, day_offset); ``pct_x100 = 100 * n_users DIV
    cohort_size`` where cohort_size is the cohort's day-0 count of
    distinct ``user_id``."""
    days = events.select(F.col("user_id").alias("u"),
                         F.to_date("ts").alias("day"))
    first = days.groupBy("u").agg(F.min("day").alias("cohort_day"))
    cells = (days.join(first, "u")
             .select("u", "cohort_day",
                     F.datediff("day", "cohort_day")
                     .alias("day_offset"))
             .distinct()
             .groupBy("cohort_day", "day_offset")
             .agg(F.count("*").alias("n_users")))
    day0 = (cells.filter(F.col("day_offset") == 0)
            .select("cohort_day",
                    F.col("n_users").alias("cohort_size")))
    return (cells.join(F.broadcast(day0), "cohort_day")
            .select(F.col("cohort_day").cast("string")
                    .alias("cohort_day"),
                    F.col("day_offset").cast("long").alias("day_offset"),
                    F.col("n_users").cast("long").alias("n_users"),
                    F.expr("CAST((n_users * 100) DIV cohort_size "
                           "AS BIGINT)").alias("pct_x100")))
