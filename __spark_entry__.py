"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship: full parse->enrich->route->aggregate
                    pipeline over transcripts derived from sf0.001.
``queries()``     — one entry per implemented operator (SURVEY.md §2 +
                    the training-data-pipeline extensions).
``oracle_sql()``  — DuckDB-equivalent SQL for every query; queries
                    over the transcript parser, which SQL cannot
                    express, get literal-VALUES oracles computed by
                    the pure-Python parse/render oracles.
                    ``tests/test_oracle_gate.py`` checks each query
                    against its oracle at sf0.01.

Numeric discipline for oracle comparability: aggregates over doubles
are rounded (sums to 2dp, scores to 3-4dp); thresholds/predicates use
integer arithmetic so Spark and DuckDB can never disagree on a
boundary.

The order of the ``queries()`` dict is part of the driver contract and
is fixed.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from console_log_parser_spark.session import ship_package  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table, with the package shipped to the workers
    (every query reads its tables here)."""
    ship_package(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _synth_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenized_logs rows synthesized from the ``documents`` ids
    (datagen.gen_doc, seed 42)."""
    from console_log_parser_spark.operators.parse import synth_tokens_stage
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id_num"))
    # distribute the synth+parse compute: ids are 8 bytes/row, the
    # downstream work ~0.4 ms/doc — the documents scan is one task
    # (single row group), so without this exchange the whole synthesis
    # serializes on one core
    ids = ids.repartition(spark.sparkContext.defaultParallelism)
    return synth_tokens_stage(ids)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive tokenized transcripts from sf0.001 documents,
    run the full pipeline plan, return per-(sink, severity) aggregates."""
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.severity_histogram(
        _routed(spark, "/root/testdata/sf0.001")).orderBy("sink", "severity")


# --------------------------------------------------------------------------
# relational / TPC-H-ish operators (scan, filter, agg, joins, windows)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                 F.count("*").alias("count_order")))


def q6_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * F.col("l_discount")), 2).alias("revenue")))


def q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1999-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1999-03-15")
    # Aggregate below the join (guide §2.3): the group key l_orderkey
    # IS the join key and o_orderdate/o_orderpriority are per-order
    # attributes (o_orderkey is the orders key), so summing lineitem
    # revenue per orderkey first is plan-equivalent while the SMJ
    # shuffles pre-aggregated rows — and the aggregation's exchange IS
    # the join's exchange (same key, reused). A/B: 0.85 -> 0.68 s at
    # sf0.1, identical rows.
    pre = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("_rev")))
    return (pre.join(orders, pre.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("l_orderkey", "o_orderdate", "o_orderpriority",
                    F.round("_rev", 2).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


def q5_local_supplier(spark, sf_dir):
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, (li.l_suppkey == supp.s_suppkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(nation, supp.s_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


def q4_order_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    return (orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


def q_top_customers_window(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # Aggregate BELOW the join (guide §2.3 "aggregate before you
    # shuffle"): the group key c_custkey IS the join key and
    # c_mktsegment is a per-customer attribute, so summing orders per
    # custkey first is exactly equivalent (c_custkey is the customer
    # table's key) while the join probes ~10x fewer rows and the
    # pre-aggregated side broadcast-joins the small dimension.
    # A/B at sf1.0: 1.76 s -> 0.90 s, identical rows.
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 2)
                     .alias("total_spent"),
                     F.count("*").alias("n_orders")))
    totals = (per_cust.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        per_cust.o_custkey == F.col("c_custkey"))
        .select("c_mktsegment", "c_custkey", "total_spent", "n_orders"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spent"), F.asc("c_custkey"))
    return (totals.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("c_mktsegment", "c_custkey", "total_spent",
                    "n_orders", "rnk"))


# --------------------------------------------------------------------------
# log/telemetry operators over `events` (the grok/sessionize family)
# --------------------------------------------------------------------------

def events_severity_hist(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.col("event_type").alias("severity"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def events_props_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.nullif(F.regexp_extract("props", r'"k": ([0-9]+)', 1),
                 F.lit("")).cast("long")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count("k").alias("n_k"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k")))


def events_sessionize(spark, sf_dir):
    """A new session starts after a gap of more than 30 minutes. The
    gap is an integer microsecond difference: whole seconds would
    count an 1800.5 s gap as 1800 and merge two sessions."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = us(F.col("ts")) - us(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
    return (with_flag.groupBy("user_id")
            .agg(F.sum("new_session").alias("n_sessions"),
                 F.count("*").alias("n_events")))


def events_retime_quantize(spark, sf_dir):
    """P12 analog (asciinema2html.py:226-243 frame re-timing): lag-based
    inter-event gaps quantized into buckets."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    dt = us(F.col("ts")) - us(F.lag("ts").over(w))
    m = 60_000_000
    c = F.col("dt")  # reference the materialized column, NOT the window
    # expression — re-evaluating the lag after the null-filter would
    # recompute it over the filtered rows
    bucket = (F.when(c < m, "lt_1m").when(c < 5 * m, "lt_5m")
              .when(c < 15 * m, "lt_15m").when(c < 60 * m, "lt_1h")
              .otherwise("ge_1h"))
    return (ev.withColumn("dt", dt).filter(F.col("dt").isNotNull())
            .withColumn("bucket", bucket)
            .groupBy("bucket").agg(F.count("*").alias("n")))


def events_asof_interleave(spark, sf_dir):
    """J4 analog (twebber.py:26-105): interleave two time-sorted streams
    and count the hops (side switches) — union + range-partitioned lag
    (operators/windows.py) instead of a dual-cursor merge; no
    single-partition global sort."""
    from console_log_parser_spark.operators.windows import (
        range_partitioned_lag)
    ev = _t(spark, sf_dir, "events")
    side = (F.col("event_id") % 2).alias("side")
    flagged = range_partitioned_lag(
        ev.select("ts", "event_id", side),
        ["ts", "event_id"], "side", "prev_side")
    return flagged.agg(
        F.sum(F.when(F.col("prev_side").isNotNull()
                     & (F.col("side") != F.col("prev_side")), 1)
              .otherwise(0)).alias("n_hops"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("n_left"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("n_right"))


def events_funnel(spark, sf_dir):
    """Strict-sequence view->click->purchase funnel
    (operators/funnel.py): stage k = earliest stage-k event strictly
    after the user's stage-(k-1) time. ONE exchange of the
    stage-filtered stream by user; stacked per-user windows + the
    per-user reduce all run behind it. Hop latencies are integer
    epoch-microsecond differences (tz-invariant), summed per
    user-cohort."""
    from console_log_parser_spark.operators.funnel import funnel_times
    ev = _t(spark, sf_dir, "events")
    ft = funnel_times(ev, ["view", "click", "purchase"])
    # timestampdiff handles TIMESTAMP_NTZ (unix_micros does not)
    hop1 = F.expr("timestampdiff(MICROSECOND, t1, t2)")
    hop2 = F.expr("timestampdiff(MICROSECOND, t2, t3)")
    return (ft.groupBy((F.col("user_id") % 8).cast("long")
                       .alias("cohort"))
            .agg(F.count("*").cast("long").alias("n_users"),
                 F.count("t1").cast("long").alias("n_view"),
                 F.count("t2").cast("long").alias("n_click_after"),
                 F.count("t3").cast("long").alias("n_purchase_after"),
                 F.sum(hop1).cast("long").alias("hop1_us"),
                 F.sum(hop2).cast("long").alias("hop2_us"))
            .orderBy("cohort"))


def events_rate_outliers(spark, sf_dir):
    """Log-monitoring composition: hourly event counts per type, then
    outlier hours flagged against the EXACT median hourly rate from
    operators/stats.histogram_percentiles (counts are a bounded
    integer domain — the sortless histogram path). Outlier rule is
    integer-only: cnt * 2 > median * 3 (i.e. cnt > 1.5x median).
    Two tiny aggregations ride on one corpus-wide (type, hour)
    count; the medians dimension broadcast-joins back."""
    from console_log_parser_spark.operators.stats import (
        histogram_percentiles)
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.withColumn(
        "hour", F.expr("timestampdiff(HOUR, timestamp'1970-01-01', ts)")
        .cast("long"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("cnt")))
    med = (histogram_percentiles(hourly, "cnt", "event_type",
                                 pcts=(50,))
           .select("event_type", F.col("p50").alias("median_cnt")))
    return (hourly.join(F.broadcast(med), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_hours"),
                 F.max("median_cnt").cast("long").alias("median_cnt"),
                 F.sum(F.when(F.col("cnt") * 2 >
                              F.col("median_cnt") * 3, 1)
                       .otherwise(0)).cast("long")
                 .alias("n_outlier_hours"),
                 F.max("cnt").cast("long").alias("max_cnt"))
            .orderBy("event_type"))


def events_range_join(spark, sf_dir):
    """J5 analog (asciinema2html.py:94-101 hop-window correlation): a
    range-predicate join of the fact table against a small literal
    band dimension — broadcast nested-loop join, never a shuffle of
    the fact side."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0, 10), ("mid", 10, 100), ("high", 100, 10**9)],
        "band string, lo int, hi int")
    j = ev.join(F.broadcast(bands),
                (ev.value >= bands.lo) & (ev.value < bands.hi), "inner")
    return (j.groupBy("band")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def events_distinct_sets(spark, sf_dir):
    """A8 analog (vtparser.py:714,738 distinct-string sets): exact
    distinct cardinalities per event_type. (At 10^12 rows the same
    plan runs with approx_count_distinct; exact kept here so the
    DuckDB oracle can agree bit-for-bit.)"""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.countDistinct("props").alias("n_props"),
                 F.count("*").alias("n_events")))


def cast_poster_base64(spark, sf_dir):
    """P13 (asciinema2html.py:131-151, 183-189): base64-embedded frame
    payload + poster timestamp (end - 1.0 when the cast is longer than
    2 s, else end - 0.4)."""
    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    max_ts = F.round(
        (F.lit(4) + F.pmod(d, F.lit(20)))
        * (F.pmod(d, F.lit(100)) + 1) * F.lit(0.05), 4)
    poster = F.round(F.when(max_ts > 2.0, max_ts - 1.0)
                     .otherwise(max_ts - 0.4), 4)
    payload = F.format_string("frame 0 of doc %d\r\n", d)
    return docs.select(
        "doc_id",
        F.base64(F.encode(payload, "utf-8")).alias("payload_b64"),
        poster.alias("poster_ts"))


# --------------------------------------------------------------------------
# asciinema cast source (sources/asciinema.py): JSONL parse, re-timing,
# two-stream hop interleave — reference S3/S4/P12/J4
# --------------------------------------------------------------------------

def _cast_lines(spark, sf_dir):
    from console_log_parser_spark.sources import asciinema
    # ids are 8 bytes/row off a one-row-group scan; spread them so the
    # per-frame explode + format_string synthesis runs on every core
    ids = (_t(spark, sf_dir, "documents").select("doc_id")
           .repartition(spark.sparkContext.defaultParallelism))
    return asciinema.synth_cast_lines(ids)


def cast_frame_stats(spark, sf_dir):
    """Synthesize JSONL casts (JVM expressions), parse them back via
    from_json/get_json_object, aggregate; the oracle recomputes the
    closed forms — any breakage in the JSON round trip mismatches."""
    from console_log_parser_spark.sources import asciinema
    lines = _cast_lines(spark, sf_dir)
    fr = asciinema.frames(lines)
    hd = asciinema.headers(lines).filter("valid")
    per_doc = fr.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.max("ts").alias("max_ts"))
    joined = per_doc.join(hd.select("doc_id", "width"), "doc_id")
    return joined.agg(
        F.count("*").alias("n_casts"),
        F.sum("n_frames").alias("total_frames"),
        F.round(F.sum("max_ts"), 2).alias("sum_max_ts"),
        F.sum("width").alias("sum_width"))


def cast_retime_hist(spark, sf_dir):
    """P12 frame re-timing: lag(ts) deltas quantized to the reference
    bucket list, histogrammed."""
    from console_log_parser_spark.sources import asciinema
    fr = asciinema.frames(_cast_lines(spark, sf_dir))
    q = asciinema.retime_quantized(fr)
    return (q.groupBy(F.col("q").alias("bucket"))
            .agg(F.count("*").alias("n")))


def cast_hops(spark, sf_dir):
    """J4 two-stream interleave: even-doc casts vs odd-doc casts merged
    by time; hops = side switches."""
    from console_log_parser_spark.sources import asciinema
    fr = asciinema.frames(_cast_lines(spark, sf_dir))
    left = fr.filter(F.col("doc_id") % 2 == 0)
    right = fr.filter(F.col("doc_id") % 2 == 1)
    h = asciinema.hops(left, right)
    return h.agg(
        F.sum(F.when(F.col("is_hop"), 1).otherwise(0)).alias("n_hops"),
        F.sum(F.when(F.col("side") == "left", 1).otherwise(0))
        .alias("n_left"),
        F.sum(F.when(F.col("side") == "right", 1).otherwise(0))
        .alias("n_right"))


def cast_vim_sessions(spark, sf_dir):
    """S8 vim-session capture (asciinema2html.py:192-258): per-session
    frame series re-timed onto the quantized rebased axis; aggregate
    dump stats. The synthetic casts embed the 22;0;0t / 23;0;0t
    markers in closed form, so the full capture + re-time round trip
    is SQL-checkable."""
    from console_log_parser_spark.sources import asciinema
    fr = asciinema.frames(_cast_lines(spark, sf_dir))
    stats = asciinema.vim_session_stats(fr)
    return stats.agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_frames").alias("sum_frames"),
        F.sum("duration_q4").alias("sum_duration_q4"),
        F.max("duration_q4").alias("max_duration_q4"))


def events_hop_renumber(spark, sf_dir):
    """J2 hop-target renumbering (terminal2html.py:16-38, 376-388):
    hop links display the target command number minus the suppressed
    commands at or before it. Commands = per-user time-ordered events;
    suppressed = 'error' events; hop targets = command numbers
    {3, 10, 25} of every user (broadcast dimension)."""
    from console_log_parser_spark.operators.enrich import (
        hop_target_renumber)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    commands = (ev.select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "error").alias("suppressed"))
        .withColumn("cmd_no", F.row_number().over(w))
        .select("user_id", "cmd_no", "suppressed"))
    targets = spark.createDataFrame([(3,), (10,), (25,)], "cmd_no int")
    hops = (ev.select("user_id").distinct()
            .crossJoin(F.broadcast(targets)))
    renum = hop_target_renumber(commands, hops, id_col="user_id")
    return (renum.groupBy("cmd_no")
            .agg(F.count("*").alias("n_users"),
                 F.sum("renumbered").alias("sum_renumbered")))


def _drain_events_stream(spark: SparkSession, sf_dir: str,
                         op: Callable[[DataFrame], DataFrame],
                         output_mode: str = "update",
                         redeliver: bool = False) -> DataFrame:
    """Stream the events table through ``op`` (streaming/jobs.py
    run_to_memory) as two time-ordered micro-batches, cut at the median
    ``ts``, and return the memory sink's rows. With ``redeliver`` each
    batch file is delivered twice, as an at-least-once source would.
    The sink's rows are already driver-resident, so they are returned
    as a local frame; the staged files, the checkpoint and the sink's
    temp view are removed after the drain."""
    import glob
    import shutil
    import tempfile

    from console_log_parser_spark.streaming import jobs

    d = tempfile.mkdtemp(prefix=f"stream_{op.__name__}_")
    # mkdtemp's name is unique and a valid identifier
    qname = os.path.basename(d)
    try:
        src = f"{d}/src"
        os.makedirs(src)
        ev = _t(spark, sf_dir, "events").orderBy("ts", "event_id")
        cut = ev.selectExpr("percentile_approx(ts, 0.5) p").first()["p"]
        copies = 2 if redeliver else 1
        for i, part in enumerate((ev.filter(F.col("ts") <= cut),
                                  ev.filter(F.col("ts") > cut))):
            pdir = f"{d}/p{i}"
            part.coalesce(1).write.mode("overwrite").parquet(pdir)
            for j, f in enumerate(sorted(glob.glob(f"{pdir}/*.parquet"))):
                for k in range(copies):
                    shutil.copy(f, f"{src}/{copies * i + k:02d}_{j}.parquet")
        q = jobs.run_to_memory(spark, src, f"{d}/ckpt", qname, op,
                               output_mode)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming drain exceeded 300s — a partial memory "
                "sink must fail loudly, not hash-mismatch quietly")
        sink = spark.table(qname)
        return spark.createDataFrame(sink.collect(), sink.schema)
    finally:
        spark.catalog.dropTempView(qname)
        shutil.rmtree(d, ignore_errors=True)


def stream_sessionize(spark, sf_dir):
    """Structured Streaming applyInPandasWithState sessionizer driven
    over a 2-file stream (2 micro-batches with carried state); the final
    per-user counters must equal the batch lag() sessionizer, which is
    exactly what the SQL oracle computes."""
    from console_log_parser_spark.streaming import jobs
    # update-mode memory sink: one row per (user, batch); the counters
    # are monotone, so max == final state
    return (_drain_events_stream(spark, sf_dir, jobs.stateful_sessionize)
            .groupBy("user_id")
            .agg(F.max("n_sessions").alias("n_sessions"),
                 F.max("n_events").alias("n_events")))


def stream_funnel(spark, sf_dir):
    """Streaming strict-sequence funnel (streaming/jobs.py
    stateful_funnel) driven over a 2-file time-ordered stream: the
    per-user first-touch stage times carried across micro-batches
    must equal the batch funnel (operators/funnel.py), which is what
    the SQL oracle computes. Stage times are set-once, so max over
    the update-mode sink rows == final state."""
    from console_log_parser_spark.streaming import jobs
    return (_drain_events_stream(spark, sf_dir, jobs.stateful_funnel)
            .groupBy("user_id")
            .agg(F.max("t1_us").alias("t1_us"),
                 F.max("t2_us").alias("t2_us"),
                 F.max("t3_us").alias("t3_us"))
            .withColumn("user_id", F.col("user_id").cast("long"))
            .orderBy("user_id"))


def stream_transitions(spark, sf_dir):
    """Streaming event-transition counts (streaming/jobs.py
    stateful_transitions) over a 2-file time-ordered stream: the
    per-user LAST event carried across micro-batches supplies the
    boundary transition, so summing the update-mode sink equals the
    batch operator (operators/transitions.py) — which is exactly what
    the SQL oracle computes. A stateful streaming query with a FULL
    value-hash oracle, not a rows-only check."""
    from console_log_parser_spark.streaming import jobs
    return (_drain_events_stream(spark, sf_dir, jobs.stateful_transitions)
            .groupBy("prev_type", "next_type")
            .agg(F.sum("n").cast("long").alias("n_trans"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users"))
            .orderBy("prev_type", "next_type"))


def doc_pack_sequences(spark, sf_dir):
    """Token-aware sequence packing (operators/packing.py): global
    token offsets under the deterministic md5 concat order via a
    distributed two-pass prefix sum (range partitions + in-partition
    cumsum + broadcast triangular offset join — no single-task global
    sort), then the fixed 2048-token training windows each document
    lands in. n_chars stands in for the token count (it is the
    pre-tokenized length the documents table carries)."""
    from console_log_parser_spark.operators.packing import pack_sequences
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (pack_sequences(docs, 2048, n_tok_col="n_chars")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "tok_end", "first_seq", "last_seq"))


def stream_dedup_exact(spark, sf_dir):
    """Streaming exact dedup under at-least-once redelivery
    (streaming/jobs.py dedup_exact): the two time-ordered halves of
    the events table are each delivered TWICE (four micro-batches,
    simulating a source that re-sends acked batches);
    dropDuplicatesWithinWatermark on event_id must leave exactly the
    original rows, so per-type counts over the sink equal the plain
    batch table — which is what the SQL oracle computes."""
    from console_log_parser_spark.streaming import jobs
    return (_drain_events_stream(spark, sf_dir, jobs.dedup_exact,
                                 output_mode="append", redeliver=True)
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("event_id").alias("n_distinct"))
            .select("event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("n_distinct").cast("long").alias("n_distinct")))


# --------------------------------------------------------------------------
# documents: dedup / text analysis
# --------------------------------------------------------------------------

def doc_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_distinct"),
                 (F.count("*") - F.countDistinct(F.md5("text")))
                 .alias("n_dup_docs")))


def doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return (docs.select("doc_id", "source", fp.alias("fingerprint"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("fingerprint").alias("n_fingerprints")))


def doc_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # count without materializing arrays: whitespace tokens are
    # separators+1 (two C-level scans), BPE-ish tokens via
    # regexp_count — same values as size(split)/size(regexp_extract_all)
    # (verified equal), ~10% cheaper at sf1.0
    ws = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    bpe = F.expr(r"regexp_count(text, '\\w+|[^\\w\\s]')")
    return (docs.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(ws).alias("sum_ws_tokens"),
                 F.sum(bpe).alias("sum_bpe_tokens"),
                 F.sum("n_chars").alias("sum_chars")))


def doc_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_punct = F.size(F.expr(r"regexp_extract_all(text, '[^\\w\\s]', 0)"))
    n_stop = F.size(F.expr(
        r"regexp_extract_all(text, '\\b(the|a)\\b', 0)"))
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(n_words).alias("sum_words"),
                 F.sum(n_punct).alias("sum_punct"),
                 F.sum(n_stop).alias("sum_stop")))


def doc_lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic; integer-ratio threshold so the
    prediction is engine-portable (4% stopword ratio)."""
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_stop = F.size(F.expr(
        r"regexp_extract_all(text, '\\b(the|a|and|of|to|in)\\b', 0)"))
    pred = F.when(n_stop * 1000 > n_words * 40, "en").otherwise("unk")
    return (docs.withColumn("predicted", pred)
            .groupBy("lang", "predicted")
            .agg(F.count("*").alias("n")))


def doc_ngram_jaccard(spark, sf_dir):
    """EXACT 3-gram Jaccard near-dup pairs (J >= 1/2, integer
    cross-multiplied threshold) via prefix-filter candidates
    (operators/dedup.py::ngram_jaccard_pairs_prefix): guaranteed total
    recall with hot shingles self-pruned out of the candidate join —
    no unbounded shingle self-join. The oracle stays the exact
    all-pairs SQL, so the hash match is the completeness proof."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.ngram_jaccard_pairs_prefix(docs)


def doc_quality_filter(spark, sf_dir):
    """Gopher-style rule-based quality gate (first-failing-rule
    verdict, all-integer thresholds so Spark and DuckDB can never
    disagree on a boundary): word-count bounds, mean-word-length
    bounds (via letters = chars minus separating spaces, integer
    cross-multiplied), minimum stopword rate."""
    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    letters = F.col("n_chars") - n_words + 1
    n_stop = F.size(F.expr(
        r"regexp_extract_all(text, '\\b(the|a|and|of|to|in)\\b', 0)"))
    reason = (F.when(n_words < 40, "too_short")
              .when(n_words > 100000, "too_long")
              .when(letters < 3 * n_words, "short_words")
              .when(letters > 10 * n_words, "long_words")
              .when(n_stop * 100 < n_words, "low_stopword")
              .otherwise("keep"))
    return (docs.withColumn("verdict", reason)
            .groupBy("lang", "verdict")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


def doc_repetition(spark, sf_dir):
    """Repetition signals (the Gopher family's top-word dominance and
    vocabulary-diversity rules): per doc, the most frequent word's
    share and the distinct-word share, both as integer-percent
    (DIV 100 arithmetic — engine-portable); summed per language."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    wc = (words.groupBy("doc_id", "lang", "w")
          .agg(F.count("*").alias("cnt")))
    per_doc = (wc.groupBy("doc_id", "lang")
               .agg(F.sum("cnt").alias("total"),
                    F.max("cnt").alias("max_cnt"),
                    F.count("*").alias("n_distinct")))
    dom = F.expr("(100 * max_cnt) div total")
    div = F.expr("(100 * n_distinct) div total")
    return (per_doc.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(dom).alias("sum_dominance_pct"),
                 F.sum(div).alias("sum_distinct_pct"),
                 F.max(dom).alias("max_dominance_pct")))


def doc_dedup_keep_first(spark, sf_dir):
    """Exact dedup with canonical survivor (min doc_id per md5(text));
    per-source surviving counts."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
    kept = dedup.dedup_keep_first(docs)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").alias("sum_kept_ids")))


def doc_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash near-dup pair graph:
    (doc_id, cluster-min label) per clustered doc — iterative min-label
    propagation; the DuckDB oracle recomputes it with a recursive CTE."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.minhash_dedup_pairs(docs)
    return dedup.duplicate_clusters(pairs).orderBy("doc_id")


def doc_word_topk(spark, sf_dir):
    """Top-3 words per language by frequency (A9/A10 analog over the
    documents table)."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select("lang", F.explode(F.split("text", " "))
                        .alias("w"))
    counts = words.groupBy("lang", "w").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("w"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("lang", "w", "n", "rank"))


def doc_minhash_dedup(spark, sf_dir):
    """MinHash(8 perms) + LSH(4 bands) candidate pairs verified by exact
    shingle Jaccard >= 1/2 (operators/dedup.py). Portable md5-based
    hashing lets DuckDB reproduce it exactly."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.minhash_dedup_pairs(docs)


def doc_minhash_signatures(spark, sf_dir):
    """Raw MinHash signatures (first 4 components exposed as columns)."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = dedup.minhash_signatures(docs)
    return sigs.select(
        "doc_id",
        F.element_at("sig", 1).alias("mh0"),
        F.element_at("sig", 2).alias("mh1"),
        F.element_at("sig", 3).alias("mh2"),
        F.element_at("sig", 4).alias("mh3"))


def doc_simhash_pairs(spark, sf_dir):
    """64-bit SimHash near-dup pairs via 16-bit block LSH.

    Semantics note: the 4x16-bit pigeonhole guarantees TOTAL recall
    only for hamming <= 3; with max_hamming=16 this query returns
    "LSH-candidate pairs within hamming 16" (pairs must still share a
    block), which is exactly what the oracle SQL computes — the two
    agree by construction, and the hamming<=3 regime is the
    production dedup setting."""
    from console_log_parser_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.simhash_pairs(docs, max_hamming=16)


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------

def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def ann_bruteforce_top10(spark, sf_dir):
    raw = _t(spark, sf_dir, "embeddings")
    emb = raw.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    q = raw.filter(F.col("vec_id") == 0).select(
        F.expr("transform(embedding, x -> cast(x as double))").alias("qv"))
    scored = (emb.filter(F.col("vec_id") != 0)
              .crossJoin(F.broadcast(q))
              .select("vec_id", "label",
                      F.round(_cosine(F.col("v"), F.col("qv")), 4)
                      .alias("score")))
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(10)


def ann_lsh_top10(spark, sf_dir):
    """Scale-path ANN: random-hyperplane LSH (4 tables x 8 bits over
    integer-quantized embeddings) prunes the corpus to same-bucket
    candidates, then exact cosine re-ranks — operators/similarity.py."""
    from console_log_parser_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    cand = similarity.ann_lsh_candidates(emb, query_vec_id=0)
    full = emb.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    q = full.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (full.join(cand, "vec_id")
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label",
                    F.round(_cosine(F.col("v"), F.col("qv")), 4)
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10))


def ann_ivf_top10(spark, sf_dir):
    """IVF ANN: deterministic sqrt-bounded coarse codebook (vec_id %
    m == 1 with m = max(2, n // isqrt(n)), so K ~ sqrt(n) centroids —
    the collect is bounded at any corpus size), integer-exact cell
    assignment, nprobe=2 probe, exact cosine re-rank —
    operators/similarity.py."""
    from console_log_parser_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    cand = similarity.ann_ivf_candidates(emb, query_vec_id=0)
    full = emb.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    q = full.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (full.join(cand, "vec_id")
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label",
                    F.round(_cosine(F.col("v"), F.col("qv")), 4)
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10))


def ann_matmul_top10(spark, sf_dir):
    """Exact top-k via one numpy matmul per Arrow batch with partial
    per-partition top-k (the 100-TB brute-force baseline); result is
    identical to ann_bruteforce_top10."""
    import numpy as np

    from console_log_parser_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = np.asarray(qrow[0], dtype=np.float64)
    top = similarity.cosine_topk_vectorized(
        emb.filter(F.col("vec_id") != 0), query)
    labels = emb.select("vec_id", "label")
    return (top.join(F.broadcast(labels), "vec_id")
            .select("vec_id", "label", "score")
            .orderBy(F.desc("score"), F.asc("vec_id")))


def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs above 0.45 via hyperplane
    LSH candidates + exact-cosine verify (operators/similarity.py) —
    bucketed equi-join, no all-pairs cross join. The oracle stays the
    EXACT all-pairs SQL: the hash match proves the (L=32, B=4) config
    has total recall at this threshold on this corpus (also asserted
    by tests/test_similarity.py at sf0.001 and sf0.01)."""
    from console_log_parser_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.neardup_lsh_pairs(emb)


# --------------------------------------------------------------------------
# multimodal: binary media columns (operators/multimodal.py)
# --------------------------------------------------------------------------

def _media(spark, sf_dir):
    from console_log_parser_spark.operators import multimodal
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    return multimodal.synth_media_stage(ids)


def media_metadata_stats(spark, sf_dir):
    """Synthesize binary media -> decode headers from the ACTUAL bytes ->
    aggregate; the oracle recomputes the closed forms, so any breakage in
    header packing/parsing or payload sizing fails the value hash."""
    from console_log_parser_spark.operators import multimodal
    decoded = multimodal.decode_stage(_media(spark, sf_dir))
    return (decoded.groupBy("media_type")
            .agg(F.count("*").alias("n"),
                 F.sum("width").alias("sum_w"),
                 F.sum("height").alias("sum_h"),
                 F.sum("channels").alias("sum_c"),
                 F.sum("n_frames").alias("sum_frames"),
                 F.sum("payload_len").alias("sum_payload"),
                 F.sum("n_bytes").alias("sum_bytes")))


def media_frame_sample(spark, sf_dir):
    """Video frame sampling (every 2nd frame) — the sampled-frame count
    and index sum have closed forms the oracle verifies."""
    from console_log_parser_spark.operators import multimodal
    frames = multimodal.frame_sample_stage(_media(spark, sf_dir))
    return frames.agg(F.count("*").alias("n_sampled"),
                      F.sum("frame_idx").alias("sum_idx"),
                      F.countDistinct("doc_id").alias("n_videos"))


def media_thumbnails(spark, sf_dir):
    """Image thumbnails (4x4 average pool). Pixel math is pinned by
    pytest against a pure recomputation; here the driver checks shape."""
    from console_log_parser_spark.operators import multimodal
    thumbs = multimodal.thumbnail_stage(_media(spark, sf_dir))
    return (thumbs.select("doc_id", "media_type",
                          F.size("thumb").alias("thumb_cells"))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# pipeline operators over synthesized transcripts (the vectorized ANSI
# parser is not SQL-expressible: their oracles are literal VALUES from
# oracle_pipeline / oracle_html)
# --------------------------------------------------------------------------

def _routed(spark, sf_dir):
    from console_log_parser_spark import datagen
    from console_log_parser_spark.plans.pipeline import build_routed
    return build_routed(_synth_logs(spark, sf_dir),
                        spark.createDataFrame(datagen.route_metadata_rows()))


def html_render_stats(spark, sf_dir):
    """S6 HTML sink over synthesized transcripts: render pages
    (SGR->span fold inside one Arrow stage), aggregate per sink.
    Checked by value against ``oracle_html``, a second implementation
    of the span semantics; tests/test_html_sink.py pins those semantics
    against the reference's convert_csi behavior."""
    from console_log_parser_spark import datagen
    from console_log_parser_spark.sinks import html as html_sink
    logs = _synth_logs(spark, sf_dir)
    routes = spark.createDataFrame(datagen.route_metadata_rows())
    with_sink = logs.join(
        F.broadcast(routes.select("source", "sink", "title")),
        "source", "left").fillna({"sink": "sink_dead_letter",
                                  "title": "untitled"})
    pages = html_sink.render_html_stage(with_sink)
    return (pages.groupBy("sink")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("n_spans").alias("sum_spans"),
                 F.sum("n_warnings").alias("sum_warnings"),
                 F.sum("html_len").alias("sum_html_len"))
            .orderBy("sink"))


def pipeline_severity_hist(spark, sf_dir):
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.severity_histogram(_routed(spark, sf_dir))


def pipeline_sink_summary(spark, sf_dir):
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.sink_summary(_routed(spark, sf_dir))


def pipeline_seq_histogram(spark, sf_dir):
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.seq_histogram(_routed(spark, sf_dir))


def pipeline_top_commands(spark, sf_dir):
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.top_commands(_routed(spark, sf_dir), k=5)


def pipeline_app_mode(spark, sf_dir):
    """P8/F2/F5 accounting per route: app-mode spans (DECCKM+DECKPAM
    adjacency, terminalparser.py:55-77), device-status sequences
    (DSR/DA, terminal2html.py:639-644), and edit-bound warnings
    (terminal2html.py:459-520 prefix guards)."""
    routed = _routed(spark, sf_dir)
    return (routed.groupBy("route")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_app_mode").alias("sum_app_mode"),
                 F.sum("n_devstat").alias("sum_devstat"),
                 F.sum("n_edit_warnings").alias("sum_edit_warnings")))


def pipeline_typed_events(spark, sf_dir):
    """SURVEY §1.3 typed per-event record column
    (array<struct<kind,param,final,pos>>, vtparser.py:644-694 dispatch
    stream) + the F2 device-status discard filter applied to it:
    per (kind, final) total events and events surviving the filter."""
    from console_log_parser_spark.operators.parse import (
        device_status_discard, parse_stage, typed_events_extractor)
    logs = _synth_logs(spark, sf_dir)
    parsed = parse_stage(logs, extractors=(typed_events_extractor(),))
    total = (parsed.select(F.explode("events").alias("e"))
             .groupBy(F.col("e.kind").alias("kind"),
                      F.col("e.final").alias("final"))
             .agg(F.count("*").alias("n_events")))
    kept = (parsed.select(F.explode(
        device_status_discard(F.col("events"))).alias("e"))
        .groupBy(F.col("e.kind").alias("kind"),
                 F.col("e.final").alias("final"))
        .agg(F.count("*").alias("n_kept")))
    return (total.join(kept, ["kind", "final"], "left")
            .select("kind", "final", "n_events",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept")))


def pipeline_chapters(spark, sf_dir):
    """J1 full form: per-command chapter headings via broadcast join
    on (source, cmd_no) (terminal2html.py:399-402), suppressed
    commands numbered but heading-free."""
    from console_log_parser_spark import datagen
    from console_log_parser_spark.operators.enrich import (
        chapter_headings, enrich_stage)
    from console_log_parser_spark.operators.parse import parse_stage
    logs = _synth_logs(spark, sf_dir)
    routes = spark.createDataFrame(datagen.route_metadata_rows())
    chapters = spark.createDataFrame(datagen.chapter_rows())
    enriched = enrich_stage(parse_stage(logs), routes)
    headed = chapter_headings(enriched, chapters)
    return (headed.groupBy("sink")
            .agg(F.count("*").alias("n_cmds"),
                 F.count("heading").alias("n_headed"),
                 F.countDistinct("heading").alias("n_distinct_headings"))
            .orderBy("sink"))


def doc_sample_mix(spark, sf_dir):
    """Deterministic dataset sampling + weighted mixing
    (operators/sampling.py): per-language keep-rates in basis points
    (derived here formulaically from the language code so the DuckDB
    oracle can mirror them; production passes a config dimension),
    applied as a pure map-side md5-bucket filter — no shuffle, no
    rand(), byte-identical selection on re-run/resume at any scale."""
    from console_log_parser_spark.operators.sampling import bucket_bp
    docs = _t(spark, sf_dir, "documents")
    rate = (F.lit(2000)
            + (F.ascii(F.substring("lang", 1, 1)) % 7) * F.lit(1000))
    kept = bucket_bp(F.col("doc_id")) < rate
    return (docs
            .groupBy("lang")
            .agg(F.max(rate).alias("rate_bp"),
                 F.count("*").alias("n_docs"),
                 F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
                 F.min(F.when(kept, F.col("doc_id")))
                 .alias("first_kept"),
                 F.max(F.when(kept, F.col("doc_id")))
                 .alias("last_kept"))
            .orderBy("lang"))


def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): documents
    sharing >= 1 word 3-gram with the held-out benchmark slice
    (doc_id % 25 == 0), with the count of DISTINCT shared 3-grams.
    The benchmark's distinct grams are broadcast; the corpus side is a
    map-side explode + broadcast semi-join — the only exchange is the
    per-doc count over the hit rows. Production n is 8-13; n=3 here
    because the synthetic vocabulary is small."""
    from console_log_parser_spark.operators.decontam import (
        contamination_counts)
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return (contamination_counts(corpus, bench, n=3)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_contam").cast("long").alias("n_contam")))


def doc_boilerplate(spark, sf_dir):
    """Corpus-frequency boilerplate profile (operators/boilerplate.py):
    word 5-grams present in >= 2 distinct documents are boilerplate;
    per doc, total/distinct gram counts, boilerplate occurrence and
    distinct counts, and the boilerplate fraction in integer basis
    points. Grams are exchanged as md5 hashes (never strings); all
    three exchanges are skew-safe partial aggregations; the boilerplate
    set is AQE-broadcast. Production thresholds are corpus-sized
    (n ~ 13, min_docs ~ 100); n=5 / min_docs=2 here because the
    synthetic vocabulary is small."""
    from console_log_parser_spark.operators.boilerplate import (
        boilerplate_stats)
    docs = _t(spark, sf_dir, "documents")
    return boilerplate_stats(docs, min_docs=2) \
        .withColumn("doc_id", F.col("doc_id").cast("long"))


def doc_temperature_mix(spark, sf_dir):
    """Temperature-2 dataset mixing (operators/sampling.py
    temperature_rates): per-lang keep rates
    proportional to sqrt(n)/n with the rarest language kept whole,
    then the deterministic md5 basis-point filter. sqrt is the only
    float op (IEEE correctly rounded, so cross-engine exact); the
    rates dimension is broadcast; the corpus sees one column-pruned
    count pass + a map-side filter."""
    from console_log_parser_spark.operators.sampling import (
        bucket_bp, temperature_rates)
    docs = _t(spark, sf_dir, "documents")
    rates = temperature_rates(docs, strat_col="lang")
    kept = bucket_bp(F.col("doc_id")) < F.col("rate_bp")
    return (docs.join(F.broadcast(rates), "lang")
            .groupBy("lang")
            .agg(F.max("n_docs").cast("long").alias("n_docs"),
                 F.max("weight").cast("long").alias("weight"),
                 F.max("rate_bp").cast("long").alias("rate_bp"),
                 F.sum(F.when(kept, 1).otherwise(0)).cast("long")
                 .alias("n_kept"),
                 F.min(F.when(kept, F.col("doc_id"))).cast("long")
                 .alias("first_kept"),
                 F.max(F.when(kept, F.col("doc_id"))).cast("long")
                 .alias("last_kept"))
            .orderBy("lang"))


def doc_length_stats(spark, sf_dir):
    """Exact per-lang token-count percentiles WITHOUT a sort
    (operators/stats.py): token counts live in a small integer
    domain, so exact nearest-rank percentiles come from a
    groupBy(lang, count) histogram + a cumulative sum over that tiny
    frame — the corpus-wide cost is one partial+final hash
    aggregation, immune to stratum skew. All-integer arithmetic
    (ceil via ``(p*n + 99) div 100``, non-negative operands) keeps
    the result bit-exact across engines."""
    from console_log_parser_spark.operators.stats import (
        histogram_percentiles)
    docs = _t(spark, sf_dir, "documents")
    with_len = docs.select(
        "lang", F.size(F.split("text", " ")).alias("n_words"))
    return histogram_percentiles(with_len, "n_words", "lang")


def doc_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment
    (operators/sampling.py split_assign): cumulative md5 basis-point
    thresholds — exhaustive, disjoint, and growth-stable (a doc's
    split depends only on (salt, doc_id), so corpus growth never
    migrates eval docs into train). 80/10/10 here so every split is
    populated at sf0.01; the audit aggregate pins per-(split, lang)
    counts and id ranges cross-engine."""
    from console_log_parser_spark.operators.sampling import split_assign
    docs = _t(spark, sf_dir, "documents")
    assigned = split_assign(
        docs, {"train": 8000, "val": 1000, "test": 1000})
    return (assigned.groupBy("split", "lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.min("doc_id").cast("long").alias("first_id"),
                 F.max("doc_id").cast("long").alias("last_id"))
            .orderBy("split", "lang"))


def doc_inverted_index(spark, sf_dir):
    """Posting-list build (operators/index.py): two-pass — document
    frequencies first (counts shuffle, never lists), hot terms
    (df > 390 here: the synthetic vocab's stop-word head)
    broadcast-anti-filtered BEFORE any collect_list, so every
    materialized posting list is bounded by max_df by construction.
    Postings are sorted in the aggregate; the audit row carries the
    md5 of the comma-joined list plus ends, and hot terms return as
    null-postings rows rather than vanishing."""
    from console_log_parser_spark.operators.index import build_postings
    docs = _t(spark, sf_dir, "documents")
    postings, hot = build_postings(docs, max_df=390)
    built = postings.select(
        "term", F.col("df_docs").cast("long").alias("df_docs"),
        F.size("postings").cast("long").alias("n_postings"),
        F.md5(F.expr(
            "array_join(transform(postings, x -> cast(x as string)), "
            "',')")).alias("postings_md5"),
        F.element_at("postings", 1).cast("long").alias("first_doc"),
        F.element_at("postings", -1).cast("long").alias("last_doc"))
    hot_rows = hot.select(
        "term", F.col("df_docs").cast("long").alias("df_docs"),
        F.lit(None).cast("long").alias("n_postings"),
        F.lit(None).cast("string").alias("postings_md5"),
        F.lit(None).cast("long").alias("first_doc"),
        F.lit(None).cast("long").alias("last_doc"))
    return built.unionByName(hot_rows).orderBy("term")


def doc_keywords(spark, sf_dir):
    """Integer-TF-IDF keyword extraction (operators/index.py
    rare_terms_per_doc): each doc's 3 globally-rarest terms, ranked
    by (df, term) — rarest-first == highest-idf-first without any
    float idf. Frequency dim joins by term (AQE-broadcast here), one
    exchange by doc for the bounded top-k window."""
    from console_log_parser_spark.operators.index import (
        rare_terms_per_doc)
    docs = _t(spark, sf_dir, "documents")
    kw = rare_terms_per_doc(docs, k=3)
    return (kw.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("array_join(transform(keywords, x -> x.term), ',')")
        .alias("kw_csv"),
        F.col("rarest_df").cast("long").alias("rarest_df"))
        .orderBy("doc_id"))


def doc_pii_redact(spark, sf_dir):
    """PII redaction (operators/redact.py): per-doc hit counts per PII
    class and the md5 of the scrubbed text. The synthetic corpus has no
    organic PII, so the query PLANTS deterministic emails / IPv4s /
    phone numbers derived from doc_id (both engines plant identically),
    then verifies counts and the redacted bytes hash-for-hash. Pure
    map-side built-ins (regexp_count/regexp_replace) — zero shuffle."""
    from console_log_parser_spark.operators.redact import redact_pii
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    email = F.concat(F.lit(" mail bob"), i.cast("string"),
                     F.lit("@example.com end"))
    ip = F.concat(F.lit(" ip 10."), (i % 200).cast("string"),
                  F.lit(".3."), (i % 250).cast("string"), F.lit(" seen"))
    tel = F.concat(F.lit(" tel +01-555-"),
                   F.lpad((i % 1000).cast("string"), 3, "0"),
                   F.lit("-"), F.lpad((i % 10000).cast("string"), 4, "0"),
                   F.lit(" ok"))
    planted = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(i % 5 == 0, email)
                  .when(i % 5 == 1, ip)
                  .when(i % 5 == 2, tel)
                  .when(i % 5 == 3, F.concat(email, ip))
                  .otherwise(F.lit(""))))
    return (redact_pii(planted)
            .select(i.cast("long").alias("doc_id"),
                    "n_email", "n_phone", "n_ipv4",
                    F.md5(F.col("text_redacted")).alias("redact_md5"),
                    F.length("text_redacted").cast("long")
                    .alias("red_len")))


def doc_quality_model(spark, sf_dir):
    """Distilled linear quality model at corpus scale
    (operators/classify.py): integer weights over engineered features
    compiled into the plan as literals (no join, no UDF), bucketed by
    integer thresholds, then per (source, bucket) counts and exact
    integer score stats. Inference is one whole-stage-codegen
    projection; the only exchange is the final tiny aggregate."""
    from console_log_parser_spark.operators.classify import score_quality
    docs = _t(spark, sf_dir, "documents")
    return (score_quality(docs)
            .groupBy("source", "q_bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("q_score").cast("long").alias("sum_score"),
                 F.min("q_score").cast("long").alias("min_score"),
                 F.max("q_score").cast("long").alias("max_score"))
            .orderBy("source", "q_bucket"))


def doc_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (operators/sampling.py epoch_key):
    the first 20 documents of epoch 1's training order with their
    global positions. This query pins the KEY's determinism
    cross-engine — the row_number here runs over the already-limited
    20-row frame, a deliberate tiny single-partition window."""
    from console_log_parser_spark.operators.sampling import epoch_key
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        epoch_key(1, F.col("doc_id")).alias("shuffle_key"))
    top = keyed.orderBy("shuffle_key", "doc_id").limit(20)
    w = Window.orderBy("shuffle_key", "doc_id")
    return top.withColumn("position",
                          F.row_number().over(w).cast("long"))


def pipeline_os_commands(spark, sf_dir):
    """A8 distinct-string sets (vtparser.py:714 device_control_strings,
    :738 os_commands): per sink, the OSC control strings and DCS data
    strings collected by the parse stage as opt-in array<string>
    Extractor columns (operators/extract_sets.py), aggregated with
    exact count_distinct + lexicographic min/max. At 10^12 rows the
    identical plan swaps countDistinct for approx_count_distinct; the
    exact form is kept so the DuckDB oracle agrees bit-for-bit."""
    from console_log_parser_spark import datagen
    from console_log_parser_spark.operators.enrich import enrich_stage
    from console_log_parser_spark.operators.extract_sets import (
        dcs_strings_extractor, os_commands_extractor)
    from console_log_parser_spark.operators.parse import parse_stage
    logs = _synth_logs(spark, sf_dir)
    routes = spark.createDataFrame(datagen.route_metadata_rows())
    parsed = parse_stage(logs, extractors=(
        os_commands_extractor(), dcs_strings_extractor()))
    enr = enrich_stage(parsed, routes).select(
        "sink", "os_commands", "dcs_strings")
    docs = enr.groupBy("sink").agg(F.count("*").alias("n_docs"))
    osc = (enr.select("sink", F.explode("os_commands").alias("s"))
           .groupBy("sink")
           .agg(F.count("*").alias("n_osc"),
                F.countDistinct("s").alias("n_osc_distinct"),
                F.min("s").alias("osc_min"),
                F.max("s").alias("osc_max")))
    dcs = (enr.select("sink", F.explode("dcs_strings").alias("s"))
           .groupBy("sink")
           .agg(F.count("*").alias("n_dcs"),
                F.countDistinct("s").alias("n_dcs_distinct")))
    return (docs.join(osc, "sink", "left").join(dcs, "sink", "left")
            .select("sink", "n_docs",
                    F.coalesce("n_osc", F.lit(0)).alias("n_osc"),
                    F.coalesce("n_osc_distinct", F.lit(0))
                    .alias("n_osc_distinct"),
                    "osc_min", "osc_max",
                    F.coalesce("n_dcs", F.lit(0)).alias("n_dcs"),
                    F.coalesce("n_dcs_distinct", F.lit(0))
                    .alias("n_dcs_distinct")))


def pipeline_source_rollup(spark, sf_dir):
    """ROLLUP(route, source) in one pass — per-source, per-route and
    grand totals (A1-A12 generalization; partial+final hash agg)."""
    from console_log_parser_spark.operators import aggregate as agg_ops
    return agg_ops.source_rollup(_routed(spark, sf_dir))


def events_type_cube(spark, sf_dir):
    """GROUP BY CUBE over the events table: all 4 grouping sets of
    (event_type, user bucket) in one shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("user_bucket",
                          (F.col("user_id") % 10).cast("long"))
            .cube("event_type", "user_bucket")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def doc_curation_pipeline(spark, sf_dir):
    """End-to-end curation composition — the 'switch to this repo and
    run your whole pipeline' demonstration, five operators chained on
    one frame: (1) corpus-level exact span dedup (operators/
    span_dedup.py, w=5) rewrites each doc to its surviving chunks;
    (2) quality gate keeps docs with >= 20 surviving words; (3)
    benchmark decontamination (operators/decontam.py, word 4-grams of
    the SURVIVING text, held-out slice doc_id % 97 == 0 broadcast)
    drops contaminated docs; (4) deterministic md5-bucket sampling at
    8000 bp (operators/sampling.py — resume/retry-identical); (5)
    growth-stable train/val/test assignment (80/10/10). Audit output:
    per-(split, lang) doc/word/dropped-chunk counts. Every stage is
    the already-verified operator, so the one oracle gates the
    COMPOSITION: stage order, column threading, and filter interplay.
    """
    from console_log_parser_spark.operators.decontam import \
        contamination_counts
    from console_log_parser_spark.operators.sampling import (
        deterministic_sample, split_assign)
    from console_log_parser_spark.operators.span_dedup import \
        span_dedup_stats
    docs = _t(spark, sf_dir, "documents")
    span = span_dedup_stats(docs, w=5).select(
        "doc_id", "n_dropped", "kept_text")
    cur = (docs.select("doc_id", "lang")
           .join(span, "doc_id")
           .withColumn("n_words",
                       F.when(F.col("kept_text") == "", F.lit(0))
                       .otherwise(F.size(F.split("kept_text", " ")))
                       .cast("long")))
    q = cur.filter(F.col("n_words") >= 20)
    bench = q.filter(F.col("doc_id") % 97 == 0)
    corpus = q.filter(F.col("doc_id") % 97 != 0)
    contaminated = contamination_counts(
        corpus, bench, n=4, text_col="kept_text").select("doc_id")
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    sampled = deterministic_sample(clean, 8000)
    final = split_assign(sampled,
                         {"train": 8000, "val": 1000, "test": 1000})
    return (final.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_dropped").cast("long")
                 .alias("n_chunks_dropped"),
                 F.min("doc_id").cast("long").alias("first_id"))
            .orderBy("split", "lang"))


def doc_shard_manifest(spark, sf_dir):
    """Training-data export manifest (sinks/shards.py): the corpus
    sharded 16 ways by the deterministic md5 key (resume/retry places
    every doc in the same shard), with per-shard doc count, word
    count, and an order-invariant commutative content checksum
    (bitwise XOR of 48-bit md5 prefixes — XOR, not SUM, because a
    shard-sized sum overflows BIGINT and lands in DuckDB HUGEINT; see
    sinks/shards.py) that any engine can recompute from the same
    bytes. Assignment is map-side; the only exchange is the 16-row
    partial+final aggregate."""
    from console_log_parser_spark.sinks.shards import shard_manifest
    return shard_manifest(_t(spark, sf_dir, "documents"), n_shards=16)


def doc_span_dedup(spark, sf_dir):
    """C4-style corpus-level exact span dedup (operators/span_dedup.py):
    every repeated 5-word chunk occurrence is dropped except the
    canonical smallest-(doc_id, cidx) owner; per document the surviving
    text plus chunk/drop counts. Owner election is a map-side-combined
    min(struct) over the md5(chunk) digest key — a chunk repeated 10^9
    times exchanges one row per map task, and the occurrence join is
    AQE-skew-splittable (a window row_number over the chunk key would
    pin hot keys to one task). w=5 gives ~10% duplicate occurrences on
    the synthetic corpus at sf0.01."""
    from console_log_parser_spark.operators.span_dedup import \
        span_dedup_stats
    return (span_dedup_stats(_t(spark, sf_dir, "documents"), w=5)
            .orderBy("doc_id"))


def events_heavy_hitters(spark, sf_dir):
    """Sketch-prefiltered EXACT heavy hitters (operators/sketch.py):
    users with event support > 1/140. Per-partition Misra-Gries
    (width 280, bounded memory) exchanges only <= width candidates per
    partition — never the distinct-key domain — then a broadcast
    semi-join exact recount and an integer threshold make the result
    provably exact under any partitioning. k=140 selects 41/150 users
    at sf0.01 (the synthetic user distribution is near-uniform, so the
    local prefilter is permissive here; at web scale, heavy-tailed
    keys are exactly where the candidate exchange collapses)."""
    from console_log_parser_spark.operators.sketch import frequent_items
    return frequent_items(_t(spark, sf_dir, "events"), "user_id", k=140)


def doc_bpe_pairs(spark, sf_dir):
    """Tokenizer-vocabulary induction, step 0 (operators/vocab.py):
    the top-20 adjacent character pairs within words — the candidate
    set for the first BPE merge. Map-side double explode, one
    partial+final count exchange over a |charset|^2-bounded domain,
    tiny post-limit rank window."""
    from console_log_parser_spark.operators.vocab import bpe_pair_counts
    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=20)


def doc_bpe_learn(spark, sf_dir):
    """BPE merge learning (operators/vocab.py): 6 merges over the
    distinct-word weighted symbol frame; returns the merge table
    (step, left, right, merged, cnt). Each iteration is one agg over
    the persisted word frame + a 1-row argmax collect + a map-side
    literal replace; the DuckDB oracle is the same algorithm unrolled
    as a 6-level CTE chain over a US-joined symbol string, so the
    iterative loop still gets the full rows+schema+hash gate."""
    from console_log_parser_spark.operators.vocab import bpe_learn
    return bpe_learn(_t(spark, sf_dir, "documents"), n_merges=6)


def doc_vocab_coverage(spark, sf_dir):
    """Per-source OOV rate against the corpus's own top-20 word
    vocabulary (operators/vocab.py): (source, n_tokens, n_oov,
    oov_bp). The vocabulary is broadcast; the corpus side is a
    map-side explode + broadcast left join; integer basis points so
    the boundary can never float apart from the oracle. Production K
    is 10^5-10^6 (still MBs, still broadcast); K=20 here because the
    synthetic vocabulary has only 31 distinct words."""
    from console_log_parser_spark.operators.vocab import vocab_oov_stats
    return vocab_oov_stats(_t(spark, sf_dir, "documents"), vocab_k=20)


def doc_lm_score(spark, sf_dir):
    """Bigram-LM document scoring (operators/lm.py) — the integer-
    exact skeleton of the CCNet perplexity filter: per-doc sum of
    floor(log2 corpus_count(bigram)) over the doc's bigram
    occurrences, bits computed as length(bin(c))-1 so no float log
    ever runs. Corpus counts are one partial+final agg; the count
    join back onto the stream is split hot/cold (Zipf head broadcast,
    skew-free tail shuffled); hot_df=30 because the synthetic corpus's
    bigram counts are flat in [1, 48] — both paths must carry rows
    (production hot_df is ~10^4 on a Zipf web corpus)."""
    from console_log_parser_spark.operators.lm import lm_bits_per_doc
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (lm_bits_per_doc(docs, hot_df=30)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_bigrams").cast("long").alias("n_bigrams"),
                    F.col("sum_bits").cast("long").alias("sum_bits"),
                    F.col("avg_bits_x100").cast("long")
                    .alias("avg_bits_x100"))
            .orderBy("doc_id"))


def doc_token_windows(spark, sf_dir):
    """Stride-64 / length-128 sliding context windows per document
    (operators/chunking.py) over n_chars as the pre-tokenized length
    (same stand-in as doc_pack_sequences). Pure map-side transform +
    posexplode — the plan has ZERO exchanges (pinned by
    tests/test_chunking.py); short-doc negative numerators are clamped
    identically under Spark DIV-truncation and DuckDB //-floor (see
    module docstring for the proof)."""
    from console_log_parser_spark.operators.chunking import (
        sliding_windows)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (sliding_windows(docs, win_len=128, stride=64,
                            n_col="n_chars")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "win_id", "win_start", "win_len")
            .orderBy("doc_id", "win_id"))


def events_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix (operators/cohorts.py): users bucketed
    by first-seen day, distinct returning users per (cohort_day,
    day_offset), retention percentage as integer DIV basis against the
    cohort's day-0 size. One user-keyed agg whose partitioning the
    join-back reuses; the matrix itself is days^2-bounded so the day-0
    self-join broadcasts."""
    from console_log_parser_spark.operators.cohorts import (
        retention_matrix)
    ev = _t(spark, sf_dir, "events")
    return retention_matrix(ev).orderBy("cohort_day", "day_offset")


def doc_bpe_encode(spark, sf_dir):
    """BPE learn->APPLY (operators/vocab.py bpe_encode_stats): the 6
    merges learned by doc_bpe_learn are folded into the plan as
    literal left-to-right replaces over each word's US-joined symbol
    string, giving per-doc encoding telemetry (n_words, n_tokens,
    n_saved). Map-side apply + ONE doc-keyed agg; the merge collect is
    the bounded merge table itself. The oracle unrolls the same learn
    chain and applies the merges as nested scalar-subquery replaces."""
    from console_log_parser_spark.operators.vocab import (
        bpe_encode_stats, bpe_learn)
    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe_learn(docs, n_merges=6).collect()]
    return (bpe_encode_stats(docs.select("doc_id", "text"), merges)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_words", "n_tokens", "n_saved")
            .orderBy("doc_id"))


def doc_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup audit (operators/dedup.py): the batch
    doc_id % 5 == 0 lands against the corpus of the remaining docs;
    every batch doc is classified kept / dup_in_batch /
    dup_in_corpus. The corpus side is a distinct digest-only
    projection (the persistent dedup index), both joins key on the
    uniform md5 digest, and the batch-min agg reuses that
    partitioning.

    The synthetic corpus has NO organic exact duplicates at sf0.01,
    so (doc_pii_redact-style) the query PLANTS them from doc_id
    identically in both engines: ids 0/1 mod 20 share 'dupA:<k>'
    across the batch/corpus boundary (-> dup_in_corpus), ids 5/15
    mod 20 share 'dupB:<k>' inside the batch (-> one kept canonical +
    one dup_in_batch); everything else keeps its organically unique
    text. 50 kept / 25 dup_in_corpus / 25 dup_in_batch at sf0.01."""
    from console_log_parser_spark.operators.dedup import (
        incremental_dedup_audit)
    derived = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(
            "CASE WHEN doc_id % 20 <= 1 THEN "
            "concat('dupA:', CAST(doc_id DIV 20 AS STRING)) "
            "WHEN doc_id % 20 IN (5, 15) THEN "
            "concat('dupB:', CAST(doc_id DIV 20 AS STRING)) "
            "ELSE text END").alias("text"))
    new = derived.filter(F.expr("doc_id % 5 = 0"))
    existing = derived.filter(F.expr("doc_id % 5 <> 0"))
    return (incremental_dedup_audit(new, existing)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "status")
            .orderBy("doc_id"))


def doc_length_batches(spark, sf_dir):
    """Length-bucketed training batches (operators/packing.py
    length_bucket_batches): bucket by n_chars DIV 64, rank within the
    bucket via the distributed grouped_rank (range partition +
    per-(partition, bucket) offsets — NO single-task-per-bucket
    window), cut into 32-doc batches, report per-batch padding waste.
    All-integer; the oracle's row_number() OVER (PARTITION BY bucket)
    is the semantics grouped_rank reproduces without the skew."""
    from console_log_parser_spark.operators.packing import (
        length_bucket_batches)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (length_bucket_batches(docs, bucket_width=64, batch_size=32,
                                  n_col="n_chars")
            .select("bucket", "batch_id", "n_docs", "min_len",
                    "max_len", "sum_len", "pad_waste")
            .orderBy("bucket", "batch_id"))


def doc_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality tertiles (operators/lm.py
    quality_buckets over lm_bits_per_doc): exact nearest-rank p33/p66
    cutoffs of the integer LM score from the bounded-domain histogram
    (no corpus sort, no approx-percentile epsilon), broadcast back as
    a 1-row dim; per-bucket doc counts and score ranges."""
    from console_log_parser_spark.operators.lm import (
        lm_bits_per_doc, quality_buckets)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (quality_buckets(lm_bits_per_doc(docs, hot_df=30))
            .orderBy("bucket"))


def doc_winnow_sketch(spark, sf_dir):
    """MOSS winnowing fingerprint sketch (operators/winnow.py,
    Schleimer/Wilkerson/Aiken SIGMOD 2003): per doc, hash every word
    3-gram, slide a window of 4 consecutive hashes and keep each
    window's minimum (tie -> rightmost, via a packed hash*8192 +
    inverted-position integer key, so Spark array_min and DuckDB
    list_min agree bit-for-bit). Entirely map-side — k-gram hashing,
    window minima and sketch stats all happen in one projection, no
    explode/window shuffle; at 100 TB the sketch rides the scan
    partitioning. Columns: n_words, n_grams, sketch_size and the
    min/max selected 48-bit fingerprints as content witnesses."""
    from console_log_parser_spark.operators.winnow import (
        winnow_sketch_stats)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (winnow_sketch_stats(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_words", "n_grams", "sketch_size",
                    "min_fp", "max_fp")
            .orderBy("doc_id"))


def embedding_kmeans(spark, sf_dir):
    """Integer-exact Lloyd k-means (operators/cluster.py): k=10
    centroids seeded from vec_id 0..9, two Lloyd updates, final
    assignment stats. Quantize -> per-iteration map-side assignment
    (centroids folded in as literals via one SQL string — no join, no
    shuffle) -> ONE k x (dim+1)-long partial agg per iteration; the
    only collect is the bounded k x dim centroid table (the IVF-
    codebook precedent). All distances/updates are integer (floor
    division pinned in both engines), so the DuckDB twin below agrees
    bit-for-bit; the numpy cross-check lives in tests/test_cluster.py."""
    from console_log_parser_spark.operators.cluster import kmeans_stats
    emb = _t(spark, sf_dir, "embeddings")
    return (kmeans_stats(emb, k=10, n_iters=2, dim=64)
            .select(F.col("cluster_id").cast("long").alias("cluster_id"),
                    "n_vecs", "inertia", "min_vec_id"))


def doc_winnow_pairs(spark, sf_dir):
    """Near-dup candidate pairs from winnowing sketches
    (operators/winnow.py winnow_candidate_pairs): per-fingerprint doc
    buckets (ONE fp-keyed exchange, no self-join), boilerplate
    fingerprints (df > 8) pruned, bounded map-side pair expansion,
    pairs sharing >= 2 fingerprints. The oracle is the independent
    self-join formulation of the same semantics."""
    from console_log_parser_spark.operators.winnow import (
        winnow_candidate_pairs)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (winnow_candidate_pairs(docs)
            .select(F.col("doc_a").cast("long").alias("doc_a"),
                    F.col("doc_b").cast("long").alias("doc_b"),
                    "n_shared")
            .orderBy("doc_a", "doc_b"))


def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): lineitem x part on the
    part key with the part dim BROADCAST, one conditional-sum agg.
    Exercises the part table (previously the only driver table with
    no query). All-INTEGER verified surface: prices are exact cents
    (round(x*100) — bit-identical per row in both engines), discounts
    exact whole percents, so per-row revenue is cents*(100-pct) and
    the sums are order-independent — no float summation ever reaches
    the hash gate (the lm.py rule; q1's round(,2) floats predate it).
    At 10^12 rows the scaled sum would need DECIMAL(38) — documented,
    not needed at test SF."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = (li.join(F.broadcast(p),
                      li["l_partkey"] == p["p_partkey"])
              .select("p_type", F.expr(
                  "CAST(round(l_extendedprice * 100) AS BIGINT) * "
                  "(100 - CAST(round(l_discount * 100) AS BIGINT))")
                  .alias("eps")))
    return joined.selectExpr(
        "CAST(10000 * sum(CASE WHEN p_type = 'PROMO' THEN eps "
        "ELSE 0L END) DIV sum(eps) AS BIGINT) AS promo_bp",
        "CAST(sum(eps) DIV 100 AS BIGINT) AS revenue_cents",
        "count(*) AS n_items")


def doc_cluster_profile(spark, sf_dir):
    """Semantic-cluster corpus profile (operators/cluster.py
    kmeans_assign x documents): the final k-means assignment joins
    document metadata on doc_id == vec_id (the tables are id-aligned
    by construction) for per-cluster curation telemetry — doc counts,
    total chars, language diversity. The SemDeDup/DsDm-style workflow:
    filter/sample decisions made per semantic cluster. The assignment
    side is a map-side projection (literal centroids), so the join
    costs one AQE-broadcast and the agg is k-bounded."""
    from console_log_parser_spark.operators.cluster import (
        PACK, kmeans_assign)
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang")
    assign = kmeans_assign(emb, k=10, n_iters=2, dim=64)
    return (assign.join(docs, assign["vec_id"] == docs["doc_id"])
            .groupBy((F.col("comb") % PACK).cast("long")
                     .alias("cluster_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.countDistinct("lang").cast("long").alias("n_langs"),
                 F.min("doc_id").alias("min_doc"))
            .orderBy("cluster_id"))


def doc_word_freq_spectrum(spark, sf_dir):
    """Good-Turing frequency-of-frequencies (operators/vocab.py
    word_freq_spectrum): distinct-word counts re-keyed by the count
    value — the counts-of-counts table Good-Turing/Katz smoothing
    consumes and the Zipf-tail sanity check. One word-keyed exchange;
    the second agg's key domain is bounded by the max word frequency."""
    from console_log_parser_spark.operators.vocab import (
        word_freq_spectrum)
    docs = _t(spark, sf_dir, "documents").select("text")
    return word_freq_spectrum(docs)


def events_user_trigrams(spark, sf_dir):
    """Top-20 per-user event-type trigrams (operators/transitions.py
    user_trigrams): both lags ride ONE user-partitioned window (a
    single hash exchange), the count agg is |types|^3-bounded, and the
    top-k plans as TakeOrderedAndProject under the deterministic
    (n DESC, t1, t2, t3) total order."""
    from console_log_parser_spark.operators.transitions import (
        user_trigrams)
    ev = _t(spark, sf_dir, "events")
    return user_trigrams(ev)


def doc_crossdup_minhash(spark, sf_dir):
    """Cross-corpus NEAR-dup at ingest (operators/dedup.py
    crossdup_minhash_pairs): the doc_id % 5 == 0 batch lands against
    the corpus of the rest; LSH bands of the batch equi-join bands of
    the corpus (never corpus x corpus), candidates verified by exact
    cross-side shingle Jaccard >= 1/2 (integer cross-multiplication).
    The corpus has organic near-dups across the split (14 verified
    pairs at sf0.01), so nothing is planted. The oracle replicates the
    full LSH semantics — same fixed permutation constants, band
    layout, and verify filter."""
    from console_log_parser_spark.operators.dedup import (
        crossdup_minhash_pairs)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.expr("doc_id % 5 = 0"))
    corpus = docs.filter(F.expr("doc_id % 5 <> 0"))
    return (crossdup_minhash_pairs(new, corpus)
            .select(F.col("batch_id").cast("long").alias("batch_id"),
                    F.col("corpus_id").cast("long").alias("corpus_id"),
                    F.col("common").cast("long").alias("common"),
                    F.col("size_a").cast("long").alias("size_a"),
                    F.col("size_b").cast("long").alias("size_b"))
            .orderBy("batch_id", "corpus_id"))


def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event stream
    (operators/transitions.py): per-user lag on a user-PARTITIONED
    window (one hash exchange, bounded per-user streams), then a
    |types|^2-bounded partial+final agg with exact n_users
    (approx_count_distinct is the documented 10^12-row swap)."""
    from console_log_parser_spark.operators.transitions import (
        transition_counts)
    ev = _t(spark, sf_dir, "events")
    return (transition_counts(ev)
            .orderBy("prev_type", "next_type"))


# Shared winnowing CTE prefix (k=3, w=4): packed key hash48*8192 +
# greatest(8191 - pos, 0) — list_min(list_slice) mirrors the engine's
# array_min(slice); DuckDB list_slice is 1-based INCLUSIVE so
# [i, i+3] is the 4-hash window, and range(a, b) excludes b. One
# source of truth so the sketch and pairs oracles can never drift.
_WINNOW_CTES = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents
    ), g AS (
        SELECT doc_id, len(ws)::BIGINT AS n_words,
               CASE WHEN len(ws) >= 3 THEN
                 (list_transform(range(1, len(ws) - 1),
                   i -> ((('0x' || substr(md5(ws[i] || ' ' ||
                        ws[i+1] || ' ' || ws[i+2]), 1, 12))
                        ::BIGINT) * 8192
                        + greatest(8191 - (i - 1), 0))))
               ELSE []::BIGINT[] END AS gk
        FROM w
    ), s AS (
        SELECT doc_id, n_words, len(gk)::BIGINT AS n_grams,
               CASE WHEN len(gk) = 0 THEN []::BIGINT[]
               ELSE (list_distinct(list_transform(
                   range(1, greatest(len(gk) - 3, 1) + 1),
                   i -> (list_min(list_slice(gk, i, i + 3))
                         // 8192)))) END AS fps
        FROM g
    )
"""

_TRANSITIONS_ORACLE = """
    WITH l AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*)::BIGINT AS n_trans,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM l WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
"""

# per-user session counts with a 30 min gap: the batch lag()
# sessionizer and its streaming twin compute the same rows
_SESSIONIZE_ORACLE = """
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM (SELECT user_id,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts)
                           > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (SELECT user_id, ts,
                       lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
                FROM events))
    GROUP BY user_id
"""

# users with support > 1/140 (integer cross-multiplication); the
# streaming MG + exact recount must equal the batch set
_HEAVY_HITTERS_ORACLE = """
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
    SELECT user_id, cnt FROM c, n WHERE cnt * 140 > total
"""

# strict-sequence funnel stage times per user: stage k = min stage-k
# ts strictly after stage k-1 (events_funnel aggregates them per
# cohort, stream_funnel returns them per user)
_FUNNEL_CTES = """
    WITH ev AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    w1 AS (
        SELECT *, min(CASE WHEN event_type = 'view' THEN ts
                      END) OVER (PARTITION BY user_id) AS t1
        FROM ev
    ),
    w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click'
                            AND ts > t1 THEN ts
                      END) OVER (PARTITION BY user_id) AS t2
        FROM w1
    ),
    w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase'
                            AND ts > t2 THEN ts
                      END) OVER (PARTITION BY user_id) AS t3
        FROM w2
    )"""

VOCAB_GROWTH_CPS = (4, 8, 16, 32, 64, 96, 128, 256, 1024, 32768)


def doc_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve (operators/vocab.py
    vocab_growth): distinct-word count within the first N tokens of
    the doc_id-ordered corpus stream, at fixed checkpoints chosen
    where the synthetic corpus's 31-word vocabulary actually grows.
    Global token indices come from the distributed two-pass prefix sum
    (no single-task sort); first occurrence per word is one min-agg
    exchange; the curve is one row of conditional sums unpivoted with
    stack."""
    from console_log_parser_spark.operators.vocab import vocab_growth
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth(docs, checkpoints=VOCAB_GROWTH_CPS)


def _vocab_growth_oracle(cps) -> str:
    vals = ",".join(f"({c})" for c in cps)
    return f"""
        WITH d AS (SELECT doc_id,
                          list_filter(string_split(text, ' '),
                                      w -> w <> '') AS ws
                   FROM documents),
        c AS (SELECT doc_id, ws,
                     SUM(len(ws)) OVER (ORDER BY doc_id) - len(ws)
                     AS off FROM d),
        tok AS (SELECT unnest(list_transform(range(1, len(ws) + 1),
                    i -> {{'g': off + i - 1, 'w': ws[i]}})) AS u
                FROM c),
        f AS (SELECT u.w AS w, CAST(MIN(u.g) AS BIGINT) AS first_idx
              FROM tok GROUP BY 1)
        SELECT CAST(cp AS BIGINT) AS checkpoint,
               CAST(least(cp, (SELECT CAST(SUM(len(ws)) AS BIGINT)
                               FROM d)) AS BIGINT) AS tokens_seen,
               (SELECT COUNT(*) FROM f WHERE f.first_idx < cp)
                   AS vocab_size
        FROM (VALUES {vals}) cps(cp) ORDER BY checkpoint
    """


# embedding_kmeans' configuration: seeds, embedding width, packed-argmin
# multiplier (operators/cluster.PACK) and Lloyd iterations
KMEANS_K, KMEANS_DIM, KMEANS_PACK, KMEANS_ITERS = 10, 64, 16, 2


def _kmeans_oracle(final_sql: str | None = None) -> str:
    """DuckDB twin of embedding_kmeans: the same quantize/assign/
    floor-div-update chain as unrolled CTEs (one assign+update pair
    per Lloyd iteration, then the final assignment). ``final_sql``
    overrides the per-cluster stats query over the ``af`` assignment
    CTE (used by doc_cluster_profile's documents join). DuckDB SUM()
    is HUGEINT — every aggregate is cast back to BIGINT (the round-1
    hash-trap rule)."""
    def assign(ctab):
        return (
            f"SELECT v.vec_id, v.q, min((list_sum(list_transform("
            f"range(1, {KMEANS_DIM + 1}), i -> (v.q[i] - c.c[i]) * "
            f"(v.q[i] - c.c[i])))) * {KMEANS_PACK} + c.cid) AS comb "
            f"FROM qv v CROSS JOIN {ctab} c GROUP BY v.vec_id, v.q")

    parts = [
        "WITH qv AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q "
        "FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, q AS c FROM qv "
        f"WHERE vec_id < {KMEANS_K})",
    ]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(f"a{it} AS ({assign(f'c{it - 1}')})")
        parts.append(
            f"u{it} AS (SELECT comb % {KMEANS_PACK} AS cid, t.i AS i, "
            f"CAST(SUM(q[t.i]) AS BIGINT) AS s, COUNT(*) AS n "
            f"FROM a{it} CROSS JOIN range(1, {KMEANS_DIM + 1}) t(i) "
            f"GROUP BY 1, 2)")
        parts.append(
            f"c{it} AS (SELECT cid, list(CASE WHEN s >= 0 THEN s // n "
            f"ELSE -((-s + n - 1) // n) END ORDER BY i) AS c "
            f"FROM u{it} GROUP BY cid)")
    parts.append(f"af AS ({assign(f'c{KMEANS_ITERS}')})")
    if final_sql is None:
        final_sql = (
            f" SELECT CAST(comb % {KMEANS_PACK} AS BIGINT) AS cluster_id, "
            f"COUNT(*)::BIGINT AS n_vecs, "
            f"CAST(SUM(comb // {KMEANS_PACK}) AS BIGINT) AS inertia, "
            f"MIN(vec_id) AS min_vec_id "
            f"FROM af GROUP BY 1 ORDER BY 1")
    return ", ".join(parts) + final_sql




def doc_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (operators/bloom.py): the
    benchmark slice's (doc_id % 25 == 0) word 3-grams inserted into a
    4096-bit filter (k=2 md5 positions per gram) held as 64 packed
    BIGINT (word_idx, bits) rows; the corpus probes it with two
    broadcast LEFT joins on word index plus a string broadcast for
    ground truth — per doc, total / Bloom-hit / exact-hit gram
    occurrences and the filter's false positives. The FP set is pure
    md5 arithmetic, so Spark and DuckDB flag byte-identical rows; no
    false negatives by construction. Only corpus exchange: the
    per-doc count. The filter frame replaces decontam.py's gram-string
    broadcast at ~10 bits/gram — the sketch-broadcast scale path."""
    from console_log_parser_spark.operators.bloom import (
        bloom_contamination)
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return (bloom_contamination(corpus, bench, m_bits=4096)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_grams", "n_bloom", "n_exact", "n_false_pos"))


def doc_dsir_scores(spark, sf_dir):
    """DSIR importance scores (operators/dsir.py, Xie et al. 2023):
    hashed-unigram (256 md5 buckets) floor-log2 likelihood ratios
    between the benchmark slice (doc_id % 25 == 0) and the raw rest;
    per raw doc, sum over word occurrences of bits(target+1) -
    bits(raw+1). Both bucket-count frames are bounded by B and
    broadcast; scoring is map-side; the only exchanges are the
    per-doc sum and the top-20 TakeOrdered (score desc, doc_id)."""
    from console_log_parser_spark.operators.dsir import dsir_scores
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 25 == 0)
    raw = docs.filter(F.col("doc_id") % 25 != 0)
    return (dsir_scores(raw, target, n_buckets=256)
            .orderBy(F.desc("dsir_score"), F.asc("doc_id")).limit(20)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_words", "dsir_score"))


def doc_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup.py, Abbas et al. 2023): integer
    Lloyd k-means cells (k=10, 2 iters — the embedding_kmeans twin),
    then WITHIN-cell pairs only, integer-exact cosine >= 9/10
    (dot^2*100 >= 81*|a|^2*|b|^2, dot > 0), keep-lowest-id survivors.
    Per-cell (n_vecs, n_sim_pairs, n_dups, n_kept). Pair cost is
    bounded by cell size (k controls it) — the SemDeDup premise; one
    exchange co-locates cells, everything else is in-cell."""
    from console_log_parser_spark.operators.semdedup import (
        semdedup_stats)
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup_stats(emb, k=10).select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "n_vecs", "n_sim_pairs", "n_dups", "n_kept")


def embedding_pq_codes(spark, sf_dir):
    """Product-quantization codes (operators/pq.py, Jegou et al.
    2011): 64 dims -> 4 subspaces x 16 deterministic sub-centroids
    (quantized subvectors of vec_id 0..15, the k-means seeding rule);
    each vector becomes 4 argmin codes (packed-key tie-break to the
    lowest code). Encoding is map-side against literal codebooks —
    zero shuffle; at scale this is the 256 B -> 4 B/vector compaction
    that makes exhaustive ADC scans feasible."""
    from console_log_parser_spark.operators.pq import pq_codes
    emb = _t(spark, sf_dir, "embeddings")
    return pq_codes(emb).selectExpr(
        "cast(vec_id as bigint) as vec_id",
        "cast(c0 as bigint) as c0", "cast(c1 as bigint) as c1",
        "cast(c2 as bigint) as c2", "cast(c3 as bigint) as c3")


def ann_pq_top10(spark, sf_dir):
    """PQ/ADC ANN search (operators/pq.py): the query vector's
    (vec_id 0) distance to every sub-centroid is precomputed driver-
    side (4 x 16 ints) and folded in as literal element_at lookups;
    shortlist = top-50 by ADC (ties -> vec_id), exact integer-L2
    re-rank of the shortlist -> top 10. Map-side scan + TakeOrdered;
    only the 50 survivors join back for full vectors."""
    from console_log_parser_spark.operators.pq import ann_pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    return ann_pq_topk(emb, shortlist=50)


def doc_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language (operators/vocab.py): the 6
    merges learned by doc_bpe_learn applied corpus-wide, then token /
    word / char telemetry aggregated per ``lang`` — chars-per-token
    and tokens-per-word in integer x100 fixed point (the fertility
    numbers a multilingual tokenizer report tracks). Map-side encode +
    one doc-keyed agg + one lang-keyed agg."""
    from console_log_parser_spark.operators.vocab import (
        bpe_encode_stats, bpe_learn)
    docs = _t(spark, sf_dir, "documents")
    merges = [(r["left"], r["right"])
              for r in bpe_learn(docs, n_merges=6).collect()]
    stats = bpe_encode_stats(docs.select("doc_id", "text"), merges)
    per = stats.join(docs.select("doc_id", "lang"), "doc_id")
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 (F.sum("n_saved") + F.sum("n_tokens")).cast("long")
                 .alias("n_chars"))
            .select("lang", "n_docs", "n_words", "n_tokens", "n_chars",
                    F.expr("(n_chars * 100) div n_tokens").cast("long")
                    .alias("chars_per_token_x100"),
                    F.expr("(n_tokens * 100) div n_words").cast("long")
                    .alias("tokens_per_word_x100")))


def stream_heavy_hitters(spark, sf_dir):
    """Streaming heavy hitters (streaming/jobs.py
    stateful_heavy_hitters) over a 2-file time-ordered stream: each of
    8 user shards carries one Misra-Gries summary (width 2k = 280
    counters — state bounded regardless of distinct users) across
    micro-batches; after the drain, the final emission per shard is
    the candidate set (the per-shard keep bound mg*2k > n_shard
    deterministically retains every global heavy hitter — proof in
    the job docstring), and a batch broadcast semi-join recount makes
    the answer EXACT, hash-equal to the batch operator's SQL oracle
    (support > 1/140, integer cross-multiplication)."""
    from console_log_parser_spark.streaming import jobs
    sink = _drain_events_stream(spark, sf_dir, jobs.stateful_heavy_hitters)
    # finalize (last emission -> keep bound -> exact recount) lives in
    # jobs.heavy_hitters_finalize so the driver query and the batch-
    # equivalence test pin ONE implementation
    return jobs.heavy_hitters_finalize(sink, _t(spark, sf_dir, "events"))


def _bpe_fertility_oracle(n_merges: int) -> str:
    """DuckDB twin of doc_tokenizer_fertility: the shared encode CTEs
    aggregated per documents.lang instead of per doc."""
    return (_bpe_encode_ctes(n_merges) + """,
        per_lang AS (
            SELECT d.lang AS lang,
                   COUNT(DISTINCT e.doc_id) AS n_docs,
                   COUNT(*) AS n_words,
                   CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
                   CAST(SUM(e.n_chars) AS BIGINT) AS n_chars
            FROM enc e JOIN documents d USING (doc_id) GROUP BY 1
        )
        SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_words AS BIGINT) AS n_words, n_tokens, n_chars,
               CAST((n_chars * 100) // n_tokens AS BIGINT)
                   AS chars_per_token_x100,
               CAST((n_tokens * 100) // n_words AS BIGINT)
                   AS tokens_per_word_x100
        FROM per_lang""")


_SEMDEDUP_FINAL = """, n2 AS (
        SELECT vec_id, comb % 16 AS cluster_id, q,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> q[i] * q[i])) AS BIGINT) AS n2
        FROM af),
    pr AS (
        SELECT a.cluster_id, a.vec_id AS va, b.vec_id AS vb,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> a.q[i] * b.q[i])) AS BIGINT) AS dot,
               a.n2 AS na, b.n2 AS nb
        FROM n2 a JOIN n2 b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id),
    sim AS (SELECT * FROM pr
            WHERE dot > 0 AND dot * dot * 100 >= 81 * na * nb),
    dup AS (SELECT DISTINCT cluster_id, vb FROM sim),
    pairs AS (SELECT cluster_id, COUNT(*) AS n_sim_pairs
              FROM sim GROUP BY 1),
    dups AS (SELECT cluster_id, COUNT(*) AS n_dups FROM dup GROUP BY 1),
    base AS (SELECT cluster_id, COUNT(*) AS n_vecs FROM n2 GROUP BY 1)
    SELECT CAST(base.cluster_id AS BIGINT) AS cluster_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(COALESCE(n_sim_pairs, 0) AS BIGINT) AS n_sim_pairs,
           CAST(COALESCE(n_dups, 0) AS BIGINT) AS n_dups,
           CAST(n_vecs - COALESCE(n_dups, 0) AS BIGINT) AS n_kept
    FROM base LEFT JOIN pairs USING (cluster_id)
              LEFT JOIN dups USING (cluster_id)"""


_CLUSTER_PROFILE_FINAL = """
    SELECT CAST(af.comb % 16 AS BIGINT) AS cluster_id,
           COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           MIN(d.doc_id) AS min_doc
    FROM af JOIN documents d ON d.doc_id = af.vec_id
    GROUP BY 1 ORDER BY 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER is part of the driver contract and is fixed (see the
    # module docstring).
    return {
        "doc_bloom_decontaminate": doc_bloom_decontaminate,
        "doc_dsir_scores": doc_dsir_scores,
        "doc_semdedup": doc_semdedup,
        "embedding_pq_codes": embedding_pq_codes,
        "ann_pq_top10": ann_pq_top10,
        "ann_ivfpq_top10": ann_ivfpq_top10,
        "embedding_knn_join": embedding_knn_join,
        "doc_tokenizer_fertility": doc_tokenizer_fertility,
        "stream_heavy_hitters": stream_heavy_hitters,
        "events_sliding_rates": events_sliding_rates,
        "events_dau_wau": events_dau_wau,
        "events_user_activity": events_user_activity,
        "doc_token_coverage": doc_token_coverage,
        "doc_dedup_survivorship": doc_dedup_survivorship,
        "doc_char_diversity": doc_char_diversity,
        "doc_ngram_novelty": doc_ngram_novelty,
        "pipeline_severity_hist": pipeline_severity_hist,
        "pipeline_sink_summary": pipeline_sink_summary,
        "pipeline_top_commands": pipeline_top_commands,
        "pipeline_seq_histogram": pipeline_seq_histogram,
        "pipeline_typed_events": pipeline_typed_events,
        "pipeline_app_mode": pipeline_app_mode,
        "pipeline_chapters": pipeline_chapters,
        "pipeline_os_commands": pipeline_os_commands,
        "pipeline_source_rollup": pipeline_source_rollup,
        "html_render_stats": html_render_stats,
        "cast_frame_stats": cast_frame_stats,
        "cast_retime_hist": cast_retime_hist,
        "cast_hops": cast_hops,
        "cast_vim_sessions": cast_vim_sessions,
        "doc_token_count": doc_token_count,
        "doc_quality": doc_quality,
        "doc_repetition": doc_repetition,
        "doc_lang_id": doc_lang_id,
        "doc_quality_filter": doc_quality_filter,
        "doc_fingerprint": doc_fingerprint,
        "ann_bruteforce_top10": ann_bruteforce_top10,
        "doc_minhash_dedup": doc_minhash_dedup,
        "doc_minhash_signatures": doc_minhash_signatures,
        "doc_simhash_pairs": doc_simhash_pairs,
        "doc_ngram_jaccard": doc_ngram_jaccard,
        "doc_dedup_clusters": doc_dedup_clusters,
        "doc_winnow_sketch": doc_winnow_sketch,
        "embedding_kmeans": embedding_kmeans,
        "doc_winnow_pairs": doc_winnow_pairs,
        "events_transitions": events_transitions,
        "doc_crossdup_minhash": doc_crossdup_minhash,
        "stream_transitions": stream_transitions,
        "doc_word_freq_spectrum": doc_word_freq_spectrum,
        "events_user_trigrams": events_user_trigrams,
        "doc_cluster_profile": doc_cluster_profile,
        "q14_promo_effect": q14_promo_effect,
        "doc_incremental_dedup": doc_incremental_dedup,
        "doc_length_batches": doc_length_batches,
        "doc_ccnet_buckets": doc_ccnet_buckets,
        "doc_lm_score": doc_lm_score,
        "doc_token_windows": doc_token_windows,
        "events_retention_cohorts": events_retention_cohorts,
        "doc_span_dedup": doc_span_dedup,
        "events_heavy_hitters": events_heavy_hitters,
        "doc_vocab_coverage": doc_vocab_coverage,
        "doc_boilerplate": doc_boilerplate,
        "doc_temperature_mix": doc_temperature_mix,
        "doc_length_stats": doc_length_stats,
        "doc_split_assign": doc_split_assign,
        "events_funnel": events_funnel,
        "doc_inverted_index": doc_inverted_index,
        "doc_keywords": doc_keywords,
        "stream_funnel": stream_funnel,
        "events_rate_outliers": events_rate_outliers,
        "doc_pii_redact": doc_pii_redact,
        "doc_quality_model": doc_quality_model,
        "doc_epoch_shuffle": doc_epoch_shuffle,
        "doc_decontaminate": doc_decontaminate,
        "stream_dedup_exact": stream_dedup_exact,
        "doc_pack_sequences": doc_pack_sequences,
        "events_type_cube": events_type_cube,
        "ann_ivf_top10": ann_ivf_top10,
        "doc_bpe_pairs": doc_bpe_pairs,
        "doc_bpe_learn": doc_bpe_learn,
        "doc_bpe_encode": doc_bpe_encode,
        "doc_vocab_growth": doc_vocab_growth,
        "doc_shard_manifest": doc_shard_manifest,
        "doc_sample_mix": doc_sample_mix,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier": q5_local_supplier,
        "q_top_customers_window": q_top_customers_window,
        "events_severity_hist": events_severity_hist,
        "events_props_extract": events_props_extract,
        "events_sessionize": events_sessionize,
        "events_retime_quantize": events_retime_quantize,
        "events_asof_interleave": events_asof_interleave,
        "events_range_join": events_range_join,
        "events_distinct_sets": events_distinct_sets,
        "cast_poster_base64": cast_poster_base64,
        "stream_sessionize": stream_sessionize,
        "events_hop_renumber": events_hop_renumber,
        "doc_dedup_exact": doc_dedup_exact,
        "doc_dedup_keep_first": doc_dedup_keep_first,
        "ann_lsh_top10": ann_lsh_top10,
        "ann_matmul_top10": ann_matmul_top10,
        "embedding_neardup": embedding_neardup,
        "media_metadata_stats": media_metadata_stats,
        "media_frame_sample": media_frame_sample,
        "media_thumbnails": media_thumbnails,
        "q6_revenue": q6_revenue,
        "q4_order_priority": q4_order_priority,
        "doc_word_topk": doc_word_topk,
        "doc_curation_pipeline": doc_curation_pipeline,
    }


def _bpe_learn_ctes(n_merges: int) -> list[str]:
    """The shared learn chain: CTEs ``w0..w{n-1}`` (evolving symbol
    frames) and ``t1..t{n}`` (the per-step winning merge), used by
    both the learn and the encode oracles. Every CTE is MATERIALIZED:
    DuckDB inlines plain CTEs per reference, and the chain is
    referenced many times (2 scalar subqueries per level in the learn
    finals, 2 per nested replace in the encode) — inlining re-derives
    the whole prefix chain each time (measured: encode 0.2 s
    materialized vs minutes inlined)."""
    # wrapped symbol representation (operators/vocab.py module
    # docstring): US s1 USUS s2 ... US — boundary-unambiguous, so a
    # plain replace is exactly the whole-symbol greedy BPE merge
    ctes = ["""w0 AS MATERIALIZED (
            SELECT chr(31) || array_to_string(list_transform(
                       range(1, length(w) + 1), i -> w[i:i]),
                       chr(31) || chr(31)) || chr(31) AS s,
                   CAST(count(*) AS BIGINT) AS wc
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY 1
        )"""]
    for k in range(1, n_merges + 1):
        ctes.append(
            "p{k} AS MATERIALIZED (SELECT wc,"
            " unnest(list_transform(range(1, len(p)),"
            " i -> {{'l': p[i], 'r': p[i + 1]}})) AS u"
            " FROM (SELECT wc, string_split("
            "substr(s, 2, length(s) - 2), chr(31) || chr(31)) AS p"
            " FROM w{j})"
            " WHERE len(p) >= 2)".format(k=k, j=k - 1))
        ctes.append(
            "c{k} AS MATERIALIZED (SELECT u['l'] AS l, u['r'] AS r,"
            " CAST(sum(wc) AS BIGINT) AS cnt FROM p{k}"
            " GROUP BY 1, 2)".format(k=k))
        ctes.append(
            "t{k} AS MATERIALIZED (SELECT l, r, cnt FROM c{k}"
            " ORDER BY cnt DESC, l, r LIMIT 1)".format(k=k))
        if k < n_merges:
            ctes.append(
                "w{k} AS MATERIALIZED (SELECT replace(s,"
                " (SELECT chr(31) || l || chr(31) || chr(31) || r"
                " || chr(31) FROM t{k}),"
                " (SELECT chr(31) || l || r || chr(31) FROM t{k}))"
                " AS s, wc"
                " FROM w{j})".format(k=k, j=k - 1))
    return ctes


def _bpe_learn_oracle(n_merges: int) -> str:
    """DuckDB twin of operators/vocab.py::bpe_learn — the same
    greedy-merge algorithm unrolled as an ``n_merges``-level CTE chain
    over the US-joined symbol string (replace() is left-to-right
    non-overlapping in both engines, which IS the BPE merge rule), so
    the iterative operator keeps the full rows+schema+hash gate."""
    ctes = _bpe_learn_ctes(n_merges)
    finals = [
        'SELECT CAST({k} AS BIGINT) AS step, l AS "left", r AS "right",'
        " l || r AS merged, cnt FROM t{k}".format(k=k)
        for k in range(1, n_merges + 1)]
    return ("WITH " + ",\n        ".join(ctes) + "\n        "
            + "\n        UNION ALL ".join(finals))


def ann_ivfpq_top10(spark, sf_dir):
    """IVF x PQ — the canonical production ANN composition
    (operators/similarity.py + operators/pq.py): probe the 2 IVF
    cells nearest the query (sqrt-bounded deterministic codebook),
    then rank ONLY the probed cells' members by the PQ/ADC table
    distance (literal element_at lookups), shortlist 50, exact
    integer-L2 re-rank to top 10. At scale the scan touches
    nprobe * n/K vectors' 4-byte codes instead of the corpus's raw
    floats — the IVF-PQ index structure of Jegou et al. expressed as
    two composable DataFrame operators."""
    from console_log_parser_spark.operators import similarity
    from console_log_parser_spark.operators.pq import ann_pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    cands = similarity.ann_ivf_candidates(emb, query_vec_id=0)
    return ann_pq_topk(emb, shortlist=50, candidates=cands)



def events_sliding_rates(spark, sf_dir):
    """Sliding event-time windows (2-day windows advancing 1 day, the
    batch twin of the streaming windowed aggregates): per (window,
    event_type), event count and exact distinct users. Spark plans
    window() as a map-side 2-instance expansion + partial+final hash
    agg — each row lands in exactly win/slide = 2 windows, so the
    exchange carries 2x aggregated groups, never 2x the corpus. The
    window start is epoch-aligned in both engines (Spark window()
    alignment == DuckDB date_trunc('day') - i days), emitted as an
    ISO date string so the compared schema is engine-neutral."""
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "2 days", "1 day")
    return (ev.groupBy(w.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users"))
            .select(F.date_format("w.start", "yyyy-MM-dd")
                    .alias("win_start"),
                    "event_type", "n_events", "n_users")
            .orderBy("win_start", "event_type"))



def embedding_knn_join(spark, sf_dir):
    """Bucketed kNN JOIN (operators/similarity.py knn_join_lsh): the
    top-3 LSH-candidate neighbors for EVERY vector in one job — the
    hard-negative-mining / contrastive-pairs primitive. One bucket
    self-join over the persisted exploded-bucket frame (uniform hash
    keys), exact-cosine rank per query (4dp round, ties -> lowest
    neighbor id). Per-query candidates are bounded by bucket sizes;
    production raises b_bits ~ log2(n) to keep them O(1)."""
    from console_log_parser_spark.operators.similarity import (
        knn_join_lsh)
    return knn_join_lsh(_t(spark, sf_dir, "embeddings"))



def doc_token_coverage(spark, sf_dir):
    """Vocabulary coverage curve (the tokenizer-budget planning stat):
    share of all token occurrences covered by the top-K most frequent
    words, K in (1, 3, 10, 30, 100), in integer basis points. One
    corpus-keyed count agg collapses the stream to the |V|-bounded
    type frame; the rank runs inside a single explicit partition of
    that frame (repartition(1) + spark_partition_id — a real column,
    so Catalyst cannot fold the partition spec away; |V| is
    domain-bounded, ~10^7 types even at web scale, so the one-task
    sort is over MBs, never the corpus); the curve itself is one
    conditional-sum row unpivoted with stack, the vocab_growth
    pattern."""
    docs = _t(spark, sf_dir, "documents")
    counts = (docs
              .select(F.explode(F.split("text", " ")).alias("w"))
              .filter(F.col("w") != "")
              .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    from pyspark.sql import Window
    one = (counts.repartition(1)
           .withColumn("_pid", F.spark_partition_id()))
    rk = (one.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("_pid")
            .orderBy(F.desc("cnt"), F.asc("w")))))
    ks = (1, 3, 10, 30, 100)
    aggs = [F.sum("cnt").alias("total")] + [
        F.coalesce(F.sum(F.when(F.col("rk") <= k, F.col("cnt"))),
                   F.lit(0)).alias(f"c{k}") for k in ks]
    row = rk.agg(*aggs)
    stack = ", ".join(f"{k}L, c{k}" for k in ks)
    return (row.selectExpr(
        "total", f"stack({len(ks)}, {stack}) as (top_k, covered)")
        .select(F.col("top_k").cast("long").alias("top_k"),
                F.col("covered").cast("long").alias("tokens_covered"),
                F.expr("(covered * 10000) div total").cast("long")
                .alias("coverage_bp"))
        .orderBy("top_k"))


def doc_dedup_survivorship(spark, sf_dir):
    """Exact-duplicate survivorship report: duplicate-group size
    histogram with the docs and characters a keep-one dedup removes.
    Same-text docs have identical n_chars, so chars_removed =
    (size-1) * n_chars per group. Two skew-free exchanges: the
    md5-keyed group agg, then the size-keyed histogram (bounded by
    the max group size). Duplicates are PLANTED (every 25th doc twice
    more, identically in both engines — the doc_pii_redact pattern)
    because the synthetic corpus has none; otherwise the sz > 1
    arithmetic would never face the driver's oracle (r5 review
    finding)."""
    base = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars")
    planted = base.filter(F.col("doc_id") % 25 == 0)
    corpus = (base.select("text", "n_chars")
              .union(planted.select("text", "n_chars"))
              .union(planted.select("text", "n_chars")))
    g = (corpus.groupBy(F.md5("text").alias("h"))
         .agg(F.count(F.lit(1)).alias("sz"),
              F.min("n_chars").alias("nc")))
    return (g.groupBy(F.col("sz").cast("long").alias("group_size"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_groups"),
                 F.sum(F.col("sz") - 1).cast("long")
                 .alias("docs_removed"),
                 F.sum((F.col("sz") - 1) * F.col("nc")).cast("long")
                 .alias("chars_removed"))
            .orderBy("group_size"))



def events_user_activity(spark, sf_dir):
    """Per-user activity distribution by event type: exact nearest-
    rank percentiles of events-per-user (operators/stats.py sortless
    histogram machinery — the doc_length_stats twin over the events
    table). Two exchanges: the (type, user) count agg, then the
    |types| x |count-domain|-bounded histogram; no corpus-sized
    sort."""
    from console_log_parser_spark.operators.stats import (
        histogram_percentiles)
    ev = _t(spark, sf_dir, "events")
    per_user = (ev.groupBy("event_type", "user_id")
                .agg(F.count(F.lit(1)).alias("n_ev")))
    out = histogram_percentiles(per_user, "n_ev", "event_type")
    return out.withColumnRenamed("n_docs", "n_users")


def doc_char_diversity(spark, sf_dir):
    """Character-diversity quality signal, integer-exact: per doc,
    total characters, distinct characters, and the floor-log2
    surprisal sum(cnt_c * (bits(n) - bits(cnt_c))) — the corpus-free
    entropy proxy (a low value means one character dominates: the
    repetition/garbage signature). surprisal decomposes to
    n*bits(n) - sum(cnt*bits(cnt)), so the map-side char explode
    (compressed to <= |charset| rows per doc by the partial
    aggregation) feeds ONE per-doc agg — the only exchanges are the
    (doc, char) histogram and that agg. Top-20 by (surprisal desc,
    doc_id) keeps the pin query tiny."""
    docs = _t(spark, sf_dir, "documents")
    ch = (docs.select(
        "doc_id",
        F.explode(F.expr(
            # sequence(1, 0) DESCENDS in Spark (the word_ngrams
            # guard): empty texts must yield an empty array, not two
            # empty-string "characters"
            "CASE WHEN char_length(text) >= 1 THEN "
            "transform(sequence(1, char_length(text)), "
            "i -> substring(text, i, 1)) ELSE array() END"))
        .alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt")))
    # surprisal decomposes: sum(cnt*(bits(n)-bits(cnt))) =
    # n*bits(n) - sum(cnt*bits(cnt)) — so ONE per-doc aggregation
    # suffices, no join-back of the total (r5 review finding)
    joined = (ch.groupBy("doc_id")
              .agg(F.sum("cnt").cast("long").alias("n_chars"),
                   F.count(F.lit(1)).cast("long")
                   .alias("n_distinct_chars"),
                   F.sum(F.col("cnt")
                         * (F.length(F.bin(F.col("cnt"))) - 1))
                   .cast("long").alias("_s"))
              .select("doc_id", "n_chars", "n_distinct_chars",
                      (F.col("n_chars")
                       * (F.length(F.bin(F.col("n_chars"))) - 1)
                       - F.col("_s")).cast("long").alias("surprisal")))
    return (joined
            .orderBy(F.desc("surprisal"), F.asc("doc_id")).limit(20)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_chars", "n_distinct_chars", "surprisal"))



def events_dau_wau(spark, sf_dir):
    """DAU/WAU engagement rollup: per day, distinct daily actives,
    distinct 7-day-window actives (the sliding window ENDING that
    day), and the DAU/WAU stickiness ratio in integer basis points.
    WAU uses window(ts, '7 days', '1 day') — each event feeds 7
    window instances map-side, and the exchange carries aggregated
    (window, user) groups; the final join is day-keyed over the
    |days|-bounded frames. Days are reported where a DAU row exists
    (both engines identically)."""
    ev = _t(spark, sf_dir, "events")
    dau = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
           .agg(F.countDistinct("user_id").cast("long").alias("dau")))
    w = F.window("ts", "7 days", "1 day")
    wau = (ev.groupBy(w.alias("w"))
           .agg(F.countDistinct("user_id").cast("long").alias("wau"))
           .select(F.date_format(
               F.date_sub(F.to_date(F.col("w.end")), 1),
               "yyyy-MM-dd").alias("day"), "wau"))
    return (dau.join(wau, "day")
            .select("day", "dau", "wau",
                    F.expr("(dau * 10000) div wau").cast("long")
                    .alias("stickiness_bp"))
            .orderBy("day"))



def doc_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty — the corpus-diversity-over-time
    curation stat (what share of each new document's content has never
    appeared in any earlier document?): for every doc, the count of
    its DISTINCT word trigrams, how many of those have their
    corpus-wide FIRST occurrence (minimum doc_id) in this very doc,
    and the novel share in integer basis points. Docs with fewer than
    3 words have no trigrams and are absent (both engines).

    Scale shape: reuses the minhash family's trigram builder —
    construction + per-doc dedup run MAP-SIDE inside array expressions
    (``operators/dedup.py`` shingles, no explode-before-distinct), the
    only wide exchange is keyed on the 60-bit md5 fingerprint (longs
    on the wire, partial min map-side), and the join back is equi on
    the same fingerprint so AQE can split hot boilerplate trigrams.
    The reference has no novelty stat; this extends its distinct-sets
    reporting (extractors.py OSC/command sets) to first-seen
    attribution."""
    from console_log_parser_spark.operators.dedup import (
        shingle_hash, shingles)
    docs = _t(spark, sf_dir, "documents")
    ex = (shingles(docs)
          .select("doc_id",
                  shingle_hash(F.col("shingle")).alias("fp")))
    firsts = ex.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    per = (ex.join(firsts, "fp")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_tri"),
                F.sum(F.when(F.col("doc_id") == F.col("first_doc"),
                             F.lit(1)).otherwise(F.lit(0)))
                .alias("n_novel")))
    return (per.select(
        "doc_id",
        F.col("n_tri").cast("long").alias("n_tri"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.expr("(n_novel * 10000) div n_tri").cast("long")
        .alias("novelty_bp"))
        .orderBy("doc_id"))



def _bpe_encode_ctes(n_merges: int) -> str:
    """The shared learn chain + per-word encode CTEs: boundary-wrapped
    symbol strings, ``n_merges`` NESTED scalar-subquery replaces
    (learning order = application order, left-to-right non-overlapping
    in both engines), ending in an ``enc(doc_id, n_chars, n_tok)`` CTE.
    ONE copy of the tricky chr(31) sentinel idiom — doc_bpe_encode's
    and doc_tokenizer_fertility's oracles both build on it (r5 review:
    two hand-maintained copies of this fragment WILL desynchronize)."""
    ctes = _bpe_learn_ctes(n_merges)
    enc = ("chr(31) || array_to_string(list_transform("
           "range(1, length(w) + 1), "
           "i -> w[i:i]), chr(31) || chr(31)) || chr(31)")
    for k in range(1, n_merges + 1):
        enc = ("replace({e}, (SELECT chr(31) || l || chr(31) || chr(31)"
               " || r || chr(31) FROM t{k}), "
               "(SELECT chr(31) || l || r || chr(31) FROM t{k}))"
               .format(e=enc, k=k))
    return ("WITH " + ",\n        ".join(ctes) + """,
        docw AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents) WHERE w <> ''
        ),
        enc AS (
            SELECT doc_id, length(w) AS n_chars,
                   len(string_split(""" + enc + """,
                       chr(31) || chr(31))) AS n_tok
            FROM docw
        )""")


def _bpe_encode_oracle(n_merges: int) -> str:
    """DuckDB twin of doc_bpe_encode: the shared encode CTEs +
    per-doc token telemetry."""
    return (_bpe_encode_ctes(n_merges) + """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) - sum(n_tok) AS BIGINT) AS n_saved
        FROM enc GROUP BY 1 ORDER BY doc_id""")


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB oracle per query. ``sf_dir`` selects the dataset the
    literal-VALUES oracles (pipeline_*/html_*) are generated for; the
    driver's contract pins correctness runs at sf0.01, so that is the
    default; a query at SF x must be compared against the oracles
    generated for SF x."""
    sf = sf_dir or "/root/testdata/sf0.01"
    from console_log_parser_spark import oracle_html, oracle_pipeline
    from console_log_parser_spark.operators import multimodal, similarity
    return {
        # winnowing sketch: identical packed-integer window-min math —
        # hash48*8192 + clamped inverted pos — shared CTE prefix in
        # _WINNOW_CTES (one source of truth for the packing/clamp/
        # window convention, the _bpe_learn_ctes/_kmeans_oracle rule)
        "doc_winnow_sketch": _WINNOW_CTES + """
            SELECT doc_id, n_words, n_grams,
                   len(fps)::BIGINT AS sketch_size,
                   CASE WHEN len(fps) = 0 THEN NULL
                        ELSE list_min(fps) END AS min_fp,
                   CASE WHEN len(fps) = 0 THEN NULL
                        ELSE list_max(fps) END AS max_fp
            FROM s ORDER BY doc_id
        """,
        # unrolled Lloyd chain, integer throughout; see _kmeans_oracle
        "embedding_kmeans": _kmeans_oracle(),
        # same Lloyd chain, final joins documents on doc_id == vec_id
        "doc_cluster_profile": _kmeans_oracle(_CLUSTER_PROFILE_FINAL),
        # integer-cent arithmetic end to end — no float sum reaches
        # the hash gate; DuckDB // == Spark DIV on these non-negatives
        "q14_promo_effect": """
            WITH j AS (
                SELECT p_type,
                       CAST(round(l_extendedprice * 100) AS BIGINT) *
                       (100 - CAST(round(l_discount * 100) AS BIGINT))
                           AS eps
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-07-01'
            )
            SELECT CAST(10000 * sum(CASE WHEN p_type = 'PROMO'
                            THEN eps ELSE 0 END) // sum(eps)
                        AS BIGINT) AS promo_bp,
                   CAST(sum(eps) // 100 AS BIGINT) AS revenue_cents,
                   count(*) AS n_items
            FROM j
        """,
        # Heaps-law growth curve: window prefix sum + struct unnest
        "doc_vocab_growth": _vocab_growth_oracle(VOCAB_GROWTH_CPS),
        # winnow pairs: independent SELF-JOIN formulation of the
        # bucket-expansion semantics (df-capped, >= 2 shared fps);
        # same shared CTE prefix as the sketch oracle
        "doc_winnow_pairs": _WINNOW_CTES + """
            , e AS (
                SELECT doc_id, unnest(fps) AS fp FROM s
            ), hot AS (
                SELECT fp FROM e GROUP BY fp
                HAVING COUNT(*) BETWEEN 2 AND 8
            ), ke AS (
                SELECT e.doc_id, e.fp FROM e JOIN hot USING (fp)
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*)::BIGINT AS n_shared
            FROM ke a JOIN ke b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ORDER BY 1, 2
        """,
        # cross-corpus LSH: same perms/bands as doc_minhash_dedup,
        # batch bands joined to corpus bands, exact Jaccard verify
        "doc_crossdup_minhash": """
            WITH docs AS (SELECT doc_id, text FROM documents),
            words AS (SELECT doc_id, doc_id % 5 = 0 AS is_new,
                             string_split(text, ' ') AS ws FROM docs),
            sh AS (SELECT doc_id, is_new, unnest(list_distinct(
                       [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, greatest(len(ws) - 1, 1))]))
                       AS s
                   FROM words),
            h AS (SELECT doc_id, is_new,
                         ('0x' || substr(md5(s), 1, 15))::BIGINT
                             % 2147483647 AS hv
                  FROM sh),
            perms(j, a, b) AS (VALUES
                (0, 1203077387, 528034983), (1, 885961883, 1723930551),
                (2, 1817469788, 1236687677), (3, 602982498, 1106438810),
                (4, 2006519551, 927473217), (5, 460128514, 1597226340),
                (6, 1106819081, 342973211), (7, 1378749216, 79380292)),
            mins AS (SELECT doc_id, is_new, j,
                            min((a * hv + b) % 2147483647) AS mv
                     FROM h CROSS JOIN perms GROUP BY 1, 2, 3),
            sigs AS (SELECT doc_id, is_new,
                            array_agg(mv ORDER BY j) AS sig
                     FROM mins GROUP BY 1, 2),
            bands AS (SELECT doc_id, is_new,
                             t.b || ':' || sig[t.b*2+1] || '_'
                                 || sig[t.b*2+2] AS bucket
                      FROM sigs CROSS JOIN
                           (SELECT unnest(range(4)) AS b) t),
            cand AS (SELECT DISTINCT x.doc_id AS batch_id,
                            y.doc_id AS corpus_id
                     FROM bands x JOIN bands y ON x.bucket = y.bucket
                     WHERE x.is_new AND NOT y.is_new),
            sizes AS (SELECT doc_id, count(DISTINCT s) AS n FROM sh
                      GROUP BY doc_id),
            cmn AS (SELECT batch_id, corpus_id, count(*) AS common
                    FROM cand
                    JOIN sh sa ON sa.doc_id = cand.batch_id
                    JOIN sh sb ON sb.doc_id = cand.corpus_id
                              AND sb.s = sa.s
                    GROUP BY 1, 2)
            SELECT batch_id, corpus_id,
                   CAST(common AS BIGINT) AS common,
                   CAST(sa.n AS BIGINT) AS size_a,
                   CAST(sb.n AS BIGINT) AS size_b
            FROM cmn JOIN sizes sa ON sa.doc_id = cmn.batch_id
                     JOIN sizes sb ON sb.doc_id = cmn.corpus_id
            WHERE 2 * common >= (sa.n + sb.n - common)
            ORDER BY batch_id, corpus_id
        """,
        # per-user lag window, identical ordering key in both engines
        "events_transitions": _TRANSITIONS_ORACLE,
        # the streaming operator must equal the batch operator on a
        # time-ordered stream, so it shares the batch oracle — a
        # stateful streaming query under the FULL value-hash check
        "stream_transitions": _TRANSITIONS_ORACLE,
        "doc_word_freq_spectrum": """
            WITH c AS (
                SELECT w, COUNT(*) AS freq
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents)
                WHERE w <> '' GROUP BY w
            )
            SELECT CAST(freq AS BIGINT) AS freq,
                   COUNT(*)::BIGINT AS n_words
            FROM c GROUP BY 1 ORDER BY 1
        """,
        "events_user_trigrams": """
            WITH l AS (
                SELECT user_id, event_type AS t3,
                       lag(event_type, 1) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS t2,
                       lag(event_type, 2) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS t1
                FROM events
            )
            SELECT t1, t2, t3, COUNT(*)::BIGINT AS n
            FROM l WHERE t1 IS NOT NULL
            GROUP BY 1, 2, 3
            ORDER BY n DESC, t1, t2, t3 LIMIT 20
        """,
        # learn the 6 merges via the shared CTE chain, then apply them
        # as nested scalar-subquery replaces per document word
        "doc_bpe_encode": _bpe_encode_oracle(6),
        # incremental ingest: batch = doc_id % 5 = 0 against the
        # corpus of the rest; corpus-match outranks batch
        # canonicality; duplicates PLANTED from doc_id (no organic
        # exact dups in the corpus — see the query docstring)
        "doc_incremental_dedup": """
            WITH derived AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 20 <= 1
                            THEN concat('dupA:',
                                 CAST(doc_id // 20 AS VARCHAR))
                            WHEN doc_id % 20 IN (5, 15)
                            THEN concat('dupB:',
                                 CAST(doc_id // 20 AS VARCHAR))
                            ELSE text END AS text
                FROM documents
            ),
            newb AS (
                SELECT doc_id, md5(text) AS dg
                FROM derived WHERE doc_id % 5 = 0
            ),
            corp AS (
                SELECT DISTINCT md5(text) AS dg
                FROM derived WHERE doc_id % 5 <> 0
            ),
            bmin AS (SELECT dg, min(doc_id) AS first_id
                     FROM newb GROUP BY 1)
            SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
                   CASE WHEN c.dg IS NOT NULL THEN 'dup_in_corpus'
                        WHEN n.doc_id <> b.first_id THEN 'dup_in_batch'
                        ELSE 'kept' END AS status
            FROM newb n
            LEFT JOIN corp c USING (dg)
            JOIN bmin b USING (dg)
            ORDER BY doc_id
        """,
        # length-bucketed batches: md5 of the decimal doc_id renders
        # identically in both engines; hex keys compare bytewise under
        # binary collation == Spark string order
        "doc_length_batches": """
            WITH k AS (
                SELECT doc_id, n_chars,
                       md5(CAST(doc_id AS VARCHAR)) AS okey,
                       n_chars // 64 AS bucket
                FROM documents
            ),
            r AS (
                SELECT bucket, n_chars,
                       row_number() OVER (PARTITION BY bucket
                                          ORDER BY okey, doc_id) AS rn
                FROM k
            )
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(n_chars) AS BIGINT) AS min_len,
                   CAST(max(n_chars) AS BIGINT) AS max_len,
                   CAST(sum(n_chars) AS BIGINT) AS sum_len,
                   CAST(count(*) * max(n_chars) - sum(n_chars)
                        AS BIGINT) AS pad_waste
            FROM r GROUP BY 1, 2 ORDER BY bucket, batch_id
        """,
        # CCNet tertiles: the lm score chain + the bounded-domain
        # nearest-rank percentile SQL (doc_length_stats pattern) as
        # the p33/p66 cutoffs; ties sit with the lower bucket
        "doc_ccnet_buckets": """
            WITH wl AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS w
                FROM documents
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i+1])) AS bigram
                FROM wl WHERE len(w) >= 2
            ),
            freqs AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
            scored AS (
                SELECT b.doc_id,
                       CAST(sum(length(format('{:b}', f.c)) - 1)
                            AS BIGINT) AS sum_bits,
                       CAST((sum(length(format('{:b}', f.c)) - 1)
                             * 100) // count(*) AS BIGINT) AS score
                FROM bg b JOIN freqs f USING (bigram)
                GROUP BY b.doc_id
            ),
            hist AS (SELECT score AS v, count(*) AS cnt
                     FROM scored GROUP BY 1),
            cum AS (
                SELECT v, cnt,
                       sum(cnt) OVER (ORDER BY v) AS cum,
                       sum(cnt) OVER () AS n
                FROM hist
            ),
            cuts AS (
                SELECT min(CASE WHEN cum >= (33 * n + 99) // 100
                           THEN v END) AS lo,
                       min(CASE WHEN cum >= (66 * n + 99) // 100
                           THEN v END) AS hi
                FROM cum
            )
            SELECT CASE WHEN s.score <= c.lo THEN 'tail'
                        WHEN s.score <= c.hi THEN 'middle'
                        ELSE 'head' END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(s.score) AS BIGINT) AS min_score,
                   CAST(max(s.score) AS BIGINT) AS max_score,
                   CAST(sum(s.sum_bits) AS BIGINT) AS sum_bits
            FROM scored s CROSS JOIN cuts c
            GROUP BY 1 ORDER BY bucket
        """,
        # bigram-LM scoring: bits = length of the binary digit string
        # minus 1 == floor(log2 c) with NO float log; sums cast to
        # BIGINT (DuckDB sum() is HUGEINT); inner-join semantics drop
        # <2-word docs in both engines
        "doc_lm_score": """
            WITH wl AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS w
                FROM documents
            ),
            bg AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i+1])) AS bigram
                FROM wl WHERE len(w) >= 2
            ),
            freqs AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1)
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(length(format('{:b}', f.c)) - 1)
                        AS BIGINT) AS sum_bits,
                   CAST((sum(length(format('{:b}', f.c)) - 1) * 100)
                        // count(*) AS BIGINT) AS avg_bits_x100
            FROM bg b JOIN freqs f USING (bigram)
            GROUP BY b.doc_id ORDER BY doc_id
        """,
        # stride-64/len-128 sliding windows; (n-128+63)//64 can be
        # negative (floor vs trunc divide), greatest(0,) clamps both
        # engines to the same value — see operators/chunking.py
        "doc_token_windows": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(i AS BIGINT) AS win_id,
                   CAST(i * 64 AS BIGINT) AS win_start,
                   CAST(least(128, n_chars - i * 64) AS BIGINT)
                       AS win_len
            FROM (
                SELECT doc_id, n_chars,
                       unnest(range(0, 1 + greatest(0,
                           (n_chars - 128 + 63) // 64))) AS i
                FROM documents WHERE n_chars >= 1
            )
            ORDER BY doc_id, win_id
        """,
        # retention matrix: DATE-DATE is integer days in DuckDB ==
        # Spark datediff; cohort_day emitted as ISO string so the
        # compared schema is engine-neutral
        "events_retention_cohorts": """
            WITH days AS (
                SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
                FROM events
            ),
            firsts AS (SELECT u, min(day) AS cohort_day
                       FROM days GROUP BY u),
            cells AS (
                SELECT cohort_day, day - cohort_day AS day_offset,
                       count(*) AS n_users
                FROM days JOIN firsts USING (u)
                GROUP BY 1, 2
            ),
            day0 AS (SELECT cohort_day, n_users AS cohort_size
                     FROM cells WHERE day_offset = 0)
            SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
                   CAST(c.day_offset AS BIGINT) AS day_offset,
                   CAST(c.n_users AS BIGINT) AS n_users,
                   CAST((c.n_users * 100) // d.cohort_size AS BIGINT)
                       AS pct_x100
            FROM cells c JOIN day0 d USING (cohort_day)
            ORDER BY 1, 2
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 2) AS sum_charge,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q6_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1999-03-15'
              AND l_shipdate > TIMESTAMP '1999-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "q_top_customers_window": """
            WITH totals AS (
                SELECT c_mktsegment, c_custkey,
                       round(sum(o_totalprice), 2) AS total_spent,
                       count(*) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment, c_custkey
            )
            SELECT c_mktsegment, c_custkey, total_spent, n_orders, rnk
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY c_mktsegment
                      ORDER BY total_spent DESC, c_custkey ASC) AS rnk
                  FROM totals)
            WHERE rnk <= 3
        """,
        "events_severity_hist": """
            SELECT event_type AS severity, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
        """,
        "events_props_extract": """
            SELECT event_type,
                   count(k) AS n_k,
                   CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k
            FROM (SELECT event_type,
                         CAST(nullif(regexp_extract(props,
                              '"k": ([0-9]+)', 1), '') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type
        """,
        "events_sessionize": _SESSIONIZE_ORACLE,
        "events_retime_quantize": """
            SELECT CASE WHEN dt < 60000000 THEN 'lt_1m'
                        WHEN dt < 300000000 THEN 'lt_5m'
                        WHEN dt < 900000000 THEN 'lt_15m'
                        WHEN dt < 3600000000 THEN 'lt_1h'
                        ELSE 'ge_1h' END AS bucket,
                   count(*) AS n
            FROM (SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id)) AS dt
                  FROM events)
            WHERE dt IS NOT NULL
            GROUP BY 1
        """,
        "events_asof_interleave": """
            SELECT CAST(sum(CASE WHEN prev_side IS NOT NULL
                             AND side <> prev_side THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hops,
                   CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_left,
                   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_right
            FROM (SELECT event_id % 2 AS side,
                         lag(event_id % 2) OVER (ORDER BY ts, event_id)
                             AS prev_side
                  FROM events)
        """,
        "events_range_join": """
            SELECT band, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events
            JOIN (VALUES ('low', 0, 10), ('mid', 10, 100),
                         ('high', 100, 1000000000)) b(band, lo, hi)
              ON value >= lo AND value < hi
            GROUP BY band
        """,
        "events_distinct_sets": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(DISTINCT props) AS n_props,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "cast_poster_base64": """
            SELECT doc_id,
                   base64(encode('frame 0 of doc ' || doc_id
                                 || chr(13) || chr(10))) AS payload_b64,
                   round(CASE WHEN max_ts > 2.0 THEN max_ts - 1.0
                              ELSE max_ts - 0.4 END, 4) AS poster_ts
            FROM (SELECT doc_id,
                         round((4 + doc_id % 20) * (doc_id % 100 + 1)
                               * CAST(0.05 AS DOUBLE), 4) AS max_ts
                  FROM documents)
        """,
        "cast_frame_stats": """
            SELECT count(*) AS n_casts,
                   CAST(sum(5 + doc_id % 20) AS BIGINT) AS total_frames,
                   round(sum(round((4 + doc_id % 20)
                       * (doc_id % 100 + 1)
                       * CAST(0.05 AS DOUBLE), 4)), 2) AS sum_max_ts,
                   CAST(sum(80 + doc_id % 40) AS BIGINT) AS sum_width
            FROM documents
        """,
        "cast_retime_hist": """
            SELECT bucket, CAST(sum(n) AS BIGINT) AS n FROM (
                SELECT CASE
                         WHEN s >= 4.0 THEN CAST(4.0 AS DOUBLE)
                         WHEN s >= 2.0 THEN CAST(2.0 AS DOUBLE)
                         WHEN s >= 1.0 THEN CAST(1.0 AS DOUBLE)
                         WHEN s >= 0.5 THEN CAST(0.5 AS DOUBLE)
                         WHEN s >= 0.3 THEN CAST(0.3 AS DOUBLE)
                         WHEN s >= 0.18 THEN CAST(0.18 AS DOUBLE)
                         WHEN s >= 0.1 THEN CAST(0.1 AS DOUBLE)
                         ELSE CAST(0.03 AS DOUBLE) END AS bucket,
                       (4 + doc_id % 20) AS n
                FROM (SELECT doc_id,
                             (doc_id % 100 + 1) * CAST(0.05 AS DOUBLE)
                                 AS s
                      FROM documents))
            GROUP BY bucket
        """,
        "cast_hops": """
            WITH fr AS (
                SELECT d.doc_id,
                       CASE WHEN d.doc_id % 2 = 0
                            THEN 'left' ELSE 'right' END AS side,
                       round(t.i * (d.doc_id % 100 + 1)
                             * CAST(0.05 AS DOUBLE), 4) AS ts
                FROM documents d
                CROSS JOIN range(0, 25) t(i)
                WHERE t.i < 5 + d.doc_id % 20
            ),
            flagged AS (
                SELECT side,
                       lag(side) OVER (ORDER BY ts, side, doc_id)
                           AS prev_side
                FROM fr)
            SELECT CAST(sum(CASE WHEN prev_side IS NOT NULL
                             AND side <> prev_side
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hops,
                   CAST(sum(CASE WHEN side = 'left' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_left,
                   CAST(sum(CASE WHEN side = 'right' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_right
            FROM flagged
        """,
        "cast_vim_sessions": """
            WITH f AS (
                SELECT d.doc_id, t.i,
                       round(t.i * (d.doc_id % 100 + 1)
                             * CAST(0.05 AS DOUBLE), 4) AS ts,
                       least(5 + d.doc_id % 20 - 1,
                             3 + d.doc_id % 3) AS e
                FROM documents d CROSS JOIN range(0, 25) t(i)
                WHERE d.doc_id % 4 = 2 AND t.i < 5 + d.doc_id % 20
            ),
            sess AS (SELECT doc_id, i, ts FROM f
                     WHERE i BETWEEN 1 AND e),
            dts AS (SELECT doc_id,
                           round(ts - coalesce(lag(ts) OVER (
                               PARTITION BY doc_id ORDER BY i), ts), 4)
                               AS dt
                    FROM sess),
            qs AS (SELECT doc_id,
                          CAST(round(10000 * CASE
                               WHEN dt >= 4.0 THEN 4.0
                               WHEN dt >= 2.0 THEN 2.0
                               WHEN dt >= 1.0 THEN 1.0
                               WHEN dt >= 0.5 THEN 0.5
                               WHEN dt >= 0.3 THEN 0.3
                               WHEN dt >= 0.18 THEN 0.18
                               WHEN dt >= 0.1 THEN 0.1
                               WHEN dt >= 0.03 THEN 0.03
                               ELSE dt END) AS BIGINT) AS qi
                   FROM dts),
            per AS (SELECT doc_id, count(*) AS n_frames,
                           CAST(sum(qi) AS BIGINT) AS dur
                    FROM qs GROUP BY doc_id)
            SELECT count(*) AS n_sessions,
                   count(DISTINCT doc_id) AS n_docs,
                   CAST(sum(n_frames) AS BIGINT) AS sum_frames,
                   CAST(sum(dur) AS BIGINT) AS sum_duration_q4,
                   max(dur) AS max_duration_q4
            FROM per
        """,
        "events_hop_renumber": """
            WITH cmds AS (
                SELECT user_id,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS cmd_no,
                       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                           AS sup
                FROM events),
            numbered AS (
                SELECT user_id, cmd_no,
                       cmd_no - sum(sup) OVER (PARTITION BY user_id
                           ORDER BY cmd_no ROWS UNBOUNDED PRECEDING)
                           AS renumbered
                FROM cmds)
            SELECT cmd_no, count(*) AS n_users,
                   CAST(sum(renumbered) AS BIGINT) AS sum_renumbered
            FROM numbered
            WHERE cmd_no IN (3, 10, 25)
            GROUP BY cmd_no
        """,
        "stream_sessionize": _SESSIONIZE_ORACLE,
        "doc_dedup_exact": """
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_distinct,
                   count(*) - count(DISTINCT md5(text)) AS n_dup_docs
            FROM documents GROUP BY source
        """,
        "doc_fingerprint": """
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT md5(lower(
                       regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS n_fingerprints
            FROM documents GROUP BY source
        """,
        "doc_token_count": """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS sum_ws_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                       '\\w+|[^\\w\\s]'))) AS BIGINT) AS sum_bpe_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "doc_quality": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS sum_words,
                   CAST(sum(len(regexp_extract_all(text, '[^\\w\\s]')))
                        AS BIGINT) AS sum_punct,
                   CAST(sum(len(regexp_extract_all(text,
                       '\\b(the|a)\\b'))) AS BIGINT) AS sum_stop
            FROM documents GROUP BY lang
        """,
        "doc_lang_id": """
            SELECT lang, predicted, count(*) AS n
            FROM (SELECT lang,
                         CASE WHEN len(regexp_extract_all(text,
                                  '\\b(the|a|and|of|to|in)\\b')) * 1000
                               > len(string_split(text, ' ')) * 40
                              THEN 'en' ELSE 'unk' END AS predicted
                  FROM documents)
            GROUP BY lang, predicted
        """,
        "doc_quality_filter": """
            SELECT lang, verdict, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM (SELECT lang, n_chars,
                         CASE WHEN nw < 40 THEN 'too_short'
                              WHEN nw > 100000 THEN 'too_long'
                              WHEN letters < 3 * nw THEN 'short_words'
                              WHEN letters > 10 * nw THEN 'long_words'
                              WHEN ns * 100 < nw THEN 'low_stopword'
                              ELSE 'keep' END AS verdict
                  FROM (SELECT lang, n_chars,
                               len(string_split(text, ' ')) AS nw,
                               n_chars - len(string_split(text, ' '))
                                   + 1 AS letters,
                               len(regexp_extract_all(text,
                                   '\\b(the|a|and|of|to|in)\\b')) AS ns
                        FROM documents))
            GROUP BY lang, verdict
        """,
        "doc_repetition": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum((100 * max_cnt) // total) AS BIGINT)
                       AS sum_dominance_pct,
                   CAST(sum((100 * n_distinct) // total) AS BIGINT)
                       AS sum_distinct_pct,
                   CAST(max((100 * max_cnt) // total) AS BIGINT)
                       AS max_dominance_pct
            FROM (SELECT doc_id, lang,
                         sum(cnt) AS total, max(cnt) AS max_cnt,
                         count(*) AS n_distinct
                  FROM (SELECT doc_id, lang, w, count(*) AS cnt
                        FROM (SELECT doc_id, lang,
                                     unnest(string_split(text, ' ')) AS w
                              FROM documents)
                        GROUP BY doc_id, lang, w)
                  GROUP BY doc_id, lang)
            GROUP BY lang
        """,
        "doc_ngram_jaccard": """
            WITH sh AS (
                SELECT doc_id, unnest(list_distinct(
                    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in range(1, greatest(len(ws) - 1, 1))])) AS s
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents)
            ),
            sizes AS (SELECT doc_id, count(DISTINCT s) AS n FROM sh
                      GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS common
                FROM sh a JOIN sh b
                  ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b, common,
                   sa.n AS size_a, sb.n AS size_b
            FROM pairs
            JOIN sizes sa ON pairs.doc_a = sa.doc_id
            JOIN sizes sb ON pairs.doc_b = sb.doc_id
            WHERE common * 2 >= sa.n + sb.n - common
        """,
        "doc_dedup_keep_first": """
            SELECT source, count(*) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
            FROM (SELECT source, doc_id,
                         row_number() OVER (PARTITION BY md5(text)
                             ORDER BY doc_id) AS rn
                  FROM documents)
            WHERE rn = 1 GROUP BY source
        """,
        "doc_dedup_clusters": """
            WITH RECURSIVE
            words AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                       [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, greatest(len(ws) - 1, 1))])) AS s
                   FROM words),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(s), 1, 15))::BIGINT
                             % 2147483647 AS hv
                  FROM sh),
            perms(j, a, b) AS (VALUES
                (0, 1203077387, 528034983), (1, 885961883, 1723930551),
                (2, 1817469788, 1236687677), (3, 602982498, 1106438810),
                (4, 2006519551, 927473217), (5, 460128514, 1597226340),
                (6, 1106819081, 342973211), (7, 1378749216, 79380292)),
            mins AS (SELECT doc_id, j,
                            min((a * hv + b) % 2147483647) AS mv
                     FROM h CROSS JOIN perms GROUP BY doc_id, j),
            sigs AS (SELECT doc_id, array_agg(mv ORDER BY j) AS sig
                     FROM mins GROUP BY doc_id),
            bands AS (SELECT doc_id,
                             t.b || ':' || sig[t.b*2+1] || '_'
                                 || sig[t.b*2+2] AS bucket
                      FROM sigs CROSS JOIN
                           (SELECT unnest(range(4)) AS b) t),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                            y.doc_id AS doc_b
                     FROM bands x JOIN bands y
                       ON x.bucket = y.bucket AND x.doc_id < y.doc_id),
            sizes AS (SELECT doc_id, count(DISTINCT s) AS n FROM sh
                      GROUP BY doc_id),
            cmn AS (SELECT doc_a, doc_b, count(*) AS common
                    FROM cand
                    JOIN sh sa ON sa.doc_id = cand.doc_a
                    JOIN sh sb ON sb.doc_id = cand.doc_b
                              AND sb.s = sa.s
                    GROUP BY doc_a, doc_b),
            pairs AS (SELECT doc_a, doc_b FROM cmn
                      JOIN sizes za ON cmn.doc_a = za.doc_id
                      JOIN sizes zb ON cmn.doc_b = zb.doc_id
                      WHERE common * 2 >= za.n + zb.n - common),
            edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                      UNION ALL
                      SELECT doc_b, doc_a FROM pairs),
            reach(node, label) AS (
                SELECT u, u FROM edges
                UNION
                SELECT e.u, r.label
                FROM edges e JOIN reach r ON r.node = e.v)
            SELECT node AS doc_id, min(label) AS label
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        "doc_word_topk": """
            SELECT lang, w, n, rank FROM (
                SELECT lang, w, n,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY n DESC, w ASC) AS rank
                FROM (SELECT lang, w, count(*) AS n
                      FROM (SELECT lang,
                                   unnest(string_split(text, ' ')) AS w
                            FROM documents)
                      GROUP BY lang, w))
            WHERE rank <= 3
        """,
        "doc_minhash_signatures": """
            WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                           FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                       [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, greatest(len(ws) - 1, 1))])) AS s
                   FROM words),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(s), 1, 15))::BIGINT
                             % 2147483647 AS hv
                  FROM sh),
            perms(j, a, b) AS (VALUES
                (0, 1203077387, 528034983), (1, 885961883, 1723930551),
                (2, 1817469788, 1236687677), (3, 602982498, 1106438810),
                (4, 2006519551, 927473217), (5, 460128514, 1597226340),
                (6, 1106819081, 342973211), (7, 1378749216, 79380292)),
            mins AS (SELECT doc_id, j,
                            min((a * hv + b) % 2147483647) AS mv
                     FROM h CROSS JOIN perms GROUP BY doc_id, j)
            SELECT doc_id,
                   max(CASE WHEN j = 0 THEN mv END) AS mh0,
                   max(CASE WHEN j = 1 THEN mv END) AS mh1,
                   max(CASE WHEN j = 2 THEN mv END) AS mh2,
                   max(CASE WHEN j = 3 THEN mv END) AS mh3
            FROM mins GROUP BY doc_id
        """,
        "doc_minhash_dedup": """
            WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
                           FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                       [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, greatest(len(ws) - 1, 1))])) AS s
                   FROM words),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(s), 1, 15))::BIGINT
                             % 2147483647 AS hv
                  FROM sh),
            perms(j, a, b) AS (VALUES
                (0, 1203077387, 528034983), (1, 885961883, 1723930551),
                (2, 1817469788, 1236687677), (3, 602982498, 1106438810),
                (4, 2006519551, 927473217), (5, 460128514, 1597226340),
                (6, 1106819081, 342973211), (7, 1378749216, 79380292)),
            mins AS (SELECT doc_id, j,
                            min((a * hv + b) % 2147483647) AS mv
                     FROM h CROSS JOIN perms GROUP BY doc_id, j),
            sigs AS (SELECT doc_id, array_agg(mv ORDER BY j) AS sig
                     FROM mins GROUP BY doc_id),
            bands AS (SELECT doc_id,
                             t.b || ':' || sig[t.b*2+1] || '_'
                                 || sig[t.b*2+2] AS bucket
                      FROM sigs CROSS JOIN
                           (SELECT unnest(range(4)) AS b) t),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                            y.doc_id AS doc_b
                     FROM bands x JOIN bands y
                       ON x.bucket = y.bucket AND x.doc_id < y.doc_id),
            sizes AS (SELECT doc_id, count(DISTINCT s) AS n FROM sh
                      GROUP BY doc_id),
            cmn AS (SELECT doc_a, doc_b, count(*) AS common
                    FROM cand
                    JOIN sh sa ON sa.doc_id = cand.doc_a
                    JOIN sh sb ON sb.doc_id = cand.doc_b
                              AND sb.s = sa.s
                    GROUP BY doc_a, doc_b)
            SELECT doc_a, doc_b, common,
                   za.n AS size_a, zb.n AS size_b
            FROM cmn
            JOIN sizes za ON cmn.doc_a = za.doc_id
            JOIN sizes zb ON cmn.doc_b = zb.doc_id
            WHERE common * 2 >= za.n + zb.n - common
        """,
        "doc_simhash_pairs": """
            WITH wc AS (SELECT doc_id, w, count(*) AS cnt
                        FROM (SELECT doc_id,
                                     unnest(string_split(text, ' ')) AS w
                              FROM documents)
                        GROUP BY doc_id, w),
            hashed AS (SELECT doc_id, cnt,
                              xor(('0x' || substr(md5(w), 1, 15))::BIGINT,
                                  (('0x' || substr(md5(w), 16, 15))::BIGINT
                                   & 576460752303423487) << 4) AS h
                       FROM wc),
            bitsums AS (SELECT doc_id, t.i,
                               sum(CASE WHEN (h >> t.i) & 1 = 1
                                        THEN cnt ELSE -cnt END) AS s
                        FROM hashed CROSS JOIN
                             (SELECT unnest(range(64)) AS i) t
                        GROUP BY doc_id, t.i),
            sims AS (SELECT doc_id,
                            sum(CASE WHEN s > 0
                                     THEN (1::BIGINT << i)
                                     ELSE 0 END)::BIGINT AS simhash
                     FROM bitsums GROUP BY doc_id),
            blocks AS (SELECT doc_id, simhash,
                              t.b || ':' || ((simhash >> (t.b * 16))
                                  & 65535) AS bucket
                       FROM sims CROSS JOIN
                            (SELECT unnest(range(4)) AS b) t),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a,
                            x.simhash AS sh_a,
                            y.doc_id AS doc_b, y.simhash AS sh_b
                     FROM blocks x JOIN blocks y
                       ON x.bucket = y.bucket AND x.doc_id < y.doc_id)
            SELECT doc_a, doc_b,
                   bit_count(xor(sh_a, sh_b)) AS hamming
            FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 16
        """,
        "ann_bruteforce_top10": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                       FROM embeddings),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT vec_id, label,
                   round(list_cosine_similarity(v, qv), 4) AS score
            FROM e, q WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC LIMIT 10
        """,
        "media_metadata_stats": multimodal.oracle_metadata_sql(),
        "media_frame_sample": """
            SELECT CAST(sum(cnt) AS BIGINT) AS n_sampled,
                   CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS sum_idx,
                   count(*) AS n_videos
            FROM (SELECT ((2 + doc_id % 6) + 1) // 2 AS cnt
                  FROM documents WHERE doc_id % 3 = 1)
        """,
        "media_thumbnails": """
            SELECT doc_id, 'image' AS media_type,
                   CAST(16 AS INT) AS thumb_cells
            FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id
        """,
        "ann_lsh_top10": similarity.oracle_lsh_sql(),
        "ann_ivf_top10": similarity.oracle_ivf_sql(),
        "ann_matmul_top10": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                       FROM embeddings),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT vec_id, label,
                   round(list_cosine_similarity(v, qv), 4) AS score
            FROM e, q WHERE vec_id <> 0
            ORDER BY score DESC, vec_id ASC LIMIT 10
        """,
        "embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS score
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45
        """,
        # pipeline aggregates: the parse semantics are not
        # SQL-expressible, but the expected aggregates ARE exactly
        # checkable — computed by the INDEPENDENT char-FSM oracle
        # (oracle.py, validated against the reference goldens) plus a
        # plain-Python enrich/route/aggregate re-implementation, and
        # serialized as literal VALUES (oracle_pipeline.py). The driver
        # runs at sf=0.01 per __spark_entry__ contract.
        "pipeline_severity_hist": oracle_pipeline.severity_histogram_sql(sf),
        "pipeline_sink_summary": oracle_pipeline.sink_summary_sql(sf),
        "pipeline_seq_histogram": oracle_pipeline.seq_histogram_sql(sf),
        "pipeline_top_commands": oracle_pipeline.top_commands_sql(sf),
        # HTML sink aggregates: second independent renderer (kind-tagged
        # span stack over the char-FSM stream, oracle_html.py) ->
        # literal VALUES
        "html_render_stats": oracle_html.render_stats_sql(sf),
        "pipeline_app_mode": oracle_pipeline.app_mode_sql(sf),
        "pipeline_typed_events": oracle_pipeline.typed_events_sql(sf),
        "pipeline_chapters": oracle_pipeline.chapters_sql(sf),
        "pipeline_source_rollup": oracle_pipeline.source_rollup_sql(sf),
        "pipeline_os_commands": oracle_pipeline.os_commands_sql(sf),
        "doc_sample_mix": """
            WITH rated AS (
                SELECT lang, doc_id,
                       2000 + (ascii(substring(lang, 1, 1)) % 7) * 1000
                           AS rate_bp,
                       CAST(('0x' || substring(md5('mix42' || doc_id),
                                               1, 8)) AS BIGINT) % 10000
                           AS bucket
                FROM documents
            )
            SELECT lang,
                   CAST(max(rate_bp) AS BIGINT) AS rate_bp,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0
                            END) AS BIGINT) AS n_kept,
                   min(CASE WHEN bucket < rate_bp THEN doc_id END)
                       AS first_kept,
                   max(CASE WHEN bucket < rate_bp THEN doc_id END)
                       AS last_kept
            FROM rated GROUP BY lang ORDER BY lang
        """,
        "events_type_cube": """
            SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, CAST(user_id % 10 AS BIGINT))
        """,
        # the dedup sink must hold each original event exactly once
        # (n_events == n_distinct per type) despite every micro-batch
        # being delivered twice
        "stream_dedup_exact": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
            FROM events GROUP BY event_type
        """,
        # concat-then-chunk packing: inclusive running sum under the
        # md5 order, then fixed 2048-token windows; // is DuckDB's
        # integer division (floor), but operands are non-negative
        # except the tok_end = 0 case pinned by the CASE (Spark DIV
        # truncates toward zero there)
        "doc_pack_sequences": """
            WITH ordered AS (
                SELECT doc_id, n_chars,
                       sum(n_chars) OVER (
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS tok_end
                FROM documents
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(tok_end AS BIGINT) AS tok_end,
                   CAST((tok_end - n_chars) // 2048 AS BIGINT)
                       AS first_seq,
                   CASE WHEN tok_end = 0 THEN CAST(-1 AS BIGINT)
                        ELSE CAST((tok_end - 1) // 2048 AS BIGINT)
                   END AS last_seq
            FROM ordered
        """,
        # PII planting mirrors the Spark query exactly; patterns use
        # the Java-regex / RE2 common subset so both engines agree.
        # DuckDB string literals do not process backslash escapes, so
        # \b / \d pass through verbatim.
        "doc_pii_redact": r"""
            WITH planted AS (
                SELECT doc_id,
                       text || CASE
                         WHEN doc_id % 5 = 0 THEN
                           ' mail bob' || CAST(doc_id AS VARCHAR)
                           || '@example.com end'
                         WHEN doc_id % 5 = 1 THEN
                           ' ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                           || '.3.' || CAST(doc_id % 250 AS VARCHAR)
                           || ' seen'
                         WHEN doc_id % 5 = 2 THEN
                           ' tel +01-555-'
                           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           || '-'
                           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           || ' ok'
                         WHEN doc_id % 5 = 3 THEN
                           ' mail bob' || CAST(doc_id AS VARCHAR)
                           || '@example.com end'
                           || ' ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                           || '.3.' || CAST(doc_id % 250 AS VARCHAR)
                           || ' seen'
                         ELSE '' END AS text
                FROM documents
            ),
            red AS (
                SELECT doc_id, text,
                       regexp_replace(regexp_replace(regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\+\d{2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                           '<IP>', 'g') AS text_redacted
                FROM planted
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                       '\+\d{2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                       AS BIGINT) AS n_ipv4,
                   md5(text_redacted) AS redact_md5,
                   CAST(len(text_redacted) AS BIGINT) AS red_len
            FROM red
        """,
        "doc_quality_model": """
            WITH f AS (
                SELECT source,
                       CAST(len(text) AS BIGINT) AS n_chars,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS n_words,
                       CAST(len(list_distinct(string_split(text, ' ')))
                           AS BIGINT) AS n_distinct_words,
                       CAST(list_max(list_transform(
                           string_split(text, ' '), w -> len(w)))
                           AS BIGINT) AS max_word_len
                FROM documents
            ),
            s AS (
                SELECT source,
                       -400 + 1 * n_chars - 2 * n_words
                       + 6 * n_distinct_words - 3 * max_word_len
                           AS q_score
                FROM f
            ),
            b AS (
                SELECT source, q_score,
                       CASE WHEN q_score < 250 THEN 'low'
                            WHEN q_score < 600 THEN 'mid'
                            ELSE 'high' END AS q_bucket
                FROM s
            )
            SELECT source, q_bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(q_score) AS BIGINT) AS sum_score,
                   CAST(min(q_score) AS BIGINT) AS min_score,
                   CAST(max(q_score) AS BIGINT) AS max_score
            FROM b
            GROUP BY source, q_bucket
            ORDER BY source, q_bucket
        """,
        "doc_epoch_shuffle": """
            WITH keyed AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id,
                       md5('shuf42:1:' || CAST(doc_id AS VARCHAR))
                           AS shuffle_key
                FROM documents
            ),
            ranked AS (
                SELECT doc_id, shuffle_key,
                       CAST(row_number() OVER
                           (ORDER BY shuffle_key, doc_id) AS BIGINT)
                           AS position
                FROM keyed
            )
            SELECT doc_id, shuffle_key, position
            FROM ranked WHERE position <= 20
        """,
        # word 3-grams via 1-based INCLUSIVE list slices: for k words,
        # starts 1 .. k-2, i.e. range(1, k-1) (range excludes its end);
        # a text with < 3 words yields an empty range, same as the
        # engine's size() guard
        # word 5-grams again via 1-based INCLUSIVE slices (w[i:i+4] is
        # 5 elements; starts range(1, k-3) = 1..k-4); md5 hex is the
        # portable gram key in both engines; // floors == Spark div
        # truncation because both operands are non-negative
        # temperature-2 mixing: sqrt is IEEE-correctly-rounded in both
        # engines, everything downstream is integer; // floors == div
        # truncation (non-negative operands); the md5 basis-point
        # bucket is the same portable expression doc_sample_mix pins
        # rate outliers: hour buckets via epoch-hour division (both
        # engines floor non-negative values); median hourly count via
        # the same explicit histogram/rank SQL doc_length_stats pins;
        # outlier rule in integers (cnt*2 > median*3)
        "events_rate_outliers": """
            WITH hourly AS (
                SELECT event_type,
                       CAST(date_diff('hour',
                            TIMESTAMP '1970-01-01', ts) AS BIGINT)
                           AS hour,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            hist AS (
                SELECT event_type, cnt AS v, count(*) AS c
                FROM hourly GROUP BY 1, 2
            ),
            cum AS (
                SELECT event_type, v, c,
                       sum(c) OVER (PARTITION BY event_type
                                    ORDER BY v) AS cum,
                       sum(c) OVER (PARTITION BY event_type) AS n
                FROM hist
            ),
            med AS (
                SELECT event_type,
                       min(CASE WHEN cum >= (50 * n + 99) // 100
                           THEN v END) AS median_cnt
                FROM cum GROUP BY event_type
            )
            SELECT h.event_type,
                   CAST(count(*) AS BIGINT) AS n_hours,
                   CAST(max(m.median_cnt) AS BIGINT) AS median_cnt,
                   CAST(sum(CASE WHEN h.cnt * 2 > m.median_cnt * 3
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_outlier_hours,
                   CAST(max(h.cnt) AS BIGINT) AS max_cnt
            FROM hourly h JOIN med m USING (event_type)
            GROUP BY h.event_type ORDER BY h.event_type
        """,
        # streaming funnel twin: the carried-state stream result must
        # equal the batch funnel — events_funnel's CTE chain per user,
        # stage times as epoch microseconds (tz-free NTZ arithmetic in
        # both engines)
        "stream_funnel": _FUNNEL_CTES + """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(max(epoch_us(t1)) AS BIGINT) AS t1_us,
                   CAST(max(epoch_us(t2)) AS BIGINT) AS t2_us,
                   CAST(max(epoch_us(t3)) AS BIGINT) AS t3_us
            FROM w3 GROUP BY user_id ORDER BY user_id
        """,
        # integer-TF-IDF keywords: rank by (df, term) — total order,
        # so row_number and the csv aggregation agree across engines;
        # string_agg ORDER BY (df, term) == sort_array of
        # struct(df_docs, term) projected to term
        "doc_keywords": """
            WITH terms AS (
                SELECT doc_id,
                       unnest(list_distinct(string_split(text, ' ')))
                           AS term
                FROM documents
            ),
            clean AS (SELECT * FROM terms WHERE term <> ''),
            freqs AS (
                SELECT term, count(*) AS df_docs
                FROM clean GROUP BY 1
            ),
            ranked AS (
                SELECT c.doc_id, c.term, f.df_docs,
                       row_number() OVER (PARTITION BY c.doc_id
                           ORDER BY f.df_docs, c.term) AS rk
                FROM clean c JOIN freqs f USING (term)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   string_agg(term, ',' ORDER BY df_docs, term)
                       AS kw_csv,
                   CAST(min(df_docs) AS BIGINT) AS rarest_df
            FROM ranked WHERE rk <= 3
            GROUP BY doc_id ORDER BY doc_id
        """,
        # inverted index: per-doc DISTINCT terms (list_distinct ==
        # array_distinct), postings sorted numerically in the
        # aggregate (string_agg ORDER BY doc_id == sort_array on
        # longs), md5 over the comma-joined list; hot terms (df >
        # 390) surface as null-postings rows in both engines
        "doc_inverted_index": """
            WITH terms AS (
                SELECT doc_id,
                       unnest(list_distinct(string_split(text, ' ')))
                           AS term
                FROM documents
            ),
            clean AS (SELECT * FROM terms WHERE term <> ''),
            freqs AS (
                SELECT term, count(*) AS df_docs
                FROM clean GROUP BY 1
            ),
            built AS (
                SELECT t.term,
                       CAST(max(f.df_docs) AS BIGINT) AS df_docs,
                       CAST(count(*) AS BIGINT) AS n_postings,
                       md5(string_agg(CAST(t.doc_id AS VARCHAR), ','
                           ORDER BY t.doc_id)) AS postings_md5,
                       CAST(min(t.doc_id) AS BIGINT) AS first_doc,
                       CAST(max(t.doc_id) AS BIGINT) AS last_doc
                FROM clean t JOIN freqs f USING (term)
                WHERE f.df_docs <= 390
                GROUP BY t.term
            )
            SELECT * FROM built
            UNION ALL
            SELECT term, CAST(df_docs AS BIGINT), NULL, NULL, NULL,
                   NULL
            FROM freqs WHERE df_docs > 390
            ORDER BY term
        """,
        # strict-sequence funnel: identical window CASE chain in
        # both engines; hop sums are epoch-microsecond differences
        # (tz-invariant — never truncate-then-subtract seconds)
        "events_funnel": _FUNNEL_CTES + """,
            u AS (
                SELECT user_id, max(t1) AS t1, max(t2) AS t2,
                       max(t3) AS t3
                FROM w3 GROUP BY user_id
            )
            SELECT CAST(user_id % 8 AS BIGINT) AS cohort,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(count(t1) AS BIGINT) AS n_view,
                   CAST(count(t2) AS BIGINT) AS n_click_after,
                   CAST(count(t3) AS BIGINT) AS n_purchase_after,
                   CAST(sum(epoch_us(t2) - epoch_us(t1)) AS BIGINT)
                       AS hop1_us,
                   CAST(sum(epoch_us(t3) - epoch_us(t2)) AS BIGINT)
                       AS hop2_us
            FROM u GROUP BY 1 ORDER BY 1
        """,
        # split assignment: same portable md5 bucket as doc_sample_mix;
        # cumulative thresholds 8000/9000 give train/val/test 80/10/10
        "doc_split_assign": """
            WITH assigned AS (
                SELECT lang, doc_id,
                       CASE WHEN bucket < 8000 THEN 'train'
                            WHEN bucket < 9000 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT lang, doc_id,
                           CAST(('0x' || substring(
                               md5('split42' || doc_id), 1, 8))
                               AS BIGINT) % 10000 AS bucket
                    FROM documents
                )
            )
            SELECT split, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS first_id,
                   CAST(max(doc_id) AS BIGINT) AS last_id
            FROM assigned GROUP BY split, lang ORDER BY split, lang
        """,
        # exact histogram percentiles: nearest-rank over the bounded
        # token-count domain; ceil as (p*n + 99) // 100 (non-negative
        # operands, so DuckDB's flooring // == Spark's truncating
        # div); window sum ties impossible (v is distinct per lang
        # after the GROUP BY)
        "doc_length_stats": """
            WITH vals AS (
                SELECT lang,
                       length(string_split(text, ' ')) AS v
                FROM documents
            ),
            hist AS (
                SELECT lang, v, count(*) AS cnt
                FROM vals GROUP BY 1, 2
            ),
            cum AS (
                SELECT lang, v, cnt,
                       sum(cnt) OVER (PARTITION BY lang ORDER BY v)
                           AS cum,
                       sum(cnt) OVER (PARTITION BY lang) AS n
                FROM hist
            )
            SELECT lang,
                   CAST(max(n) AS BIGINT) AS n_docs,
                   CAST(min(v) AS BIGINT) AS min_v,
                   CAST(min(CASE WHEN cum >= (25 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p25,
                   CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p50,
                   CAST(min(CASE WHEN cum >= (75 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p75,
                   CAST(min(CASE WHEN cum >= (95 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p95,
                   CAST(max(v) AS BIGINT) AS max_v
            FROM cum GROUP BY lang ORDER BY lang
        """,
        "doc_temperature_mix": """
            WITH counts AS (
                SELECT lang, count(*) AS n_docs
                FROM documents GROUP BY 1
            ),
            w AS (
                SELECT lang, n_docs,
                       CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT)
                           AS weight
                FROM counts
            ),
            ref AS (
                SELECT n_docs AS ref_n, weight AS ref_w
                FROM w ORDER BY n_docs, lang LIMIT 1
            ),
            rates AS (
                SELECT lang, n_docs, weight,
                       CAST(10000 * weight * ref_n
                            // (ref_w * n_docs) AS BIGINT) AS rate_bp
                FROM w, ref
            ),
            rated AS (
                SELECT d.lang, d.doc_id, r.n_docs, r.weight, r.rate_bp,
                       CAST(('0x' || substring(md5('mix42' || d.doc_id),
                                               1, 8)) AS BIGINT) % 10000
                           AS bucket
                FROM documents d JOIN rates r USING (lang)
            )
            SELECT lang,
                   CAST(max(n_docs) AS BIGINT) AS n_docs,
                   CAST(max(weight) AS BIGINT) AS weight,
                   CAST(max(rate_bp) AS BIGINT) AS rate_bp,
                   CAST(sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0
                            END) AS BIGINT) AS n_kept,
                   CAST(min(CASE WHEN bucket < rate_bp THEN doc_id END)
                       AS BIGINT) AS first_kept,
                   CAST(max(CASE WHEN bucket < rate_bp THEN doc_id END)
                       AS BIGINT) AS last_kept
            FROM rated GROUP BY lang ORDER BY lang
        """,
        "doc_boilerplate": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       md5(array_to_string(w[i:i+4], ' ')) AS gh
                FROM words, unnest(range(1, len(w) - 3)) AS t(i)
            ),
            pdg AS (
                SELECT doc_id, gh, count(*) AS occ
                FROM g GROUP BY 1, 2
            ),
            boiler AS (
                SELECT gh FROM pdg GROUP BY gh HAVING count(*) >= 2
            ),
            tot AS (
                SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_gram_occ,
                       CAST(count(*) AS BIGINT) AS n_distinct_grams
                FROM pdg GROUP BY 1
            ),
            b AS (
                SELECT doc_id,
                       CAST(sum(occ) AS BIGINT) AS n_boiler_occ,
                       CAST(count(*) AS BIGINT) AS n_boiler_grams
                FROM pdg JOIN boiler USING (gh) GROUP BY 1
            )
            SELECT CAST(tot.doc_id AS BIGINT) AS doc_id,
                   n_gram_occ, n_distinct_grams,
                   CAST(coalesce(n_boiler_occ, 0) AS BIGINT)
                       AS n_boiler_occ,
                   CAST(coalesce(n_boiler_grams, 0) AS BIGINT)
                       AS n_boiler_grams,
                   CAST(10000 * coalesce(n_boiler_occ, 0) // n_gram_occ
                       AS BIGINT) AS boiler_bp
            FROM tot LEFT JOIN b USING (doc_id)
        """,
        "doc_curation_pipeline": """
            WITH words AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, ' '), 1) - 1
                           AS pos,
                       unnest(string_split(text, ' ')) AS w
                FROM documents
            ),
            chunks AS (
                SELECT doc_id, pos // 5 AS cidx,
                       string_agg(w, ' ' ORDER BY pos) AS chunk
                FROM words GROUP BY doc_id, pos // 5
            ),
            flagged AS (
                SELECT doc_id, cidx, chunk,
                       row_number() OVER (PARTITION BY chunk
                                          ORDER BY doc_id, cidx) AS rn
                FROM chunks
            ),
            span AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_dropped,
                       coalesce(string_agg(chunk, ' ' ORDER BY cidx)
                                FILTER (WHERE rn = 1), '') AS kept_text
                FROM flagged GROUP BY doc_id
            ),
            cur AS (
                SELECT d.doc_id, d.lang, s.n_dropped, s.kept_text,
                       CASE WHEN s.kept_text = '' THEN 0
                            ELSE len(string_split(s.kept_text, ' '))
                            END AS n_words
                FROM documents d JOIN span s USING (doc_id)
            ),
            q AS (
                SELECT *, string_split(kept_text, ' ') AS kw
                FROM cur WHERE n_words >= 20
            ),
            g AS (
                SELECT DISTINCT doc_id, gram FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(1, len(kw) - 2),
                               i -> array_to_string(kw[i:i+3], ' ')))
                               AS gram
                    FROM q
                )
            ),
            bgrams AS (
                SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
            ),
            contam AS (
                SELECT DISTINCT g.doc_id FROM g JOIN bgrams USING (gram)
                WHERE g.doc_id % 97 <> 0
            ),
            sampled AS (
                SELECT * FROM q
                WHERE doc_id % 97 <> 0
                  AND doc_id NOT IN (SELECT doc_id FROM contam)
                  AND ('0x' || substring(md5('mix42' || doc_id), 1, 8))
                      ::BIGINT % 10000 < 8000
            ),
            final AS (
                SELECT *,
                       CASE WHEN ('0x' || substring(
                                md5('split42' || doc_id), 1, 8))
                                ::BIGINT % 10000 < 8000 THEN 'train'
                            WHEN ('0x' || substring(
                                md5('split42' || doc_id), 1, 8))
                                ::BIGINT % 10000 < 9000 THEN 'val'
                            ELSE 'test' END AS split
                FROM sampled
            )
            SELECT split, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS n_words,
                   CAST(sum(n_dropped) AS BIGINT) AS n_chunks_dropped,
                   CAST(min(doc_id) AS BIGINT) AS first_id
            FROM final GROUP BY split, lang ORDER BY split, lang
        """,
        "doc_shard_manifest": """
            WITH s AS (
                SELECT CAST(('0x' || substring(md5('shard42' || doc_id),
                                               1, 8))::BIGINT % 16
                            AS BIGINT) AS shard,
                       text
                FROM documents
            )
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(string_split(text, ' ')))
                        AS BIGINT) AS n_words,
                   CAST(bit_xor(('0x' || substring(md5(text), 1, 12))
                                ::BIGINT)
                        AS BIGINT) AS content_xor
            FROM s GROUP BY shard ORDER BY shard
        """,
        "doc_span_dedup": """
            WITH words AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, ' '), 1) - 1
                           AS pos,
                       unnest(string_split(text, ' ')) AS w
                FROM documents
            ),
            chunks AS (
                SELECT doc_id, pos // 5 AS cidx,
                       string_agg(w, ' ' ORDER BY pos) AS chunk
                FROM words GROUP BY doc_id, pos // 5
            ),
            flagged AS (
                SELECT doc_id, cidx, chunk,
                       row_number() OVER (PARTITION BY chunk
                                          ORDER BY doc_id, cidx) AS rn
                FROM chunks
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped,
                   coalesce(string_agg(chunk, ' ' ORDER BY cidx)
                            FILTER (WHERE rn = 1), '') AS kept_text
            FROM flagged GROUP BY doc_id ORDER BY doc_id
        """,
        "events_heavy_hitters": _HEAVY_HITTERS_ORACLE,
        "doc_bpe_pairs": """
            WITH words AS (
                SELECT unnest(string_split(text, ' ')) AS w
                FROM documents
            ),
            pairs AS (
                SELECT unnest(list_transform(range(1, length(w)),
                                             i -> w[i:i+1])) AS pair
                FROM words WHERE length(w) >= 2
            ),
            cnt AS (
                SELECT pair, CAST(count(*) AS BIGINT) AS cnt
                FROM pairs GROUP BY pair
            ),
            top AS (
                SELECT pair, cnt FROM cnt ORDER BY cnt DESC, pair LIMIT 20
            )
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
                       AS BIGINT) AS "rank", pair, cnt
            FROM top
        """,
        "doc_bpe_learn": _bpe_learn_oracle(6),
        "doc_vocab_coverage": """
            WITH nz AS (
                SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents
            ),
            toks AS (SELECT source, w FROM nz WHERE w <> ''),
            vocab AS (
                SELECT w AS vw FROM (
                    SELECT w, count(*) AS c FROM toks
                    GROUP BY w ORDER BY c DESC, w LIMIT 20)
            ),
            j AS (
                SELECT toks.source, vocab.vw
                FROM toks LEFT JOIN vocab ON toks.w = vocab.vw
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_oov,
                   CAST(10000 * sum(CASE WHEN vw IS NULL THEN 1 ELSE 0
                       END) // count(*) AS BIGINT) AS oov_bp
            FROM j GROUP BY source
        """,
        "doc_bloom_decontaminate": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(w) - 1),
                           i -> array_to_string(w[i:i+2], ' ')))
                           AS gram
                FROM words
            ),
            bench AS (
                SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0
            ),
            pos AS (
                SELECT ('0x' || substr(md5(gram), 1, 15))::BIGINT
                           % 4096 AS p FROM bench
                UNION ALL
                SELECT ('0x' || substr(md5(gram), 16, 15))::BIGINT
                           % 4096 FROM bench
            ),
            filt AS (
                SELECT p // 32 AS widx,
                       bit_or((1::BIGINT) << CAST(p % 32 AS INT))
                           AS bits
                FROM pos GROUP BY 1
            ),
            cg AS (
                SELECT doc_id, gram,
                       ('0x' || substr(md5(gram), 1, 15))::BIGINT
                           % 4096 AS p1,
                       ('0x' || substr(md5(gram), 16, 15))::BIGINT
                           % 4096 AS p2
                FROM g WHERE doc_id % 25 <> 0
            ),
            probed AS (
                SELECT cg.doc_id,
                       CASE WHEN COALESCE((f1.bits
                                 >> CAST(cg.p1 % 32 AS INT)) & 1, 0) = 1
                             AND COALESCE((f2.bits
                                 >> CAST(cg.p2 % 32 AS INT)) & 1, 0) = 1
                            THEN 1 ELSE 0 END AS bloom_hit,
                       CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END
                           AS exact_hit
                FROM cg
                LEFT JOIN filt f1 ON f1.widx = cg.p1 // 32
                LEFT JOIN filt f2 ON f2.widx = cg.p2 // 32
                LEFT JOIN bench b ON b.gram = cg.gram
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(bloom_hit) AS BIGINT) AS n_bloom,
                   CAST(sum(exact_hit) AS BIGINT) AS n_exact,
                   CAST(sum(bloom_hit) - sum(exact_hit) AS BIGINT)
                       AS n_false_pos
            FROM probed GROUP BY doc_id
        """,
        "doc_dsir_scores": """
            WITH w AS (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS word
                FROM documents
            ),
            b AS (
                SELECT doc_id,
                       ('0x' || substr(md5(word), 1, 15))::BIGINT
                           % 256 AS bkt
                FROM w
            ),
            tgt AS (SELECT bkt, count(*) AS c FROM b
                    WHERE doc_id % 25 = 0 GROUP BY 1),
            rawc AS (SELECT bkt, count(*) AS c FROM b
                     WHERE doc_id % 25 <> 0 GROUP BY 1),
            sc AS (
                SELECT r.bkt,
                       (length(format('{:b}', COALESCE(t.c, 0) + 1)) - 1)
                       - (length(format('{:b}', r.c + 1)) - 1) AS s
                FROM rawc r LEFT JOIN tgt t USING (bkt)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(s) AS BIGINT) AS dsir_score
            FROM b JOIN sc USING (bkt)
            WHERE doc_id % 25 <> 0
            GROUP BY doc_id
            ORDER BY dsir_score DESC, doc_id LIMIT 20
        """,
        "doc_semdedup": _kmeans_oracle(_SEMDEDUP_FINAL),
        "embedding_pq_codes": """
            WITH qv AS (
                SELECT vec_id, list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                              AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS (SELECT vec_id AS cid, q AS c FROM qv
                     WHERE vec_id < 16),
            comb AS (
                SELECT v.vec_id, j.j,
                       MIN(CAST(list_sum(list_transform(range(1, 17),
                           i -> (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])
                              * (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])))
                           AS BIGINT) * 32 + c.cid) AS k
                FROM qv v CROSS JOIN range(0, 4) j(j) CROSS JOIN cent c
                GROUP BY 1, 2
            )
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(MAX(CASE WHEN j = 0 THEN k % 32 END)
                        AS BIGINT) AS c0,
                   CAST(MAX(CASE WHEN j = 1 THEN k % 32 END)
                        AS BIGINT) AS c1,
                   CAST(MAX(CASE WHEN j = 2 THEN k % 32 END)
                        AS BIGINT) AS c2,
                   CAST(MAX(CASE WHEN j = 3 THEN k % 32 END)
                        AS BIGINT) AS c3
            FROM comb GROUP BY vec_id
        """,
        "ann_pq_top10": """
            WITH qv AS (
                SELECT vec_id, list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                              AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS (SELECT vec_id AS cid, q AS c FROM qv
                     WHERE vec_id < 16),
            comb AS (
                SELECT v.vec_id, j.j,
                       MIN(CAST(list_sum(list_transform(range(1, 17),
                           i -> (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])
                              * (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])))
                           AS BIGINT) * 32 + c.cid) AS k
                FROM qv v CROSS JOIN range(0, 4) j(j) CROSS JOIN cent c
                GROUP BY 1, 2
            ),
            qvec AS (SELECT q FROM qv WHERE vec_id = 0),
            adc AS (
                SELECT j.j AS j, c.cid AS cid,
                       CAST(list_sum(list_transform(range(1, 17),
                           i -> (q0.q[j.j * 16 + i] - c.c[j.j * 16 + i])
                              * (q0.q[j.j * 16 + i] - c.c[j.j * 16 + i])))
                           AS BIGINT) AS d
                FROM qvec q0 CROSS JOIN range(0, 4) j(j)
                     CROSS JOIN cent c
            ),
            cdist AS (
                SELECT co.vec_id, CAST(SUM(a.d) AS BIGINT) AS adc_dist
                FROM comb co JOIN adc a
                  ON a.j = co.j AND a.cid = co.k % 32
                GROUP BY 1
            ),
            short AS (SELECT vec_id, adc_dist FROM cdist
                      ORDER BY adc_dist, vec_id LIMIT 50),
            ex AS (
                SELECT s.vec_id, s.adc_dist,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (v.q[i] - q0.q[i]) * (v.q[i] - q0.q[i])))
                           AS BIGINT) AS exact_dist
                FROM short s JOIN qv v USING (vec_id)
                     CROSS JOIN qvec q0
            )
            SELECT vec_id, adc_dist, exact_dist FROM ex
            ORDER BY exact_dist, vec_id LIMIT 10
        """,
        "doc_tokenizer_fertility": _bpe_fertility_oracle(6),
        # IVF cand prefix (floor+0.5 quant, similarity.py convention)
        # + PQ/ADC chain (round() quant, cluster.py convention) —
        # each half mirrors its own engine twin exactly
        "ann_ivfpq_top10": similarity.oracle_ivf_cte_prefix() + """,
            qv AS (
                SELECT vec_id, list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                              AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS (SELECT vec_id AS cid, q AS c FROM qv
                     WHERE vec_id < 16),
            comb AS (
                SELECT v.vec_id, j.j,
                       MIN(CAST(list_sum(list_transform(range(1, 17),
                           i -> (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])
                              * (v.q[j.j * 16 + i] - c.c[j.j * 16 + i])))
                           AS BIGINT) * 32 + c.cid) AS k
                FROM qv v JOIN cand USING (vec_id)
                     CROSS JOIN range(0, 4) j(j) CROSS JOIN cent c
                GROUP BY 1, 2
            ),
            qvec AS (SELECT q FROM qv WHERE vec_id = 0),
            adc AS (
                SELECT j.j AS j, c.cid AS cid,
                       CAST(list_sum(list_transform(range(1, 17),
                           i -> (q0.q[j.j * 16 + i] - c.c[j.j * 16 + i])
                              * (q0.q[j.j * 16 + i] - c.c[j.j * 16 + i])))
                           AS BIGINT) AS d
                FROM qvec q0 CROSS JOIN range(0, 4) j(j)
                     CROSS JOIN cent c
            ),
            cdist AS (
                SELECT co.vec_id, CAST(SUM(a.d) AS BIGINT) AS adc_dist
                FROM comb co JOIN adc a
                  ON a.j = co.j AND a.cid = co.k % 32
                GROUP BY 1
            ),
            short AS (SELECT vec_id, adc_dist FROM cdist
                      ORDER BY adc_dist, vec_id LIMIT 50),
            ex AS (
                SELECT s.vec_id, s.adc_dist,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (v.q[i] - q0.q[i]) * (v.q[i] - q0.q[i])))
                           AS BIGINT) AS exact_dist
                FROM short s JOIN qv v USING (vec_id)
                     CROSS JOIN qvec q0
            )
            SELECT vec_id, adc_dist, exact_dist FROM ex
            ORDER BY exact_dist, vec_id LIMIT 10
        """,
        # WAU window ENDING day d == the 7 sliding instances an event
        # feeds: end_day = day(ts) + i for i in 0..6 (epoch-aligned,
        # same as Spark's window('7 days','1 day').end - 1 day)
        "events_dau_wau": """
            WITH dau AS (
                SELECT strftime(date_trunc('day', ts), '%Y-%m-%d')
                           AS day,
                       count(DISTINCT user_id) AS dau
                FROM events GROUP BY 1
            ),
            wx AS (
                SELECT strftime(date_trunc('day', ts)
                                + to_days(CAST(i.i AS INTEGER)),
                                '%Y-%m-%d') AS day,
                       user_id
                FROM events CROSS JOIN range(0, 7) i(i)
            ),
            wau AS (SELECT day, count(DISTINCT user_id) AS wau
                    FROM wx GROUP BY 1)
            SELECT day, CAST(dau AS BIGINT) AS dau,
                   CAST(wau AS BIGINT) AS wau,
                   CAST((dau * 10000) // wau AS BIGINT)
                       AS stickiness_bp
            FROM dau JOIN wau USING (day)
            ORDER BY day
        """,
        # same trigram construction + 60-bit md5 fingerprint as the
        # minhash family (shingles/shingle_hash); novelty = the doc
        # IS the corpus-wide min doc_id for that fingerprint
        "doc_ngram_novelty": """
            WITH words AS (SELECT doc_id, string_split(text, ' ')
                               AS ws
                           FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                       [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in range(1, greatest(len(ws) - 1, 1))]))
                       AS s
                   FROM words),
            fp AS (SELECT doc_id,
                          ('0x' || substr(md5(s), 1, 15))::BIGINT
                              AS fp
                   FROM sh),
            firsts AS (SELECT fp, min(doc_id) AS first_doc
                       FROM fp GROUP BY 1)
            SELECT f.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tri,
                   CAST(sum(CASE WHEN f.doc_id = fs.first_doc
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                   CAST((sum(CASE WHEN f.doc_id = fs.first_doc
                             THEN 1 ELSE 0 END) * 10000) // count(*)
                        AS BIGINT) AS novelty_bp
            FROM fp f JOIN firsts fs USING (fp)
            GROUP BY 1 ORDER BY 1
        """,
        "events_user_activity": """
            WITH vals AS (
                SELECT event_type, user_id, count(*) AS v
                FROM events GROUP BY 1, 2
            ),
            hist AS (
                SELECT event_type, v, count(*) AS cnt
                FROM vals GROUP BY 1, 2
            ),
            cum AS (
                SELECT event_type, v, cnt,
                       sum(cnt) OVER (PARTITION BY event_type
                                      ORDER BY v) AS cum,
                       sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM hist
            )
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n_users,
                   CAST(min(v) AS BIGINT) AS min_v,
                   CAST(min(CASE WHEN cum >= (25 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p25,
                   CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p50,
                   CAST(min(CASE WHEN cum >= (75 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p75,
                   CAST(min(CASE WHEN cum >= (95 * n + 99) // 100
                            THEN v END) AS BIGINT) AS p95,
                   CAST(max(v) AS BIGINT) AS max_v
            FROM cum GROUP BY event_type ORDER BY event_type
        """,
        "doc_char_diversity": """
            WITH ch AS (
                SELECT doc_id, unnest(list_transform(
                           range(1, length(text) + 1),
                           i -> text[i])) AS c
                FROM documents
            ),
            h AS (SELECT doc_id, c, count(*) AS cnt
                  FROM ch GROUP BY 1, 2),
            d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                         count(*) AS nd
                  FROM h GROUP BY 1)
            SELECT CAST(h.doc_id AS BIGINT) AS doc_id,
                   CAST(max(d.n) AS BIGINT) AS n_chars,
                   CAST(max(d.nd) AS BIGINT) AS n_distinct_chars,
                   CAST(sum(h.cnt *
                        ((length(format('{:b}', d.n)) - 1)
                         - (length(format('{:b}', h.cnt)) - 1)))
                        AS BIGINT) AS surprisal
            FROM h JOIN d USING (doc_id)
            GROUP BY h.doc_id
            ORDER BY surprisal DESC, doc_id LIMIT 20
        """,
        "doc_token_coverage": """
            WITH w AS (SELECT unnest(list_filter(
                           string_split(text, ' '), x -> x <> ''))
                           AS w
                       FROM documents),
            c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
            r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w)
                          AS rk
                  FROM c),
            t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
            SELECT CAST(v.k AS BIGINT) AS top_k,
                   CAST(COALESCE(SUM(r.cnt), 0) AS BIGINT)
                       AS tokens_covered,
                   CAST((COALESCE(SUM(r.cnt), 0) * 10000)
                        // (SELECT total FROM t) AS BIGINT)
                       AS coverage_bp
            FROM (VALUES (1), (3), (10), (30), (100)) v(k)
            LEFT JOIN r ON r.rk <= v.k
            GROUP BY v.k ORDER BY top_k
        """,
        "doc_dedup_survivorship": """
            WITH corpus AS (
                SELECT text, n_chars FROM documents
                UNION ALL
                SELECT text, n_chars FROM documents
                WHERE doc_id % 25 = 0
                UNION ALL
                SELECT text, n_chars FROM documents
                WHERE doc_id % 25 = 0
            ),
            g AS (
                SELECT md5(text) AS h, count(*) AS sz,
                       min(n_chars) AS nc
                FROM corpus GROUP BY 1
            )
            SELECT CAST(sz AS BIGINT) AS group_size,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
                   CAST(sum((sz - 1) * nc) AS BIGINT) AS chars_removed
            FROM g GROUP BY 1 ORDER BY 1
        """,
        "embedding_knn_join": similarity.oracle_lsh_cte_prefix() + """,
            pairs AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
                      FROM sigs a JOIN sigs b ON a.bucket = b.bucket
                      WHERE a.vec_id <> b.vec_id),
            scored AS (SELECT p.qid, p.nid,
                              round(list_cosine_similarity(ea.v, eb.v),
                                    4) AS score
                       FROM pairs p
                       JOIN e ea ON ea.vec_id = p.qid
                       JOIN e eb ON eb.vec_id = p.nid),
            ranked AS (SELECT qid, nid, score,
                              row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, nid) AS nn_rank
                       FROM scored)
            SELECT CAST(qid AS BIGINT) AS qid,
                   CAST(nn_rank AS BIGINT) AS nn_rank,
                   CAST(nid AS BIGINT) AS nid, score
            FROM ranked WHERE nn_rank <= 3 ORDER BY qid, nn_rank
        """,
        # each event lands in exactly 2 epoch-aligned sliding windows:
        # date_trunc('day', ts) - i days for i in 0..1 == Spark's
        # window(ts, '2 days', '1 day') instance expansion
        "events_sliding_rates": """
            WITH x AS (
                SELECT unnest(range(0, 2)) AS i, ts, event_type,
                       user_id
                FROM events
            ),
            wins AS (
                SELECT strftime(date_trunc('day', ts)
                                - to_days(CAST(i AS INTEGER)),
                                '%Y-%m-%d') AS win_start,
                       event_type, user_id
                FROM x
            )
            SELECT win_start, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM wins GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # streaming MG + exact recount == the batch heavy-hitter set
        "stream_heavy_hitters": _HEAVY_HITTERS_ORACLE,
        "doc_decontaminate": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w
                FROM documents
            ),
            g AS (
                SELECT DISTINCT doc_id, gram FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' ')))
                               AS gram
                    FROM words
                )
            ),
            bench AS (
                SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0
            )
            SELECT CAST(g.doc_id AS BIGINT) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_contam
            FROM g JOIN bench USING (gram)
            WHERE g.doc_id % 25 <> 0
            GROUP BY g.doc_id
        """,
    }
