"""Per-sink aggregate stage (reference: the histogram side-tables of
vtparser.py:744-787, generalized to per-sink groupBy aggregates per
BASELINE.json:6 — row counts, n_tok sums, severity histograms, escape-
sequence histograms).

All aggregations are built-in hash aggregates with map-side partial
combine; nothing here touches Python at runtime. No table is globally
sorted: a global ``orderBy`` costs a range-sampling job per table, and
every reader keys or sorts the rows itself.

``write_aggregates`` submits its five table writes at the same time,
one thread each. Each write is mostly fixed latency, not work: on a
4-core host a table over a 1.4 MB routed table took 0.4-0.65 s and a
1-row parquet write 0.2-0.3 s, partly because without a native Hadoop
library every directory and file a write creates forks a ``chmod``
(SCALE.md §6.1). The writes are independent, so their latencies
overlap; the plans, the files and the number of Spark jobs are those
of five writes one after another.
"""
from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_summary(routed: DataFrame) -> DataFrame:
    """One row per sink: counts, token sums, doc metrics."""
    return (routed.groupBy("sink")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("n_tok").alias("sum_n_tok"),
                 F.sum("n_stripped").alias("sum_n_stripped"),
                 F.sum("n_events").alias("sum_n_events"),
                 F.sum("prompt_count").alias("sum_prompts"),
                 F.sum("n_cmd_routed").alias("sum_cmds"),
                 F.sum("n_vim").alias("sum_vim"),
                 F.sum("n_unparsed").alias("sum_unparsed"),
                 F.sum("n_app_mode").alias("sum_app_mode"),
                 F.sum("n_devstat").alias("sum_devstat"),
                 F.sum("n_edit_warnings").alias("sum_edit_warnings"),
                 F.countDistinct("source").alias("n_sources"),
                 F.min("ts_min").alias("ts_min"),
                 F.max("ts_max").alias("ts_max")))


def severity_histogram(routed: DataFrame) -> DataFrame:
    """(sink, severity) -> docs + line-level severity counts."""
    return (routed.groupBy("sink", "severity")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_debug").alias("n_debug"),
                 F.sum("n_info").alias("n_info"),
                 F.sum("n_warn").alias("n_warn"),
                 F.sum("n_error").alias("n_error")))


def seq_histogram(routed: DataFrame) -> DataFrame:
    """(sink, escape-sequence key) -> count.

    The per-doc seq_hist maps are partial aggregates already (computed
    inside the parse stage); this explodes and merges them — a two-level
    aggregation that ships one map per doc through the shuffle instead
    of one row per escape sequence (reference: vtparser.py:758-787
    sort-by-count report)."""
    exploded = routed.select(
        "sink", F.explode("seq_hist").alias("seq_key", "cnt"))
    return (exploded.groupBy("sink", "seq_key")
            .agg(F.sum("cnt").alias("n")))


def source_rollup(routed: DataFrame) -> DataFrame:
    """ROLLUP over (route, source): per-source, per-route and grand
    totals in one pass."""
    return (routed.rollup("route", "source")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("n_tok").alias("sum_n_tok")))


def top_commands(routed: DataFrame, k: int = 20) -> DataFrame:
    """Top-k reconstructed command lines per sink (rank window)."""
    from pyspark.sql import Window
    counts = (routed.select("sink",
                            F.explode("cmd_lines_routed").alias("cmd"))
              .groupBy("sink", "cmd").agg(F.count("*").alias("n")))
    w = Window.partitionBy("sink").orderBy(F.desc("n"), F.asc("cmd"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def write_aggregates(routed: DataFrame, out_dir: str) -> dict[str, DataFrame]:
    """Overwrite the five tables over ``routed`` at ``out_dir/agg_<name>``,
    concurrently, and return their frames by name.

    Each thread builds its table's frame as well as writing it: Spark
    analyzes a frame as it is built, which took 0.3-0.6 s of driver
    time for the five, and that overlaps too. Each thread target is
    wrapped here, in the caller's thread, because the wrapper captures
    the local properties it runs the target under when it is created:
    the jobs run under the caller's job group. Every write is awaited;
    the first failing one (in table order) is raised once all five
    have ended."""
    tables = {
        "sink_summary": sink_summary,
        "severity_histogram": severity_histogram,
        "seq_histogram": seq_histogram,
        "source_rollup": source_rollup,
        "top_commands": top_commands,
    }

    def write(name: str,
              table: Callable[[DataFrame], DataFrame]) -> DataFrame:
        df = table(routed)
        df.write.mode("overwrite").parquet(f"{out_dir}/agg_{name}")
        return df

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {name: pool.submit(
            inheritable_thread_target(routed.sparkSession)(write),
            name, table) for name, table in tables.items()}
        return {name: f.result() for name, f in futures.items()}
