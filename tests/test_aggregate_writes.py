"""write_aggregates submits its five table writes at the same time. The
tables, the Spark jobs and their job group are those of the same five
frames written one after another, and a failing write is raised."""
import os
import threading

import pytest
from pyspark.sql import functions as F

from console_log_parser_spark.operators import aggregate as agg_ops
from console_log_parser_spark.plans.pipeline import build_routed
from console_log_parser_spark.sources.catalog import read_tokens

TABLES = ["sink_summary", "severity_histogram", "seq_histogram",
          "source_rollup", "top_commands"]


@pytest.fixture(scope="module")
def routed(spark, small_dataset, tmp_path_factory):
    """The fixture's routed table, written and read back, as the
    checkpointed runner hands it to write_aggregates."""
    path = str(tmp_path_factory.mktemp("agg_writes") / "routed")
    logs = read_tokens(spark, f"{small_dataset}/tokenized_logs.parquet")
    routes = spark.read.parquet(f"{small_dataset}/route_metadata.parquet")
    build_routed(logs, routes).write.parquet(path)
    return spark.read.parquet(path)


def _jobs_under_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def written(spark, routed, tmp_path_factory):
    """The five tables written by write_aggregates and, from the frames
    it returns, by a serial loop; with each side's job count."""
    root = tmp_path_factory.mktemp("agg_out")
    conc, serial = str(root / "concurrent"), str(root / "serial")
    aggs, n_conc = _jobs_under_group(
        spark, "agg_concurrent",
        lambda: agg_ops.write_aggregates(routed, conc))

    def write_serially():
        for name, df in aggs.items():
            df.write.mode("overwrite").parquet(f"{serial}/agg_{name}")

    _, n_serial = _jobs_under_group(spark, "agg_serial", write_serially)
    return conc, serial, aggs, n_conc, n_serial


def _rows(spark, path):
    return sorted(spark.read.parquet(path).collect(), key=repr)


def test_tables_equal_a_serial_write(spark, written):
    conc, serial, aggs, _, _ = written
    assert list(aggs) == TABLES
    for name in TABLES:
        got = _rows(spark, f"{conc}/agg_{name}")
        assert got, name
        assert got == _rows(spark, f"{serial}/agg_{name}"), name


def test_jobs_run_under_the_callers_job_group(written):
    *_, n_conc, n_serial = written
    assert n_serial > 0 and n_conc == n_serial


def test_failing_write_is_raised_and_no_thread_is_left(routed, tmp_path):
    # only top_commands reads cmd_lines_routed, so only its job fails
    broken = routed.withColumn(
        "cmd_lines_routed",
        F.when(F.col("n_tok") >= 0, F.raise_error(F.lit("agg write failed")))
        .otherwise(F.col("cmd_lines_routed")))
    out = str(tmp_path / "out")
    threads = threading.active_count()
    with pytest.raises(Exception, match="agg write failed"):
        agg_ops.write_aggregates(broken, out)
    assert threading.active_count() == threads
    # every other write was awaited and finished
    done = {n for n in TABLES
            if os.path.exists(f"{out}/agg_{n}/_SUCCESS")}
    assert done == set(TABLES) - {"top_commands"}
