"""Physical-plan shape tests: the properties that make the engine fast
at 100 TB are asserted here so a regression shows up as a test failure,
not a 10x slowdown on the cluster.

- the parse stage is ONE MapInArrow node (Arrow batches, no pandas
  conversion, no row-at-a-time BatchEvalPython anywhere);
- the parquet scan under the parse stage is pruned to exactly the four
  input columns;
- the enrich join is a broadcast hash join (the route dimension must
  never shuffle the fact side);
- filter predicates reach the parquet scan (PushedFilters non-empty);
- no headline relational query plan contains a per-row Python eval.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def routed_plan(spark, small_dataset):
    from console_log_parser_spark.plans.pipeline import build_routed
    logs = spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
    routes = spark.read.parquet(f"{small_dataset}/route_metadata.parquet")
    return _formatted(build_routed(logs, routes))


def test_parse_stage_is_one_arrow_node(routed_plan):
    # tree lines look like "+- MapInArrow (2)"; the node-detail section
    # repeats the name without the "(id)" suffix on the same line
    assert routed_plan.count("MapInArrow (") == 1
    assert "BatchEvalPython" not in routed_plan
    assert "ArrowEvalPython" not in routed_plan  # not even pandas_udf:
    # the parse stage crosses the JVM->Python boundary exactly once


def test_scan_pruned_to_input_columns(routed_plan):
    # the ReadSchema of the tokenized_logs scan must carry only the four
    # input columns — a scan reading more would ship dead bytes at scale
    read = [ln for ln in routed_plan.splitlines() if "ReadSchema" in ln]
    log_scans = [ln for ln in read if "tokens" in ln]
    assert log_scans, routed_plan
    for ln in log_scans:
        assert "doc_id" in ln and "n_tok" in ln and "source" in ln


def test_enrich_is_broadcast_join(routed_plan):
    assert "BroadcastHashJoin" in routed_plan
    assert "SortMergeJoin" not in routed_plan


def test_filter_pushdown_reaches_scan(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                   & (F.col("l_quantity") < 24))
         .select("l_extendedprice"))
    plan = _formatted(q)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual" in plan


def test_headline_queries_have_no_per_row_python(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em
    qs = em.queries()
    for name in ("q1_pricing_summary", "q3_shipping_priority",
                 "events_sessionize", "doc_minhash_dedup",
                 "doc_simhash_pairs", "ann_bruteforce_top10",
                 "doc_decontaminate", "doc_pack_sequences",
                 # r5 additions: all built-ins/literal projections
                 "doc_bloom_decontaminate", "doc_dsir_scores",
                 "doc_semdedup", "embedding_pq_codes", "ann_pq_top10",
                 "ann_ivfpq_top10", "doc_tokenizer_fertility",
                 "doc_ngram_novelty"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_bloom_and_dsir_probes_are_broadcast(spark):
    """The sketch/dimension sides must reach the corpus as broadcast
    hash joins — a shuffled probe would defeat both operators' scale
    designs (map-side membership / map-side scoring)."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em
    qs = em.queries()
    for name, min_bcast in (("doc_bloom_decontaminate", 3),
                            ("doc_dsir_scores", 1)):
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= min_bcast, name
        assert "SortMergeJoin" not in plan, name


def test_small_dims_broadcast_in_tpch_joins(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as em
    plan = _plan(em.q5_local_supplier(spark, sf_dir))
    # at sf0.001 all dimension sides fit under the broadcast threshold;
    # the point is that Catalyst is free to choose broadcast (no hints
    # blocking it) — region/nation must never arrive via SortMergeJoin
    assert "BroadcastHashJoin" in plan


def test_chapter_and_hop_joins_are_broadcast(spark, small_dataset):
    """The J1 chapter dimension and J2 hop-target table are
    config-sized: both must reach the fact side as broadcast joins,
    never a shuffle of the commands."""
    from console_log_parser_spark import datagen
    from console_log_parser_spark.operators.enrich import (
        chapter_headings, enrich_stage, hop_target_renumber)
    from console_log_parser_spark.operators.parse import parse_stage
    logs = spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
    routes = spark.read.parquet(
        f"{small_dataset}/route_metadata.parquet")
    chapters = spark.createDataFrame(datagen.chapter_rows())
    enriched = enrich_stage(parse_stage(
        logs.select("doc_id", "tokens", "n_tok", "source")), routes)
    plan = _plan(chapter_headings(enriched, chapters))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    commands = spark.createDataFrame(
        [("d", i, i % 3 == 0) for i in range(1, 20)],
        "doc_id string, cmd_no int, suppressed boolean")
    hops = spark.createDataFrame([("d", 5), ("d", 9)],
                                 "doc_id string, cmd_no int")
    plan2 = _plan(hop_target_renumber(commands, hops))
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2
