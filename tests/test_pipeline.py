"""End-to-end pipeline vs pure-Python oracle: routed-row equality,
per-sink aggregate-count equality, severity histograms
(BASELINE.json:6). The output under test is a multi-batch
run_with_checkpoints run — the path jobs/run_pipeline.py ships."""
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from console_log_parser_spark import datagen, oracle
from console_log_parser_spark.operators.enrich import (
    DEAD_LETTER_ROUTE, DEAD_LETTER_SINK)
from console_log_parser_spark.plans.checkpoint import (
    read_manifests, run_with_checkpoints)
from console_log_parser_spark.plans.pipeline import (
    PipelineConfig, build_routed)

N_DOCS = 300
N_BATCHES = 3


@pytest.fixture(scope="module")
def pipeline_out(spark, small_dataset, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    result = run_with_checkpoints(spark, cfg, n_batches=N_BATCHES)
    assert result["complete"] and result["ran"] == list(range(N_BATCHES))
    return out, result


@pytest.fixture(scope="module")
def expected():
    """Oracle-side expected routing + aggregates."""
    routes = {r["source"]: r for r in datagen.route_metadata_rows()}
    per_doc = {}
    for i in range(N_DOCS):
        text, _ = datagen.gen_doc(i)
        o = oracle.oracle_parse_doc(text)
        src = datagen.doc_source(i)
        r = routes.get(src)
        route = r["route"] if r else DEAD_LETTER_ROUTE
        sink = r["sink"] if r else DEAD_LETTER_SINK
        supp = set(r["suppress_cmds"]) if r else set()
        cmds = [c for j, c in enumerate(o["cmd_lines"], 1) if j not in supp]
        per_doc[f"doc_{i:08d}"] = dict(o, source=src, route=route,
                                       sink=sink, n_tok=len(text),
                                       cmds_routed=cmds)
    return per_doc


def test_observed_metrics(pipeline_out, expected):
    out, metrics = pipeline_out
    n_tok = sum(d["n_tok"] for d in expected.values())
    assert metrics["rows"] == N_DOCS
    assert metrics["tokens"] == n_tok
    manifests = read_manifests(out).values()
    assert len(manifests) == N_BATCHES
    assert sum(m["rows"] for m in manifests) == N_DOCS
    assert sum(m["tokens"] for m in manifests) == n_tok


def test_routed_row_equality(spark, pipeline_out, expected):
    out, _ = pipeline_out
    routed = spark.read.parquet(f"{out}/routed")
    got = {r["doc_id"]: r for r in routed.collect()}
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        r = got[doc_id]
        assert r["sink"] == exp["sink"], doc_id
        assert r["route"] == exp["route"], doc_id
        assert r["ansi_stripped"] == exp["stripped"]
        assert list(r["cmd_lines_routed"]) == exp["cmds_routed"], doc_id


def test_sink_summary_equality(spark, pipeline_out, expected):
    out, _ = pipeline_out
    summ = {r["sink"]: r
            for r in spark.read.parquet(f"{out}/agg_sink_summary").collect()}
    exp_rows = Counter(d["sink"] for d in expected.values())
    exp_tok = defaultdict(int)
    for d in expected.values():
        exp_tok[d["sink"]] += d["n_tok"]
    assert {k: v["n_rows"] for k, v in summ.items()} == dict(exp_rows)
    assert {k: v["sum_n_tok"] for k, v in summ.items()} == dict(exp_tok)


def test_severity_histogram_equality(spark, pipeline_out, expected):
    out, _ = pipeline_out
    hist = spark.read.parquet(f"{out}/agg_severity_histogram").collect()
    got = {(r["sink"], r["severity"]): (r["n_docs"], r["n_error"])
           for r in hist}
    exp = defaultdict(lambda: [0, 0])
    for d in expected.values():
        k = (d["sink"], d["severity"])
        exp[k][0] += 1
        exp[k][1] += d["n_error"]
    assert got == {k: tuple(v) for k, v in exp.items()}


def test_seq_histogram_equality(spark, pipeline_out, expected):
    out, _ = pipeline_out
    rows = spark.read.parquet(f"{out}/agg_seq_histogram").collect()
    got = {(r["sink"], r["seq_key"]): r["n"] for r in rows}
    exp = defaultdict(int)
    for d in expected.values():
        for k, v in d["seq_hist"].items():
            exp[(d["sink"], k)] += v
    assert got == dict(exp)


def test_dead_letter_routing(spark, pipeline_out, expected):
    out, _ = pipeline_out
    routed = spark.read.parquet(f"{out}/routed")
    dead = routed.filter(F.col("sink") == DEAD_LETTER_SINK)
    exp_dead = {k for k, d in expected.items()
                if d["sink"] == DEAD_LETTER_SINK}
    got_dead = {r["doc_id"] for r in dead.select("doc_id").collect()}
    assert got_dead == exp_dead
    assert dead.filter(F.col("matched")).count() == 0


def test_broadcast_join_in_plan(spark, small_dataset):
    logs = spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
    routes = spark.read.parquet(f"{small_dataset}/route_metadata.parquet")
    plan = build_routed(logs, routes)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
