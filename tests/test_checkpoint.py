"""Kill/resume: a killed run resumes without recomputing committed
micro-batches and converges to the same result (BASELINE.md resume
row)."""
import importlib.util
import json
import os
import shutil
import sys

import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from console_log_parser_spark.plans.checkpoint import (
    read_manifests, run_with_checkpoints)
from console_log_parser_spark.plans.pipeline import PipelineConfig

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SUBSET = 100


def _snapshot(root):
    return {os.path.relpath(os.path.join(d, f), root):
            os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(root) for f in fs}


def test_kill_resume_no_recompute(spark, small_dataset, tmp_path):
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)

    # phase 1: "killed" after 2 of 4 micro-batches
    r1 = run_with_checkpoints(spark, cfg, n_batches=4, max_batches=2)
    assert r1["ran"] == [0, 1] and not r1["complete"]
    manifests = read_manifests(out)
    assert set(manifests) == {0, 1}
    mtimes = {b: os.path.getmtime(
        f"{out}/_manifests/batch_{b:05d}.json") for b in (0, 1)}
    committed_files = {b: _snapshot(f"{out}/routed/batch={b}")
                       for b in (0, 1)}
    assert all(committed_files.values())

    # simulate a partial uncommitted write of batch 2
    os.makedirs(f"{out}/routed/batch=2/sink=sink_0", exist_ok=True)
    with open(f"{out}/routed/batch=2/sink=sink_0/garbage.parquet", "w") as f:
        f.write("partial")
    # ... and the staging dir a killed dynamic-overwrite write leaves
    staging = f"{out}/routed/.spark-staging-killed/batch=3/sink=sink_0"
    os.makedirs(staging)
    with open(f"{staging}/part.parquet", "w") as f:
        f.write("partial")

    # phase 2: resume
    r2 = run_with_checkpoints(spark, cfg, n_batches=4)
    assert r2["skipped"] == [0, 1]
    assert r2["ran"] == [2, 3]
    assert r2["complete"]
    # committed manifests untouched (no recomputation)
    for b in (0, 1):
        assert os.path.getmtime(
            f"{out}/_manifests/batch_{b:05d}.json") == mtimes[b]
        # ... and so are the committed batches' routed files
        assert _snapshot(f"{out}/routed/batch={b}") == committed_files[b]
    assert not os.path.exists(
        f"{out}/routed/batch=2/sink=sink_0/garbage.parquet")
    assert not os.path.exists(f"{out}/routed/.spark-staging-killed")

    # converges to the full-pipeline result
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == 300
    assert routed.select("doc_id").distinct().count() == 300
    assert r2["rows"] == 300

    # manifests carry lineage predicates + metrics
    m = json.load(open(f"{out}/_manifests/batch_00003.json"))
    assert "pmod(xxhash64(doc_id), 4) = 3" == m["predicate"]
    assert m["rows"] + sum(
        read_manifests(out)[b]["rows"] for b in (0, 1, 2)) == 300


def test_checkpoint_totals_match_plain_run(spark, small_dataset, tmp_path):
    out = str(tmp_path / "ckpt2")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    r = run_with_checkpoints(spark, cfg, n_batches=3)
    assert r["complete"] and r["rows"] == 300
    summ = spark.read.parquet(f"{out}/agg_sink_summary")
    assert summ.groupBy().sum("n_rows").collect()[0][0] == 300


@pytest.fixture(scope="module")
def subset_tokens(spark, small_dataset, tmp_path_factory):
    """A parquet copy of the first N_SUBSET docs, outside in_dir."""
    path = str(tmp_path_factory.mktemp("elsewhere") / "tokens.parquet")
    (spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
     .filter(F.col("doc_id") < f"doc_{N_SUBSET:08d}")
     .write.parquet(path))
    return path


def _doc_ids(spark, out):
    return {r["doc_id"] for r in
            spark.read.parquet(f"{out}/routed").select("doc_id").collect()}


def test_tokens_table_is_the_table_read(spark, small_dataset, subset_tokens,
                                        tmp_path):
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out,
                         tokens_table=subset_tokens)
    r = run_with_checkpoints(spark, cfg, n_batches=2)
    assert r["complete"] and r["rows"] == N_SUBSET
    assert _doc_ids(spark, out) == {
        f"doc_{i:08d}" for i in range(N_SUBSET)}


def _run_job(monkeypatch, *args):
    """``jobs/run_pipeline.main`` on the shared test session."""
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_job", os.path.join(ROOT, "jobs", "run_pipeline.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    # the job stops its session on exit; keep the shared test session
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", *args])
    job.main()


def test_job_cli_honours_tokens_table(spark, small_dataset, subset_tokens,
                                      tmp_path, monkeypatch, capsys):
    out = str(tmp_path / "ckpt")
    _run_job(monkeypatch, "--in-dir", small_dataset, "--out-dir", out,
             "--batches", "2", "--tokens-table", subset_tokens)
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["complete"] and report["rows"] == N_SUBSET
    assert len(_doc_ids(spark, out)) == N_SUBSET


def test_job_applies_the_runtime_conf(spark, small_dataset, subset_tokens,
                                      tmp_path, monkeypatch):
    """The spark-submit job runs with session.RUNTIME_CONF, whatever the
    session it is handed was built with (Spark's default Arrow batch is
    10,000 records)."""
    from console_log_parser_spark.session import RUNTIME_CONF
    saved = {k: spark.conf.get(k) for k in RUNTIME_CONF}
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        _run_job(monkeypatch, "--in-dir", small_dataset,
                 "--out-dir", str(tmp_path / "ckpt"), "--batches", "2",
                 "--tokens-table", subset_tokens)
        assert {k: spark.conf.get(k) for k in RUNTIME_CONF} == RUNTIME_CONF
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_resume_with_other_n_batches_is_refused(spark, small_dataset,
                                                tmp_path):
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    run_with_checkpoints(spark, cfg, n_batches=4, max_batches=1)
    # an uncommitted partial batch a same-layout resume would clear
    os.makedirs(f"{out}/routed/batch=1/sink=sink_0")
    with open(f"{out}/routed/batch=1/sink=sink_0/garbage.parquet", "w") as f:
        f.write("partial")
    before = _snapshot(out)
    with pytest.raises(ValueError, match="n_batches"):
        run_with_checkpoints(spark, cfg, n_batches=3)
    assert _snapshot(out) == before


def test_resume_deletes_batches_without_manifest(spark, small_dataset,
                                                 tmp_path):
    """A 16-batch run killed before any manifest was committed leaves
    routed batch=0..15; a resume cut for 8 batches must not read back
    batch=8..15."""
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    run_with_checkpoints(spark, cfg, n_batches=16)
    shutil.rmtree(f"{out}/_manifests")
    r = run_with_checkpoints(spark, cfg, n_batches=8)
    assert r["complete"] and r["rows"] == 300
    assert spark.read.parquet(f"{out}/routed").count() == 300
    summ = spark.read.parquet(f"{out}/agg_sink_summary")
    assert summ.groupBy().sum("n_rows").collect()[0][0] == 300


def test_manifest_counts_match_routed_table(spark, small_dataset, tmp_path):
    """Each manifest's rows/tokens, taken from the write's conditional
    sums, equal that batch's rows in the routed table it committed."""
    out = str(tmp_path / "ckpt")
    cfg = PipelineConfig(in_dir=small_dataset, out_dir=out)
    run_with_checkpoints(spark, cfg, n_batches=4, max_batches=2)
    run_with_checkpoints(spark, cfg, n_batches=4)
    got = {b: (m["rows"], m["tokens"])
           for b, m in read_manifests(out).items()}
    routed = spark.read.parquet(f"{out}/routed")
    want = {r["batch"]: (r["rows"], r["tokens"]) for r in
            routed.groupBy("batch").agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_tok").alias("tokens")).collect()}
    assert got == want and set(got) == {0, 1, 2, 3}
    assert sum(rows for rows, _ in got.values()) == 300


def _jobs_of_call(spark, cfg, group, **kw):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run_with_checkpoints(spark, cfg, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_routed_write_is_one_job_per_call(spark, small_dataset, tmp_path):
    """The uncommitted batches of a call are written in one job: a
    call running three batches runs as many Spark jobs as a call
    running one."""
    one = _jobs_of_call(
        spark, PipelineConfig(in_dir=small_dataset,
                              out_dir=str(tmp_path / "one")),
        "ckpt_one_batch", n_batches=4, max_batches=1)
    three = _jobs_of_call(
        spark, PipelineConfig(in_dir=small_dataset,
                              out_dir=str(tmp_path / "three")),
        "ckpt_three_batches", n_batches=4, max_batches=3)
    assert one > 0 and three == one
    assert set(read_manifests(str(tmp_path / "three"))) == {0, 1, 2}


def test_arrow_batches_capped_at_256_records(spark):
    """The session caps Arrow batches at 256 records: a Python worker's
    RSS follows its largest batch, and the checkpointed runner hands
    one task the whole input."""
    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"n": pa.array([b.num_rows], pa.int64())})

    df = spark.range(0, 1000, 1, numPartitions=1).mapInArrow(sizes,
                                                             "n long")
    got = [r["n"] for r in df.collect()]
    assert sum(got) == 1000 and max(got) <= 256


# One full run_with_checkpoints call over the 300-doc fixture, measured
# before its aggregate tables were written concurrently: the Spark jobs
# it ran (routed write, read-back, five aggregate tables) and each
# batch's manifest (rows, tokens).
FULL_CALL_JOBS = 17
FIXTURE_BATCHES_4 = {0: (90, 140251), 1: (76, 121115), 2: (73, 117953),
                     3: (61, 87740)}
# ... and over its first 3 docs in 8 batches, five of which get no row
FIRST_3_BATCHES_8 = {0: (0, 0), 1: (1, 2669), 2: (0, 0), 3: (0, 0),
                     4: (1, 2520), 5: (0, 0), 6: (1, 3196), 7: (0, 0)}


def _manifest_counts(out):
    return {b: (m["rows"], m["tokens"])
            for b, m in read_manifests(out).items()}


def test_full_call_job_count_and_manifests(spark, small_dataset, tmp_path):
    """A full call runs no more Spark jobs than it did with serial
    aggregate writes, and commits the same per-batch counts."""
    out = str(tmp_path / "ckpt")
    jobs = _jobs_of_call(spark, PipelineConfig(in_dir=small_dataset,
                                               out_dir=out),
                         "ckpt_full_call", n_batches=4)
    assert 0 < jobs <= FULL_CALL_JOBS
    assert _manifest_counts(out) == FIXTURE_BATCHES_4


def test_empty_batches_commit_zero_counts(spark, small_dataset, tmp_path):
    """A batch that receives no row commits rows 0 and tokens 0, not
    null: the observed sums are coalesced."""
    tokens = str(tmp_path / "first3.parquet")
    (spark.read.parquet(f"{small_dataset}/tokenized_logs.parquet")
     .filter(F.col("doc_id") < "doc_00000003").write.parquet(tokens))
    out = str(tmp_path / "ckpt")
    r = run_with_checkpoints(
        spark, PipelineConfig(in_dir=small_dataset, out_dir=out,
                              tokens_table=tokens), n_batches=8)
    assert r["complete"] and (r["rows"], r["tokens"]) == (3, 8385)
    got = _manifest_counts(out)
    assert got == FIRST_3_BATCHES_8
    assert all(type(v) is int for counts in got.values() for v in counts)
