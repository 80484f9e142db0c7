"""The measured process: one workload in one fresh interpreter and JVM.

``run.py`` prepares the inputs, then starts this script with the path
of a JSON config and the wall-clock time just before the start.
``setup_s`` runs from that instant to a ready session with the
workload's plan built.

Untraced (``trace`` false): set-up, the first job, ``warmup_jobs``
untimed jobs, then steady jobs until ``seconds`` have passed and at
least ``min_steady_jobs`` ran; prints the end-to-end metrics.

Traced: the same workload first runs untraced in the same JVM, then the
session restarts with Spark's event log on, the workload runs again,
and the layer probes run, each under its own job group. The event log
is folded per group after the session stops. Prints the per-layer
metrics.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from urllib.parse import unquote, urlparse

with open(sys.argv[1]) as _f:
    CFG = json.load(_f)
T_START = float(sys.argv[2])
sys.path.insert(0, CFG["root"])

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from console_log_parser_spark.operators import aggregate as agg_ops  # noqa: E402
from console_log_parser_spark.operators.enrich import (  # noqa: E402
    apply_suppress_filter, enrich_stage)
from console_log_parser_spark.operators.parse import parse_stage  # noqa: E402
from console_log_parser_spark.operators.route import (  # noqa: E402
    route_stage, write_fanout)
from console_log_parser_spark.plans.checkpoint import (  # noqa: E402
    read_manifests, run_with_checkpoints)
from console_log_parser_spark.plans.pipeline import PipelineConfig  # noqa: E402
from console_log_parser_spark.session import get_spark  # noqa: E402

import eventlog  # noqa: E402
from compare import rows_match  # noqa: E402

RUN_DIR = CFG["run_dir"]
N_BATCHES = 8


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phase(name: str) -> None:
    """Mark on stderr where the run is, in seconds since it started."""
    print(f"perfbench: {name} at {time.time() - T_START:.1f} s",
          file=sys.stderr, flush=True)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _fresh_dir(name: str) -> str:
    path = os.path.join(RUN_DIR, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _read_pq(path: str) -> list[dict]:
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pylist()


# --- workloads -------------------------------------------------------------

HIST_COLS = ["sink", "severity", "n_docs", "n_debug", "n_info", "n_warn",
             "n_error"]


class Histogram:
    """One prebuilt plan: scan -> parse -> enrich -> suppress -> route ->
    severity histogram, into the noop sink. The histogram rows come
    back as an observed metric of the same job and are checked against
    the FSM oracle. (Collecting the prebuilt DataFrame instead would
    reuse the first job's shuffle output and skip the parse.)"""

    def __init__(self, spark):
        inp = CFG["input"]
        self.docs = inp["fingerprint"]["docs"]
        self.expected = [tuple(r) for r in
                         inp["expected"]["severity_histogram"]]
        self.plan = build_prefixes(spark, inp["dir"])["aggregate"]

    def job(self) -> bool:
        obs = Observation()
        _noop(self.plan.observe(
            obs, F.collect_list(F.struct(*HIST_COLS)).alias("rows")))
        got = sorted((tuple(r) for r in obs.get["rows"]),
                     key=lambda r: (r[0], r[1] or ""))
        return got == self.expected


class Checkpointed:
    """``run_with_checkpoints`` into a fresh output directory per job:
    8 micro-batches, a manifest each, then the five aggregate tables
    over the read-back. The check reads the output with pyarrow, outside
    the timed call. Outputs are removed with the run directory when the
    run ends, not between jobs, so no deletion overlaps a timed job."""

    def __init__(self, spark):
        self.spark = spark
        inp = CFG["input"]
        self.in_dir = inp["dir"]
        self.docs = inp["fingerprint"]["docs"]
        self.tokens = inp["fingerprint"]["tokens"]
        self.expected = [tuple(r) for r in
                         inp["expected"]["severity_histogram"]]
        self.n_events = inp["expected"]["n_events"]
        self.n = 0
        self.out = None

    def job(self) -> bool:
        self.n += 1
        self.out = _fresh_dir(f"ckpt_{self.n}")
        self.result = run_with_checkpoints(
            self.spark, PipelineConfig(in_dir=self.in_dir, out_dir=self.out),
            n_batches=N_BATCHES)
        return True

    def check(self) -> bool:
        return self.verify(self.out, self.result)

    def verify(self, out: str, res: dict) -> bool:
        """All manifests committed; rows and tokens conserved in the
        manifests, the result and the sink summary; the aggregate tables
        agree with the oracle and the input."""
        mans = read_manifests(out)
        if not (res["complete"] and sorted(res["ran"] + res["skipped"]) ==
                list(range(N_BATCHES)) and len(mans) == N_BATCHES
                and all(m["status"] == "committed" for m in mans.values())):
            return False
        if (sum(m["rows"] for m in mans.values()) != self.docs
                or sum(m["tokens"] for m in mans.values()) != self.tokens
                or res["rows"] != self.docs or res["tokens"] != self.tokens):
            return False
        summary = _read_pq(f"{out}/agg_sink_summary")
        if (sum(r["n_rows"] for r in summary) != self.docs
                or sum(r["sum_n_tok"] for r in summary) != self.tokens):
            return False
        hist = sorted(((r["sink"], r["severity"], r["n_docs"], r["n_debug"],
                        r["n_info"], r["n_warn"], r["n_error"])
                       for r in _read_pq(f"{out}/agg_severity_histogram")),
                      key=lambda r: (r[0], r[1] or ""))
        if hist != self.expected:
            return False
        grand = [r for r in _read_pq(f"{out}/agg_source_rollup")
                 if r["route"] is None and r["source"] is None]
        if len(grand) != 1 or grand[0]["n_rows"] != self.docs \
                or grand[0]["sum_n_tok"] != self.tokens:
            return False
        seq = _read_pq(f"{out}/agg_seq_histogram")
        return sum(r["n"] for r in seq) == self.n_events \
            and len(_read_pq(f"{out}/agg_top_commands")) > 0


class SteppedCheckpoint(Checkpointed):
    """The checkpointed job run one micro-batch per call
    (``max_batches=1``), so each batch is timed on its own. The last call
    finds every batch committed and writes the aggregate tables; the
    output is checked as a checkpointed job's is."""

    def job(self) -> bool:
        self.out = _fresh_dir("ckpt_step")
        cfg = PipelineConfig(in_dir=self.in_dir, out_dir=self.out)
        self.batch_s = []
        for _ in range(N_BATCHES):
            t0 = time.perf_counter()
            self.result = run_with_checkpoints(
                self.spark, cfg, n_batches=N_BATCHES, max_batches=1)
            self.batch_s.append(time.perf_counter() - t0)
        return True


class AdhocQuery:
    """One ad-hoc query, looked up by name in
    ``__spark_entry__.queries()``, built and collected; its rows must
    match the DuckDB oracle's."""

    def __init__(self, spark, name: str):
        self.spark = spark
        self.query = entry.queries()[name]
        self.expected = CFG["tables"]["expected"][name]

    def job(self) -> bool:
        df = self.query(self.spark, CFG["tables"]["dir"])
        rows = df.collect()
        return df.columns == self.expected["columns"] and rows_match(
            [list(r) for r in rows], self.expected["rows"])


WORKLOADS = {"histogram": Histogram, "checkpointed": Checkpointed}


def build_prefixes(spark, in_dir: str) -> dict:
    """The histogram plan and each of its prefixes, in stage order."""
    logs = spark.read.parquet(f"{in_dir}/tokenized_logs.parquet").select(
        "doc_id", "tokens", "n_tok", "source")
    routes = spark.read.parquet(f"{in_dir}/route_metadata.parquet")
    passthrough = logs.mapInArrow(lambda it: it, logs.schema)
    parsed = parse_stage(logs)
    enriched = apply_suppress_filter(enrich_stage(parsed, routes))
    routed = route_stage(enriched)
    return {"scan": logs, "boundary": passthrough, "parse": parsed,
            "enrich": enriched, "route": routed,
            "aggregate": agg_ops.severity_histogram(routed)}


# --- runner ----------------------------------------------------------------

class Runner:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.log: list[dict] = []

    def run(self, wl, tag: str) -> float:
        """One job: timed, then checked; a raised error or a failed
        check counts as a failed job."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = wl.job()
            dt = time.perf_counter() - t0
            if ok and hasattr(wl, "check"):
                ok = wl.check()
        except Exception:  # noqa: BLE001 - a failed job is counted
            dt = time.perf_counter() - t0
            ok = False
            traceback.print_exc()
        if not ok:
            self.failed += 1
        self.log.append({"tag": tag, "s": round(dt, 4), "ok": ok})
        return dt

    def steady(self, wl, seconds: float, min_jobs: int,
               tag: str = "steady") -> list[float]:
        times: list[float] = []
        t_end = time.perf_counter() + seconds
        while len(times) < min_jobs or time.perf_counter() < t_end:
            times.append(self.run(wl, tag))
        return times


def _rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def py_rss_mb(spark) -> float:
    """Summed RSS of every Python process the JVM has started: the
    pyspark daemon and its workers, which hold the per-worker caches.
    The driver process is not included."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    jvm = spark.sparkContext._gateway.proc.pid
    pids, stack = [], [jvm]
    while stack:
        for c in children.get(stack.pop(), ()):
            stack.append(c)
            try:
                with open(f"/proc/{c}/cmdline", "rb") as f:
                    if b"python" in f.read():
                        pids.append(c)
            except OSError:
                pass
    return _rss_mb(pids)


def session(extra_conf: dict | None = None):
    return get_spark(app=f"perfbench-{CFG['workload']}",
                     master=CFG["master"], extra_conf=extra_conf)


def untraced() -> dict:
    spark = session()
    wl = WORKLOADS[CFG["workload"]](spark)
    setup_s = time.time() - T_START
    r = Runner()
    first = r.run(wl, "first")
    for _ in range(CFG["warmup_jobs"]):
        r.run(wl, "warmup")
    steady = r.steady(wl, CFG["seconds"], CFG["min_steady_jobs"])
    job_s = statistics.median(steady)
    rss = py_rss_mb(spark)
    driver_rss = _rss_mb([os.getpid()])
    spark.stop()
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_job_s": (first, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (wl.docs / job_s, "1/s"),
        "py_rss_mb": (rss, "MB"),
    }
    return {"attempted": r.attempted, "failed": r.failed,
            "metrics": metrics, "jobs": r.log,
            "driver_rss_mb": round(driver_rss, 1)}


def _python_task_overhead_ms(spark) -> float:
    """Wall ms one extra Python task adds: a passthrough ``mapInArrow``
    over a tiny range split into 8x cores vs 1x cores partitions."""
    n = spark.sparkContext.defaultParallelism
    t = {}
    for parts in (n, 8 * n):
        df = spark.range(0, parts, numPartitions=parts).mapInArrow(
            lambda it: it, "id long")
        spark.sparkContext.setJobGroup(f"overhead:{parts}", "overhead")
        t[parts] = _timed(lambda: _noop(df))
    return (t[8 * n] - t[n]) / (7 * n) * 1e3


def _ansi_docs_per_s(in_dir: str) -> float:
    """Single-core ``parse_batch`` over the workload's own Arrow batches
    in this process, no Spark: the second of two passes (warm memo,
    as in Spark's reused workers)."""
    import pyarrow.parquet as pq

    from console_log_parser_spark.operators.parse import parse_batch
    pf = pq.ParquetFile(f"{in_dir}/tokenized_logs.parquet")
    batches = list(pf.iter_batches(
        batch_size=2048, columns=["doc_id", "tokens", "n_tok", "source"]))
    docs = sum(b.num_rows for b in batches)
    dt = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        for b in batches:
            parse_batch(b)
        dt = time.perf_counter() - t0
    return docs / dt


def _py_touch(spark, parts: int) -> None:
    """A trivial Python-worker job over ``parts`` partitions."""
    spark.range(0, parts, numPartitions=parts).mapInArrow(
        lambda it: it, "id long").collect()


def _warm_workers(spark, in_dir: str) -> None:
    """One run of the histogram plan under the ``warmup`` job group: a
    new session's Python workers start with an empty parse memo."""
    spark.sparkContext.setJobGroup("warmup", "warmup")
    _noop(build_prefixes(spark, in_dir)["aggregate"])


def traced() -> dict:
    """Three sessions in one JVM, all over the workload's own input:
    A untraced (set-up, the stepped checkpointed run, a reference job);
    B traced (the workload's traced job, the prefix ledger, the layer
    probes); C untraced (a reference job again). The traced job thus
    sits between two untraced ones in the JVM's life."""
    wl_name = CFG["workload"]
    in_dir = CFG["input"]["dir"]
    log_dir = _fresh_dir("eventlog")
    os.makedirs(log_dir)
    r = Runner()

    _phase("A")
    # A. untraced. The stepped checkpointed run is the session's first
    # job, cold as in a one-shot run of the deployment job, and warms the
    # JVM for the reference job.
    t0 = time.time()
    spark = session()
    start_s = time.time() - t0
    sc = spark.sparkContext
    wl = WORKLOADS[wl_name](spark)
    first_py = _timed(lambda: _py_touch(spark, 1))
    sc.setJobGroup("checkpoint", "checkpoint")
    stepped = SteppedCheckpoint(spark)
    r.run(stepped, "checkpoint_step")
    checkpoint_jobs = len(sc.statusTracker().getJobIdsForGroup("checkpoint"))
    shutil.rmtree(stepped.out, ignore_errors=True)
    sc.setJobGroup("reference", "reference")
    plain_a = r.run(wl, "plain")
    spark.stop()

    _phase("B")
    # B. traced. After the same one-run warm-up as C, the workload's
    # traced job, then every prefix of the histogram plan into the noop
    # sink. Each probe runs under its own job group.
    spark = session({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    sc = spark.sparkContext
    wl = WORKLOADS[wl_name](spark)
    frames = build_prefixes(spark, in_dir)
    # task input metrics miss parquet's vectored reads, so the scan's
    # input is the size of the files it lists
    input_bytes = sum(os.path.getsize(unquote(urlparse(f).path))
                      for f in frames["scan"].inputFiles())
    _warm_workers(spark, in_dir)
    sc.setJobGroup("wl", "workload")
    traced_s = r.run(wl, "traced")
    t = {}
    for name, df in frames.items():
        sc.setJobGroup(f"ledger:{name}", name)
        t[name] = _timed(lambda df=df: _noop(df))

    _phase("probes")
    overhead_ms = _python_task_overhead_ms(spark)

    out = _fresh_dir("fanout")
    sc.setJobGroup("write_fanout", "write_fanout")
    write_s = _timed(lambda: write_fanout(frames["route"], out))
    files = sum(f.endswith(".parquet")
                for _, _, fs in os.walk(f"{out}/routed") for f in fs)
    sc.setJobGroup("write_aggregates", "write_aggregates")
    tables_s = _timed(lambda: agg_ops.write_aggregates(
        spark.read.parquet(f"{out}/routed"), out))
    shutil.rmtree(out, ignore_errors=True)

    _phase("adhoc")
    sc.setJobGroup("adhoc", "adhoc")
    adhoc_t = {name: r.run(AdhocQuery(spark, name), f"adhoc:{name}")
               for name in CFG["adhoc_queries"]}
    spark.stop()

    _phase("C")
    # C. untraced
    spark = session()
    wl = WORKLOADS[wl_name](spark)
    _warm_workers(spark, in_dir)
    plain_c = r.run(wl, "plain")
    spark.stop()
    ansi_rate = _ansi_docs_per_s(in_dir)

    _phase("fold")
    groups = eventlog.fold(log_dir)

    def g(name: str) -> dict:
        return groups.get(name) or eventlog.new_totals()

    wlg, mb = g("wl"), 1e6
    plain_s = (plain_a + plain_c) / 2
    metrics = {
        "session.start_s": (start_s, "s"),
        "session.first_py_s": (first_py, "s"),
        "sources.scan_s": (t["scan"], "s"),
        "sources.input_mb": (input_bytes / mb, "MB"),
        "parse.boundary_s": (t["boundary"] - t["scan"], "s"),
        "parse.sent_mb": (g("ledger:parse")["py_sent_bytes"] / mb, "MB"),
        "parse.returned_mb": (g("ledger:parse")["py_returned_bytes"] / mb,
                              "MB"),
        "parse.python_tasks": (g("ledger:parse")["python_tasks"], "count"),
        "parse.task_overhead_ms": (overhead_ms, "ms"),
        "parse.self_s": (t["parse"] - t["boundary"], "s"),
        "ansi.docs_per_s_1core": (ansi_rate, "1/s"),
        "enrich.self_s": (t["enrich"] - t["parse"], "s"),
        "route.self_s": (t["route"] - t["enrich"], "s"),
        "aggregate.histogram_s": (t["aggregate"] - t["route"], "s"),
        "route.write_s": (write_s - t["route"], "s"),
        "route.files_written": (files, "count"),
        "route.shuffle_write_mb": (
            g("write_fanout")["shuffle_write_bytes"] / mb, "MB"),
        "aggregate.tables_s": (tables_s, "s"),
        "aggregate.shuffle_mb": (
            g("write_aggregates")["shuffle_write_bytes"] / mb, "MB"),
        "checkpoint.batch_s": (statistics.median(stepped.batch_s), "s"),
        "checkpoint.jobs": (checkpoint_jobs, "count"),
        "spark.tasks": (wlg["tasks"], "count"),
        "spark.tasks_retried": (wlg["tasks_retried"], "count"),
        "spark.executor_run_s": (wlg["executor_run_s"], "s"),
        "spark.executor_cpu_s": (wlg["executor_cpu_s"], "s"),
        "spark.gc_s": (wlg["gc_s"], "s"),
        "spark.shuffle_write_mb": (wlg["shuffle_write_bytes"] / mb, "MB"),
        "trace.overhead_pct": ((traced_s - plain_s) / plain_s * 100, "%"),
    }
    for name, s in adhoc_t.items():
        metrics[f"adhoc.{name}_s"] = (s, "s")
    ledger = {"prefix_s": t, "untraced_job_s": plain_s,
              "traced_job_s": traced_s, "groups": groups}
    if wl_name == "histogram":
        # the self times telescope to the noop run of the whole plan,
        # timed apart from the workload's traced jobs
        ledger["self_sum_over_traced_job"] = t["aggregate"] / traced_s
    return {"attempted": r.attempted, "failed": r.failed,
            "metrics": metrics, "jobs": r.log, "ledger": ledger}


def main() -> None:
    os.makedirs(RUN_DIR, exist_ok=True)
    res = traced() if CFG["trace"] else untraced()
    res["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in res["metrics"].items()}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
