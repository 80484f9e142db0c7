"""Micro-batch lineage manifests + resume (north_rule BASELINE.json:14:
"each micro-batch checkpoints per-partition lineage and metrics so a
killed run resumes without recomputation").

The input is carved into deterministic micro-batches by
``pmod(xxhash64(doc_id), n_batches)`` — a pure function of the data, so
a resumed run reproduces the identical batch membership (rand() would
not). One call plans every uncommitted batch (up to ``max_batches``)
as one routed frame tagged with its ``batch`` column and writes it in
ONE Spark job under ``routed/batch=<i>/sink=<s>/``, with dynamic
partition overwrite so committed batches' directories are never
touched. Per-batch row/token counts come from one Observation of
conditional sums on that same job; after the write each batch commits
a JSON manifest (tmp-file + atomic rename). On restart, committed
batches are skipped; every ``batch=<i>`` directory without a committed
manifest (a killed call's partial write, or a batch of a killed run cut
for more batches) is deleted before anything is written or read back,
and the uncommitted batches re-run, making the whole job idempotent.
Sink-side this mirrors what an Iceberg snapshot commit gives us
(SURVEY.md §7 plan B: parquet + JSON manifest shim).

Trade-off of the single write: a kill mid-call loses every batch of
that call, not just one — none of them has a manifest yet, so a
resume clears and reruns them all. It never mixes layouts, and
``max_batches`` bounds how much one call can lose. What the single
write saves is per-job fixed cost: a full 8-batch call over 2000 docs,
read-back and aggregate tables included, ran 35 Spark jobs as a
per-batch loop and runs 17 now.

A completed run reads the routed table back and writes the five
aggregate tables (``operators.aggregate.write_aggregates``) as
concurrent jobs under the caller's job group. Each of those writes is
mostly fixed latency, not work (0.4-0.65 s a table on a 4-core host),
so running them at once overlaps their latencies; they are still 12 of
the call's 17 jobs.

At local scale the batch predicate is applied before the parse stage,
so skipped batches cost only a column-pruned scan; on a real cluster
the same manifests would carry Iceberg snapshot/partition ranges so
skipped batches cost nothing.
"""
from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregate as agg_ops
from ..sources.catalog import read_tokens, write_routed
from .pipeline import PipelineConfig, build_routed


def _manifest_path(out_dir: str, batch_id: int) -> str:
    return os.path.join(out_dir, "_manifests", f"batch_{batch_id:05d}.json")


def _commit_manifest(out_dir: str, batch_id: int, payload: dict) -> None:
    os.makedirs(os.path.join(out_dir, "_manifests"), exist_ok=True)
    path = _manifest_path(out_dir, batch_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
    os.replace(tmp, path)  # atomic commit


def read_manifests(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, "_manifests")
    out = {}
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    m = json.load(f)
                out[m["batch_id"]] = m
    return out


def run_with_checkpoints(spark: SparkSession, cfg: PipelineConfig,
                         n_batches: int = 8,
                         max_batches: int | None = None) -> dict:
    """Run (or resume) the pipeline in micro-batches, all uncommitted
    batches of this call in one routed write.

    max_batches limits how many *uncommitted* batches run this call —
    which bounds what a kill mid-call loses, and lets the kill/resume
    test simulate a dead driver.
    Raises ValueError, before writing anything, when a committed
    manifest was cut for a different ``n_batches``: its batch holds a
    different slice of the input, so mixing layouts would drop or
    duplicate rows.
    Returns {"ran": [...], "skipped": [...], "rows": int, "tokens": int}.
    """
    committed = read_manifests(cfg.out_dir)
    stale = sorted(b for b, m in committed.items()
                   if m["n_batches"] != n_batches)
    if stale:
        raise ValueError(
            f"{cfg.out_dir}: batches {stale} were committed with "
            f"n_batches={committed[stale[0]]['n_batches']}, this run asks "
            f"for {n_batches}; resume with the same count or use a fresh "
            f"out_dir")
    skipped = [b for b in range(n_batches)
               if committed.get(b, {}).get("status") == "committed"]
    todo = [b for b in range(n_batches) if b not in skipped]
    if max_batches is not None:
        todo = todo[:max_batches]
    total_rows = sum(m["rows"] for m in committed.values())
    total_tokens = sum(m["tokens"] for m in committed.values())

    routed_dir = os.path.join(cfg.out_dir, "routed")
    # what no manifest vouches for, before any write or read-back: batch
    # dirs without a committed manifest (a wider killed run's
    # batch >= n_batches included), and the staging dir a killed
    # dynamic-overwrite write leaves behind
    if os.path.isdir(routed_dir):
        for name in os.listdir(routed_dir):
            if (name.startswith(".spark-staging-")
                    or (name.startswith("batch=")
                        and int(name[len("batch="):]) not in skipped)):
                shutil.rmtree(os.path.join(routed_dir, name))

    if todo:
        logs = read_tokens(spark, cfg.tokens_table
                           or f"{cfg.in_dir}/tokenized_logs.parquet")
        routes = spark.read.parquet(f"{cfg.in_dir}/route_metadata.parquet")
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
        routed = (build_routed(logs.filter(bucket.isin(todo)), routes)
                  .withColumn("batch", bucket))
        obs = Observation("batches")
        # one SQL string per sum: the same expression built from F.when /
        # F.coalesce columns costs a py4j round trip per node
        per_batch = [
            F.expr(f"coalesce(sum(if(batch = {b}, {value}, null)), 0) "
                   f"AS {name}_{b}")
            for b in todo for name, value in (("rows", 1),
                                              ("tokens", "n_tok"))]
        write_routed(routed.observe(obs, *per_batch), routed_dir,
                     mode="overwrite")
        metrics = obs.get
        for b in todo:
            rows = int(metrics[f"rows_{b}"])
            tokens = int(metrics[f"tokens_{b}"])
            _commit_manifest(cfg.out_dir, b, {
                "batch_id": b,
                "n_batches": n_batches,
                "predicate": f"pmod(xxhash64(doc_id), {n_batches}) = {b}",
                "rows": rows,
                "tokens": tokens,
                "status": "committed",
            })
            total_rows += rows
            total_tokens += tokens

    result = {"ran": todo, "skipped": skipped,
              "rows": total_rows, "tokens": total_tokens,
              "complete": len(todo) + len(skipped) == n_batches}
    if result["complete"]:
        routed_back = spark.read.parquet(routed_dir)
        agg_ops.write_aggregates(routed_back, cfg.out_dir)
    return result
