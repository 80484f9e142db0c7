"""Micro-batch lineage manifests + resume (north_rule BASELINE.json:14:
"each micro-batch checkpoints per-partition lineage and metrics so a
killed run resumes without recomputation").

The input is carved into deterministic micro-batches by
``pmod(xxhash64(doc_id), n_batches)`` — a pure function of the data, so
a resumed run reproduces the identical batch membership (rand() would
not). Each batch writes its routed fan-out under
``routed/batch=<i>/sink=<s>/`` and then commits a JSON manifest
(tmp-file + atomic rename) carrying observed row/token counts. On
restart, committed batches are skipped; a partially-written
uncommitted batch directory is deleted and re-run, making the whole
job idempotent. Sink-side this mirrors what an Iceberg snapshot commit
gives us (SURVEY.md §7 plan B: parquet + JSON manifest shim).

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
    """Run (or resume) the pipeline in micro-batches.

    max_batches limits how many *uncommitted* batches run this call —
    used by the kill/resume test to simulate a dead driver.
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
    ran, skipped = [], []
    total_rows = sum(m["rows"] for m in committed.values())
    total_tokens = sum(m["tokens"] for m in committed.values())

    logs = read_tokens(spark, cfg.tokens_table
                       or f"{cfg.in_dir}/tokenized_logs.parquet")
    routes = spark.read.parquet(f"{cfg.in_dir}/route_metadata.parquet")
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))

    for b in range(n_batches):
        if b in committed and committed[b].get("status") == "committed":
            skipped.append(b)
            continue
        if max_batches is not None and len(ran) >= max_batches:
            break
        batch_dir = os.path.join(cfg.out_dir, "routed", f"batch={b}")
        if os.path.isdir(batch_dir):  # uncommitted partial write
            shutil.rmtree(batch_dir)

        routed = build_routed(logs.filter(bucket == b), routes)
        obs = Observation(f"batch_{b}")
        routed = routed.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tokens"))
        write_routed(routed, batch_dir, mode="overwrite")
        metrics = dict(obs.get)
        _commit_manifest(cfg.out_dir, b, {
            "batch_id": b,
            "n_batches": n_batches,
            "predicate": f"pmod(xxhash64(doc_id), {n_batches}) = {b}",
            "rows": int(metrics["rows"]),
            "tokens": int(metrics["tokens"]),
            "status": "committed",
        })
        total_rows += int(metrics["rows"])
        total_tokens += int(metrics["tokens"])
        ran.append(b)

    result = {"ran": ran, "skipped": skipped,
              "rows": total_rows, "tokens": total_tokens,
              "complete": len(ran) + len(skipped) == n_batches}
    if result["complete"]:
        routed_back = spark.read.parquet(f"{cfg.out_dir}/routed")
        agg_ops.write_aggregates(routed_back, cfg.out_dir)
    return result
