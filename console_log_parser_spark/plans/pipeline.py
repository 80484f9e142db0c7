"""End-to-end parse -> enrich -> route DAG assembly.

The one place the pipeline's stages are chained. Every consumer — the
checkpointed runner, the driver contract's flagship and pipeline_*
queries, the bench — builds its routed frame here and adds its own
aggregate or write on top.

One declarative DataFrame plan: Catalyst prunes the scan to the four
input columns, fuses scan->MapInArrow->project and broadcast-joins the
route dimension; no exchange is needed until an aggregate.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators.enrich import apply_suppress_filter, enrich_stage
from ..operators.parse import parse_stage
from ..operators.route import route_stage


@dataclass
class PipelineConfig:
    in_dir: str
    out_dir: str
    # Iceberg table identifier or parquet path for the tokenized corpus
    # (Iceberg is preferred at scale: hidden partitioning + snapshot
    # isolation for resume); None -> parquet under in_dir
    tokens_table: str | None = None


def build_routed(logs: DataFrame, routes: DataFrame) -> DataFrame:
    """The lazy routed-DataFrame plan (no writes) over a tokenized-log
    frame and the route dimension."""
    parsed = parse_stage(logs.select("doc_id", "tokens", "n_tok", "source"))
    return route_stage(apply_suppress_filter(enrich_stage(parsed, routes)))
