"""Router / fan-out stage: routed-column projection + per-sink writes.

The reference fans one input file out to one sink (main.py:132-139,
per-file loop). Here routing is a projection — the enrich join already
decided each row's route and sink — and the fan-out is ONE write,
hive-partitioned by sink, so no per-sink loop re-runs the parse.

No exchange is keyed on sink: a write task emits one file per sink it
sees, so a Zipf-heavy source has no reducer to pin. AQE
skew-join/partition-coalescing stays on for the joins and aggregates
downstream.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.catalog import write_routed

ROUTED_COLUMNS = [
    "doc_id", "source", "route", "sink", "matched", "n_tok",
    "ansi_stripped", "n_stripped", "n_events", "n_csi", "n_osc", "n_esc",
    "n_dcs", "n_sgr", "n_c1", "seq_hist", "severity",
    "n_debug", "n_info", "n_warn", "n_error", "ts_min", "ts_max",
    "prompt_count", "cmd_lines_routed", "n_cmd_routed", "n_vim",
    "n_unparsed", "n_app_mode", "n_devstat", "n_edit_warnings",
]


def route_stage(enriched: DataFrame) -> DataFrame:
    """Project the routed columns. Routing decides WHERE rows go; an
    aggregate over the routed frame (the flagship severity histogram)
    partial-aggregates map-side straight out of the parse stage."""
    return enriched.select(*ROUTED_COLUMNS)


def write_fanout(routed: DataFrame, out_dir: str) -> None:
    """Append the routed table under ``out_dir/routed/sink=...``; a
    reader of one sink prunes to its partition. This is the
    recompute-free fan-out (SURVEY.md §4: per-sink write loops must not
    re-run the parse)."""
    write_routed(routed, f"{out_dir}/routed")
