"""Enrich stage: broadcast source->route metadata join.

The analog of the reference's config-driven routing (main.py:161-278:
id -> file/options lookup). The dimension is tiny (one row per source)
relative to the fact table (10^12 sequences), so the join MUST be a
broadcast hash join — never a shuffle of the fact side. Unmatched
sources get the dead-letter route (the reference would KeyError;
at scale one unknown source must not kill the job).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEAD_LETTER_ROUTE = "route_dead_letter"
DEAD_LETTER_SINK = "sink_dead_letter"


def enrich_stage(parsed: DataFrame, routes: DataFrame) -> DataFrame:
    """Left broadcast-join parse output with the route dimension;
    coalesce unmatched to the dead-letter route/sink."""
    dim = F.broadcast(
        routes.select("source", "route", "sink", "suppress_cmds", "title"))
    out = parsed.join(dim, on="source", how="left")
    return (out
            .withColumn("route", F.coalesce("route",
                                            F.lit(DEAD_LETTER_ROUTE)))
            .withColumn("sink", F.coalesce("sink", F.lit(DEAD_LETTER_SINK)))
            .withColumn("matched", F.col("title").isNotNull()))


def hop_target_renumber(commands: DataFrame, hops: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """J2: hop-target lookup with filtered renumbering
    (terminal2html.py:16-38 ``HopTarget.get_target_cmd`` +
    :376-388 ``add_hopto_link``).

    When a hop links to command ``t`` of a target document whose
    suppress filter hides some commands, the DISPLAYED number is
    ``t - |{suppressed s : s <= t}|`` (the reference walks the sorted
    filter list decrementing while ``cmd <= hop``). Here that walk is
    a running ``sum(suppressed)`` window per document (partitioned —
    scale-safe) and the hop table, tiny by construction (a handful of
    cross-file links per corpus), joins broadcast.

    commands: (id_col, cmd_no, suppressed) — one row per command.
    hops: (id_col, cmd_no) — hop targets to renumber.
    Returns hops + ``renumbered``.
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(id_col).orderBy("cmd_no")
         .rowsBetween(Window.unboundedPreceding, 0))
    numbered = commands.withColumn(
        "renumbered",
        F.col("cmd_no")
        - F.sum(F.col("suppressed").cast("int")).over(w))
    # hops is the small side: broadcast it so the command fact side
    # never shuffles for the lookup
    return (numbered.select(id_col, "cmd_no", "renumbered")
            .join(F.broadcast(hops), [id_col, "cmd_no"], "inner"))


def chapter_headings(enriched: DataFrame, chapters: DataFrame) -> DataFrame:
    """J1 full form: per-COMMAND chapter lookup
    (terminal2html.py:399-402 + main.py:237-241): a heading fires when
    a command's ORIGINAL 1-based number appears in the source's
    chapter config and the command is not suppressed (the reference
    increments cmd_count before the suppress check, so suppressed
    commands keep their numbers but emit nothing).

    Broadcast join on (source, cmd_no) — the chapter dimension is a
    config file, never fact-sized. Returns one row per command:
    (doc_id, source, sink, cmd_no, cmd, suppressed, heading|null).
    """
    cmds = enriched.select(
        "doc_id", "source", "sink", "suppress_cmds",
        F.posexplode("cmd_lines").alias("pos", "cmd"))
    with_no = (cmds
               .withColumn("cmd_no", (F.col("pos") + 1).cast("int"))
               .withColumn(
                   "suppressed",
                   F.coalesce(
                       F.array_contains("suppress_cmds", F.col("cmd_no")),
                       F.lit(False)))
               .drop("pos", "suppress_cmds"))
    dim = F.broadcast(chapters.select("source", "cmd_no", "heading"))
    out = with_no.join(dim, ["source", "cmd_no"], "left")
    return out.withColumn(
        "heading",
        F.when(F.col("suppressed"), F.lit(None)).otherwise(
            F.col("heading")))


def apply_suppress_filter(enriched: DataFrame) -> DataFrame:
    """Drop suppressed command numbers from cmd_lines per route config
    (reference: terminal2html.py:390-395, set via main.py:243-245).

    Command numbers are 1-based positions within the doc. Pure built-in
    array ops (JVM-side): filter by index against the broadcast-joined
    suppress list.
    """
    has = F.col("suppress_cmds").isNotNull() & (F.size("suppress_cmds") > 0)
    filtered = F.filter(
        "cmd_lines",
        lambda _x, i: ~F.array_contains(
            F.col("suppress_cmds"), (i + F.lit(1)).cast("int")))
    return (enriched
            .withColumn("cmd_lines_routed",
                        F.when(has, filtered).otherwise(F.col("cmd_lines")))
            .withColumn("n_cmd_routed", F.size("cmd_lines_routed")))
