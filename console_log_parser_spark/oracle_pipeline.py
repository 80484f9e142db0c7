"""Independent end-to-end oracle for the pipeline aggregate queries.

The transcript-parser pipeline (synth -> parse -> enrich -> route ->
aggregate) is not expressible in ANSI SQL over the driver tables — the
parse semantics live in the engine. Its aggregates are still exactly
checkable: this module recomputes them with the INDEPENDENT
char-at-a-time FSM oracle (oracle.py — validated against the
reference's golden transcripts, a different implementation from the
engine's vectorized regex parser) plus a plain-Python re-implementation
of the enrich/route/aggregate semantics, and serializes the expected
result as a literal ``SELECT * FROM (VALUES ...)`` that DuckDB can run.
That upgrades the driver's rows-only check to a full value-hash match
while keeping the oracle genuinely independent of the Spark code path.

Reference parity: the aggregates mirror vtparser.py:744-787 (histogram
side tables) generalized per BASELINE.json:6.
"""
from __future__ import annotations

from collections import Counter, defaultdict
from functools import lru_cache

from . import datagen
from .oracle import oracle_parse_doc

DEAD_LETTER_SINK = "sink_dead_letter"


@lru_cache(maxsize=2)
def routed_rows(sf_dir: str = "/root/testdata/sf0.01") -> tuple:
    """One dict per routed doc, with the same column semantics the
    Spark pipeline produces (operators/parse.py + enrich.py)."""
    import pyarrow.parquet as pq

    ids = pq.read_table(f"{sf_dir}/documents.parquet",
                        columns=["doc_id"]).column("doc_id").to_pylist()
    routes = {r["source"]: r for r in datagen.route_metadata_rows()}
    rows = []
    for raw in ids:
        i = int(raw)
        text, _ = datagen.gen_doc(i, 42)
        p = oracle_parse_doc(text)
        source = datagen.doc_source(i, 42)
        r = routes.get(source)
        sink = r["sink"] if r else DEAD_LETTER_SINK
        suppress = set(r["suppress_cmds"] or ()) if r else set()
        cmds = [c for j, c in enumerate(p["cmd_lines"])
                if (j + 1) not in suppress]
        rows.append({
            "sink": sink,
            "route": r["route"] if r else "route_dead_letter",
            "source": source,
            "severity": p["severity"],
            "n_tok": len(text),
            "n_stripped": len(p["stripped"]),
            "n_events": p["n_events"],
            "prompt_count": p["prompt_count"],
            "n_cmd_routed": len(cmds),
            "n_vim": p["n_vim"],
            "n_unparsed": p["n_unparsed"],
            "n_app_mode": p["n_app_mode"],
            "n_devstat": p["n_devstat"],
            "n_edit_warnings": p["n_edit_warnings"],
            "n_debug": p["n_debug"], "n_info": p["n_info"],
            "n_warn": p["n_warn"], "n_error": p["n_error"],
            "ts_min": p["ts_min"], "ts_max": p["ts_max"],
            "seq_hist": p["seq_hist"],
            "cmd_lines_routed": cmds,
            "cmd_lines_all": p["cmd_lines"],
            "suppress": suppress,
            "os_commands": p["os_commands"],
            "dcs_strings": p["dcs_strings"],
        })
    return tuple(rows)


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _values_sql(cols: list[str], rows: list[tuple]) -> str:
    body = ",\n".join("(" + ", ".join(_lit(v) for v in r) + ")"
                      for r in rows)
    return (f"SELECT * FROM (VALUES\n{body}\n) AS t("
            + ", ".join(cols) + ")")


def severity_histogram_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in routed_rows(sf_dir):
        a = agg[(r["sink"], r["severity"])]
        a[0] += 1
        a[1] += r["n_debug"]
        a[2] += r["n_info"]
        a[3] += r["n_warn"]
        a[4] += r["n_error"]
    rows = [(s, sev, *a) for (s, sev), a in sorted(
        agg.items(), key=lambda kv: (kv[0][0], kv[0][1] or ""))]
    return _values_sql(
        ["sink", "severity", "n_docs", "n_debug", "n_info", "n_warn",
         "n_error"], rows)


def sink_summary_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    by_sink: dict[str, list] = defaultdict(list)
    for r in routed_rows(sf_dir):
        by_sink[r["sink"]].append(r)
    rows = []
    for sink in sorted(by_sink):
        rs = by_sink[sink]
        ts_mins = [r["ts_min"] for r in rs if r["ts_min"] is not None]
        ts_maxs = [r["ts_max"] for r in rs if r["ts_max"] is not None]
        rows.append((
            sink, len(rs),
            sum(r["n_tok"] for r in rs),
            sum(r["n_stripped"] for r in rs),
            sum(r["n_events"] for r in rs),
            sum(r["prompt_count"] for r in rs),
            sum(r["n_cmd_routed"] for r in rs),
            sum(r["n_vim"] for r in rs),
            sum(r["n_unparsed"] for r in rs),
            sum(r["n_app_mode"] for r in rs),
            sum(r["n_devstat"] for r in rs),
            sum(r["n_edit_warnings"] for r in rs),
            len({r["source"] for r in rs}),
            min(ts_mins) if ts_mins else None,
            max(ts_maxs) if ts_maxs else None,
        ))
    return _values_sql(
        ["sink", "n_rows", "sum_n_tok", "sum_n_stripped", "sum_n_events",
         "sum_prompts", "sum_cmds", "sum_vim", "sum_unparsed",
         "sum_app_mode", "sum_devstat", "sum_edit_warnings", "n_sources",
         "ts_min", "ts_max"], rows)


def seq_histogram_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    agg: Counter = Counter()
    for r in routed_rows(sf_dir):
        for k, v in r["seq_hist"].items():
            agg[(r["sink"], k)] += v
    rows = [(s, k, n) for (s, k), n in
            sorted(agg.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1]))]
    return _values_sql(["sink", "seq_key", "n"], rows)


def source_rollup_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """ROLLUP(route, source): per-source, per-route and grand totals
    (operators/aggregate.py source_rollup)."""
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for r in routed_rows(sf_dir):
        for key in ((r["route"], r["source"]), (r["route"], None),
                    (None, None)):
            a = agg[key]
            a[0] += 1
            a[1] += r["n_tok"]
    rows = [(route, src, *a) for (route, src), a in sorted(
        agg.items(), key=lambda kv: (kv[0][0] or "", kv[0][1] or ""))]
    return _values_sql(["route", "source", "n_rows", "sum_n_tok"], rows)


def os_commands_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """A8 distinct-string sets per sink: OSC control strings + DCS data
    strings (reference vtparser.py:714, :738), recomputed from the
    char-FSM oracle's collected lists."""
    by_sink: dict[str, list] = defaultdict(lambda: [0, [], []])
    for r in routed_rows(sf_dir):
        a = by_sink[r["sink"]]
        a[0] += 1
        a[1].extend(r["os_commands"])
        a[2].extend(r["dcs_strings"])
    rows = []
    for sink in sorted(by_sink):
        n_docs, oscs, dcss = by_sink[sink]
        rows.append((
            sink, n_docs,
            len(oscs), len(set(oscs)),
            min(oscs) if oscs else None,
            max(oscs) if oscs else None,
            len(dcss), len(set(dcss)),
        ))
    return _values_sql(
        ["sink", "n_docs", "n_osc", "n_osc_distinct", "osc_min",
         "osc_max", "n_dcs", "n_dcs_distinct"], rows)


def app_mode_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Per-route P8/F2/F5 accounting: app-mode spans, device-status
    sequences, edit-bound warnings."""
    agg: dict[str, list] = defaultdict(lambda: [0, 0, 0, 0])
    for r in routed_rows(sf_dir):
        a = agg[r["route"]]
        a[0] += 1
        a[1] += r["n_app_mode"]
        a[2] += r["n_devstat"]
        a[3] += r["n_edit_warnings"]
    rows = [(route, *a) for route, a in sorted(agg.items())]
    return _values_sql(
        ["route", "n_docs", "sum_app_mode", "sum_devstat",
         "sum_edit_warnings"], rows)


def typed_events_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Per (kind, final) counts over the typed event stream, plus the
    F2 device-status discard accounting (kept = events surviving the
    DSR/DA filter)."""
    from .oracle import OracleParser
    from . import datagen as dg
    import pyarrow.parquet as pq

    ids = pq.read_table(f"{sf_dir}/documents.parquet",
                        columns=["doc_id"]).column("doc_id").to_pylist()
    agg: dict[tuple, list] = defaultdict(lambda: [0, 0])
    for raw in ids:
        text, _ = dg.gen_doc(int(raw), 42)
        p = OracleParser()
        p.feed(text)
        for ev in p.events:
            a = agg[(ev.kind, ev.final)]
            a[0] += 1
            dropped = ev.kind == "CSI" and (
                ev.final == "n"
                or (ev.final == "c" and ev.par in ("", "0")))
            if not dropped:
                a[1] += 1
    rows = [(k, f, *a) for (k, f), a in sorted(agg.items())]
    return _values_sql(["kind", "final", "n_events", "n_kept"], rows)


def chapters_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Per-sink chapter-heading accounting (J1 full form): total
    commands, commands whose original number carries a heading for the
    doc's source (suppressed commands emit none), distinct headings."""
    chapters = {(c["source"], c["cmd_no"]): c["heading"]
                for c in datagen.chapter_rows()}
    agg: dict[str, list] = defaultdict(lambda: [0, 0, set()])
    for r in routed_rows(sf_dir):
        a = agg[r["sink"]]
        for j in range(len(r["cmd_lines_all"])):
            no = j + 1
            a[0] += 1
            if no in r["suppress"]:
                continue
            h = chapters.get((r["source"], no))
            if h is not None:
                a[1] += 1
                a[2].add(h)
    rows = [(s, a[0], a[1], len(a[2])) for s, a in sorted(agg.items())]
    return _values_sql(
        ["sink", "n_cmds", "n_headed", "n_distinct_headings"], rows)


def top_commands_sql(
                     sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Each sink's five most frequent routed command lines, ranked by
    (count desc, command)."""
    counts: Counter = Counter()
    for r in routed_rows(sf_dir):
        for c in r["cmd_lines_routed"]:
            counts[(r["sink"], c)] += 1
    by_sink: dict[str, list] = defaultdict(list)
    for (sink, cmd), n in counts.items():
        by_sink[sink].append((cmd, n))
    rows = []
    for sink in sorted(by_sink):
        ranked = sorted(by_sink[sink], key=lambda cn: (-cn[1], cn[0]))
        for rank, (cmd, n) in enumerate(ranked[:5], start=1):
            rows.append((sink, cmd, n, rank))
    return _values_sql(["sink", "cmd", "n", "rank"], rows)
