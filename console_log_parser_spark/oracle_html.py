"""Independent oracle for the HTML sink aggregates.

A second implementation of the SGR->span semantics (reference:
terminal2html.py:255-355), deliberately structured differently from
the engine's ``sinks/html.py``: the ordered text/SGR stream comes from
the char-at-a-time FSM oracle (oracle.OracleParser, not the engine's
regex), and the span stack tags every open span with an explicit KIND
at open time and matches selective closes by kind — where the engine
classifies lazily with payload regexes at close time. Only the page
template constant is shared (data, not logic).

Used by oracle_pipeline-style literal-VALUES SQL generation so the
driver's ``html_render_stats`` check is a full value-hash match.
"""
from __future__ import annotations

from collections import defaultdict
from functools import lru_cache

from . import datagen
from .oracle import OracleParser, _Event
from .sinks.html import PAGE_TEMPLATE

_ESCAPES = {"&": "&amp;", ">": "&gt;", "<": "&lt;", '"': "&quot;"}
_ATTRS = {1: "bold", 4: "underline", 5: "blink", 7: "reverse"}
# C0 controls the page drops (everything except TAB and LF)
_DROP = {chr(c) for c in range(0x20) if c not in (0x09, 0x0A)} | {"\x7f"}


def _esc(text: str) -> str:
    return "".join(_ESCAPES.get(c, c) for c in text)


class _RenderStream(OracleParser):
    """FSM subclass recording the ordered (text | SGR) stream."""

    def __init__(self) -> None:
        super().__init__()
        self.items: list = []  # str chunks interleaved with ("m", par)

    def _emit(self, ch: str) -> None:
        super()._emit(ch)
        if ch not in _DROP:
            self.items.append(ch)

    def _csi_event(self, ev: _Event) -> None:
        super()._csi_event(ev)
        if ev.final == "m" and not ev.priv:
            self.items.append(("m", ev.par))


def render_page_oracle(text: str, title: str) -> tuple[int, int, int]:
    """-> (n_spans, n_warnings, html_len) for one transcript page."""
    p = _RenderStream()
    p.feed(text)

    stack: list[tuple[str, str]] = []  # (kind, open_tag)
    n_spans = 0
    n_warn = 0
    body_parts: list[str] = []
    txt: list[str] = []

    def flush_text() -> None:
        if txt:
            body_parts.append(_esc("".join(txt)))
            txt.clear()

    def open_span(kind: str, payload: str, attr: str) -> None:
        nonlocal n_spans
        tag = f'<span {attr}="{payload}">'
        stack.append((kind, tag))
        body_parts.append(tag)
        n_spans += 1

    def close_kind(kind: str) -> None:
        nonlocal n_spans, n_warn
        idx = next((i for i in range(len(stack) - 1, -1, -1)
                    if stack[i][0] == kind), None)
        if idx is None:
            n_warn += 1
            return
        reopen = stack[idx + 1:]
        body_parts.append("</span>" * (len(stack) - idx))
        del stack[idx:]
        for k, tag in reopen:
            stack.append((k, tag))
            body_parts.append(tag)
            n_spans += 1

    def sgr(par: str) -> None:
        nonlocal n_warn
        if par in ("", "0", "00"):
            body_parts.append("</span>" * len(stack))
            stack.clear()
            return
        ps = par.split(";")
        if ps[0] in ("38", "48"):
            kind = "fg" if ps[0] == "38" else "bg"
            if len(ps) == 3 and ps[1] == "5":
                open_span(kind, ("ef" if kind == "fg" else "eb") + ps[2],
                          "class")
            elif len(ps) in (5, 6) and ps[1] == "2":
                prop = "color" if kind == "fg" else "background-color"
                open_span(kind, f"{prop}:rgb({','.join(ps[-3:])})",
                          "style")
            else:
                n_warn += 1
            return
        colors: list[tuple[str, str]] = []
        attrs: list[tuple[str, str]] = []
        for s in ps:
            try:
                v = int(s)
            except ValueError:
                n_warn += 1
                continue
            if 30 <= v <= 37:
                colors.insert(0, ("fg", f"f{v - 30}"))
            elif 40 <= v <= 47:
                colors.insert(0, ("bg", f"b{v - 40}"))
            elif 90 <= v <= 97:
                colors.insert(0, ("fg", f"ef{v - 90 + 8}"))
            elif 100 <= v <= 107:
                colors.insert(0, ("bg", f"eb{v - 100 + 8}"))
            elif v in _ATTRS:
                attrs.append((_ATTRS[v], _ATTRS[v]))
            elif v == 22:
                close_kind("bold")
            elif v == 24:
                close_kind("underline")
            elif v == 27:
                close_kind("reverse")
            elif v == 39:
                close_kind("fg")
            elif v == 49:
                close_kind("bg")
            else:
                n_warn += 1
        for kind, cls in colors + attrs:
            open_span(kind, cls, "class")

    for item in p.items:
        if isinstance(item, str):
            txt.append(item)
        else:
            flush_text()
            sgr(item[1])
    flush_text()
    body_parts.append("</span>" * len(stack))
    stack.clear()

    page = PAGE_TEMPLATE.format(title=_esc(title or "untitled"),
                                body="".join(body_parts))
    return n_spans, n_warn, len(page)


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


@lru_cache(maxsize=2)
def render_stats_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Literal-VALUES expected result of html_render_stats at sf_dir."""
    import pyarrow.parquet as pq

    ids = pq.read_table(f"{sf_dir}/documents.parquet",
                        columns=["doc_id"]).column("doc_id").to_pylist()
    routes = {r["source"]: r for r in datagen.route_metadata_rows()}
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for raw in ids:
        i = int(raw)
        text, _ = datagen.gen_doc(i, 42)
        r = routes.get(datagen.doc_source(i, 42))
        sink = r["sink"] if r else "sink_dead_letter"
        title = r["title"] if r else "untitled"
        n_spans, n_warn, html_len = render_page_oracle(text, title)
        a = agg[sink]
        a[0] += 1
        a[1] += n_spans
        a[2] += n_warn
        a[3] += html_len
    body = ",\n".join(
        "(" + ", ".join(_lit(v) for v in (sink, *agg[sink])) + ")"
        for sink in sorted(agg))
    return (f"SELECT * FROM (VALUES\n{body}\n) AS "
            "t(sink, n_pages, sum_spans, sum_warnings, sum_html_len)")
