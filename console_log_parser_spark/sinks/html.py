"""HTML document sink: SGR -> styled-span conversion and per-doc page
rendering, as an Arrow-vectorized stage.

Clean-room reimplementation of the semantics of the reference's
``HtmlDocumentCreator.convert_csi`` (terminal2html.py:255-355) and
escaping (terminal2html.py:48-53, 240-247), restructured as a pure
fold over a document's SGR events instead of a stateful file writer:

- SGR reset (`` / 0 / 00) closes the whole span stack;
- 30-37/40-47 -> ``f<n>``/``b<n>`` classes, 90-97/100-107 ->
  ``ef<8+n>``/``eb<8+n>`` (color classes go in FRONT of attribute
  classes opened by the same sequence, mirroring the reference's
  ``insert(0)`` ordering);
- 1/4/5/7 -> bold/underline/blink/reverse classes;
- 38;5;n / 48;5;n -> ``ef<n>``/``eb<n>``; 38;2;r;g;b / 48;2;r;g;b ->
  inline rgb style (standalone sequences only — mixed-parameter 38/48
  is counted as a warning and skipped, as the reference warns);
- 22/24/27/39/49 selectively close the innermost matching span, then
  re-open everything that was stacked above it (the reference's
  ``_close_span`` stack surgery);
- unknown SGR parameters and unmatched selective closes are *counted*
  (``n_warnings``), not raised — at 10^12 rows one odd sequence must
  not kill the job (the reference raises, terminal2html.py:322).

The stage renders one HTML page per doc with the reference's dark
palette (reference S6: main.py:29-128); the driver's
``html_render_stats`` query aggregates the page rows per sink. Nothing
writes the pages to files or builds the reference's S7 index table.
"""
from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions import ansi

HTML_ESCAPES = {"&": "&amp;", ">": "&gt;", "<": "&lt;", '"': "&quot;"}
_ESC_RE = re.compile(r'[&><"]')

_FG_CLOSE = re.compile(r"(color:rgb)|(e?f)")
_BG_CLOSE = re.compile(r"(background-color:rgb)|(e?b[0-9])")
_BOLD_CLOSE = re.compile(r"bold")
_UNDERLINE_CLOSE = re.compile(r"underline")
_REVERSE_CLOSE = re.compile(r"reverse")

_ATTR_CLASSES = {1: "bold", 4: "underline", 5: "blink", 7: "reverse"}


def escape_html(text: str) -> str:
    return _ESC_RE.sub(lambda m: HTML_ESCAPES[m.group(0)], text)


class SgrRenderer:
    """Fold SGR parameter strings into HTML span opens/closes.

    The stack holds (payload, attr) pairs where attr is 'class' or
    'style' — exactly enough to re-open spans after a selective close.
    """

    __slots__ = ("stack", "n_warnings")

    def __init__(self) -> None:
        self.stack: list[tuple[str, str]] = []
        self.n_warnings = 0

    def _open(self, payload: str, attr: str) -> str:
        self.stack.append((payload, attr))
        return f'<span {attr}="{payload}">'

    def _close_matching(self, regex: re.Pattern) -> str:
        idx = len(self.stack) - 1
        while idx >= 0 and not regex.match(self.stack[idx][0]):
            idx -= 1
        if idx < 0:
            self.n_warnings += 1
            return ""
        out = "</span>" * (len(self.stack) - idx)
        reopen = self.stack[idx + 1:]
        del self.stack[idx:]
        for payload, attr in reopen:
            self.stack.append((payload, attr))
            out += f'<span {attr}="{payload}">'
        return out

    def sgr(self, param: str) -> str:
        if param in ("", "0", "00"):
            out = "</span>" * len(self.stack)
            self.stack.clear()
            return out
        params = param.split(";")
        if params[0] in ("38", "48"):
            fg = params[0] == "38"
            if len(params) == 3 and params[1] == "5":
                cls = ("ef" if fg else "eb") + params[2]
                return self._open(cls, "class")
            if len(params) in (5, 6) and params[1] == "2":
                rgb = ",".join(params[-3:])
                prop = "color" if fg else "background-color"
                return self._open(f"{prop}:rgb({rgb})", "style")
            self.n_warnings += 1
            return ""
        out = ""
        colors: list[str] = []
        attrs: list[str] = []
        for p in params:
            try:
                v = int(p)
            except ValueError:
                self.n_warnings += 1
                continue
            if 30 <= v <= 37:
                colors.insert(0, f"f{v - 30}")
            elif 40 <= v <= 47:
                colors.insert(0, f"b{v - 40}")
            elif 90 <= v <= 97:
                colors.insert(0, f"ef{v - 90 + 8}")
            elif 100 <= v <= 107:
                colors.insert(0, f"eb{v - 100 + 8}")
            elif v in _ATTR_CLASSES:
                attrs.append(_ATTR_CLASSES[v])
            elif v == 22:
                out += self._close_matching(_BOLD_CLOSE)
            elif v == 24:
                out += self._close_matching(_UNDERLINE_CLOSE)
            elif v == 27:
                out += self._close_matching(_REVERSE_CLOSE)
            elif v == 39:
                out += self._close_matching(_FG_CLOSE)
            elif v == 49:
                out += self._close_matching(_BG_CLOSE)
            else:
                self.n_warnings += 1
        for cls in colors + attrs:
            out += self._open(cls, "class")
        return out

    def close_all(self) -> str:
        out = "</span>" * len(self.stack)
        self.stack.clear()
        return out


def render_text(text: str) -> tuple[str, int, int]:
    """One decoded transcript -> (HTML body, n_spans_opened,
    n_warnings). Non-SGR escape sequences are dropped; C0 controls
    other than LF/TAB are dropped (the page shows the *visible*
    stream); spans are always balanced."""
    r = SgrRenderer()
    parts: list[str] = []
    n_spans = 0
    last = 0
    for m in ansi.ANSI_RE.finditer(text):
        if m.start() > last:
            parts.append(escape_html(_clean_c0(text[last:m.start()])))
        g = m.group(0)
        cm = ansi.CSI_PARTS_RE.match(g)
        if cm and cm.group("final") == "m" and not cm.group("priv"):
            html = r.sgr(cm.group("par"))
            n_spans += html.count("<span")
            parts.append(html)
        last = m.end()
    if last < len(text):
        parts.append(escape_html(_clean_c0(text[last:])))
    parts.append(r.close_all())
    return "".join(parts), n_spans, r.n_warnings


_C0_DROP = re.compile(r"[\x00-\x08\x0b-\x1f\x7f]")


def _clean_c0(s: str) -> str:
    return _C0_DROP.sub("", s)


PAGE_TEMPLATE = """<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8"/>
<title>{title}</title>
<style>
pre {{ white-space: pre-wrap; background: #101010; color: #e5e5e5; }}
.f0,.ef0 {{ color: #000000; }} .f1,.ef1 {{ color: #cd0000; }}
.f2,.ef2 {{ color: #00cd00; }} .f3,.ef3 {{ color: #cdcd00; }}
.f4,.ef4 {{ color: #0000ee; }} .f5,.ef5 {{ color: #cd00cd; }}
.f6,.ef6 {{ color: #00cdcd; }} .f7,.ef7 {{ color: #e5e5e5; }}
.b0 {{ background-color: #000000; }} .b1 {{ background-color: #cd0000; }}
.b2 {{ background-color: #00cd00; }} .b3 {{ background-color: #cdcd00; }}
.b4 {{ background-color: #0000ee; }} .b5 {{ background-color: #cd00cd; }}
.b6 {{ background-color: #00cdcd; }} .b7 {{ background-color: #e5e5e5; }}
.bold {{ font-weight: bold; }} .underline {{ text-decoration: underline; }}
.blink {{ text-decoration: blink; }} .reverse {{ filter: invert(1); }}
</style>
</head>
<body>
<h1>{title}</h1>
<pre>
{body}
</pre>
</body>
</html>
"""

HTML_SCHEMA_DDL = ("doc_id string, sink string, title string, "
                   "html string, n_spans int, n_warnings int, "
                   "html_len int")


def render_html_stage(df: DataFrame) -> DataFrame:
    """(doc_id, tokens, sink, title) -> rendered page rows.

    Shares the parse stage's vectorized token decode; one Arrow batch
    in, one out."""
    from ..operators.parse import decode_token_lists

    def render(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            docs, _ = decode_token_lists(batch.column("tokens"))
            titles = batch.column("title").to_pylist()
            pages, spans, warns, lens = [], [], [], []
            for text, title in zip(docs, titles):
                body, n_spans, n_warn = render_text(text)
                page = PAGE_TEMPLATE.format(
                    title=escape_html(title or "untitled"),
                    body=body)
                pages.append(page)
                spans.append(n_spans)
                warns.append(n_warn)
                lens.append(len(page))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("sink"),
                 pa.array(titles, pa.string()),
                 pa.array(pages, pa.string()),
                 pa.array(spans, pa.int32()),
                 pa.array(warns, pa.int32()),
                 pa.array(lens, pa.int32())],
                names=["doc_id", "sink", "title", "html", "n_spans",
                       "n_warnings", "html_len"])

    return df.select("doc_id", "tokens", "sink", "title").mapInArrow(
        render, HTML_SCHEMA_DDL)

