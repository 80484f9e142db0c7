"""SGR->HTML rendering semantics (clean-room parity with the
reference's convert_csi, terminal2html.py:255-355) and the page/index
sink."""
from __future__ import annotations

from console_log_parser_spark.sinks import html as hs


def render(s):
    return hs.render_text(s)[0]


def test_escape_map():
    assert hs.escape_html('a&b<c>"d') == "a&amp;b&lt;c&gt;&quot;d"


def test_basic_color_span():
    out = render("\x1b[31mred\x1b[0m plain")
    assert out == '<span class="f1">red</span> plain'


def test_reset_closes_all():
    out = render("\x1b[1m\x1b[31mx\x1b[mY")
    assert out == '<span class="bold"><span class="f1">x</span></span>Y'


def test_color_ordering_front_attrs_back():
    # 1;32 in one sequence: color class first, then bold
    out = render("\x1b[1;32mok\x1b[0m")
    assert out == '<span class="f2"><span class="bold">ok</span></span>'


def test_bright_and_indexed_colors():
    assert render("\x1b[93mw\x1b[0m") == '<span class="ef11">w</span>'
    assert render("\x1b[104mb\x1b[0m") == '<span class="eb12">b</span>'
    assert render("\x1b[38;5;208mo\x1b[0m") == '<span class="ef208">o</span>'
    assert render("\x1b[48;5;17mz\x1b[0m") == '<span class="eb17">z</span>'


def test_rgb_style_span():
    out = render("\x1b[38;2;10;20;30mx\x1b[0m")
    assert out == '<span style="color:rgb(10,20,30)">x</span>'
    out = render("\x1b[48;2;1;2;3mx\x1b[0m")
    assert out == '<span style="background-color:rgb(1,2,3)">x</span>'


def test_selective_close_reopens_outer():
    # open fg, then bold, then close fg (39): bold must be closed and
    # reopened so nesting stays valid
    out = render("\x1b[31m\x1b[1mab\x1b[39mcd\x1b[0m")
    assert out == ('<span class="f1"><span class="bold">ab'
                   "</span></span>"
                   '<span class="bold">cd</span>')


def test_close_bold_keeps_color():
    out = render("\x1b[1m\x1b[31mab\x1b[22mcd\x1b[0m")
    assert out == ('<span class="bold"><span class="f1">ab'
                   "</span></span>"
                   '<span class="f1">cd</span>')


def test_unknown_sgr_counted_not_raised():
    body, _spans, warns = hs.render_text("\x1b[99mx\x1b[0m")
    assert warns == 1
    assert body == "x"


def test_unmatched_selective_close_counted():
    body, _spans, warns = hs.render_text("\x1b[39mx")
    assert warns == 1
    assert body == "x"


def test_spans_always_balanced():
    cases = ["\x1b[31mnever closed",
             "\x1b[1m\x1b[4m\x1b[7mnest\x1b[24mmid",
             "plain", "\x1b[0m\x1b[0m",
             "\x1b[38;2;1;2;3m\x1b[31mtwo"]
    for s in cases:
        out = render(s)
        assert out.count("<span") == out.count("</span>"), s


def test_non_sgr_sequences_dropped():
    out = render("a\x1b[2Jb\x1b]0;title\x07c\x1b[?25ld")
    assert out == "abcd"


def test_render_stage_and_index(spark):
    from console_log_parser_spark.operators.parse import encode_string_lists
    import pyarrow as pa
    texts = ["hello \x1b[32mgreen\x1b[0m world",
             "no styling at all",
             "\x1b[1;31mbold red & <tag>\x1b[0m"]
    toks = encode_string_lists(texts)
    tbl = pa.table({
        "doc_id": [f"d{i}" for i in range(3)],
        "tokens": toks,
        "sink": ["sink_a", "sink_a", "sink_b"],
        "title": ["one", "two", None],
    })
    df = spark.createDataFrame(tbl.to_pandas())
    pages = hs.render_html_stage(df)
    rows = {r["doc_id"]: r for r in pages.collect()}
    assert rows["d0"]["n_spans"] == 1
    assert rows["d1"]["n_spans"] == 0
    assert rows["d2"]["n_spans"] == 2
    assert "&amp; &lt;tag&gt;" in rows["d2"]["html"]
    assert rows["d2"]["title"] is None
    assert "<title>untitled</title>" in rows["d2"]["html"]
