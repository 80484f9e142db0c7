"""Engine (vectorized regex, functions/ansi.py) vs oracle (char-at-a-time
FSM, oracle.py) vs generator intent (datagen.py) — the per-doc
correctness core."""
import random
import re

import pytest

from console_log_parser_spark import datagen, oracle
from console_log_parser_spark.functions import ansi

KEYS = ["stripped", "seq_hist", "n_events", "n_csi", "n_osc", "n_esc",
        "n_dcs", "n_sgr", "n_c1", "severity", "n_debug", "n_info",
        "n_warn", "n_error", "ts_min", "ts_max", "prompt_count",
        "cmd_lines", "n_vim", "n_unparsed"]


@pytest.mark.parametrize("lo,hi", [(0, 150), (150, 300), (5000, 5100)])
def test_engine_matches_oracle_on_synthetic(lo, hi):
    for i in range(lo, hi):
        text, exp = datagen.gen_doc(i)
        e = ansi.parse_doc(text)
        o = oracle.oracle_parse_doc(text)
        for k in KEYS:
            assert e[k] == o[k], f"doc {i} key {k}"
        assert e["cmd_lines"] == exp["cmd_lines"], f"doc {i} intent"
        assert e["n_vim"] == exp["n_vim"]
        assert e["prompt_count"] == exp["prompt_count"]


@pytest.mark.parametrize("text", [
    "",
    "plain text only\nsecond line\n",
    "colors \x1b[31mred\x1b[0m done\n",
    "trunc csi \x1b[12",
    "trunc osc \x1b]0;title-without-bel",
    "trunc esc \x1b",
    "trunc esc-int \x1b(",
    "c1 csi \x9b31mred\x9b0m\n",
    "c1 single \x85 next\n",
    "lone esc mid \x1b\ndoc\n",
    "osc st \x1b]2;t\x1b\\after\n",
    "dcs \x1bPq#0;2;0;0;0#0~~\x1b\\after\n",
    "alice@host:~$ echo hi\r\n",
    "alice@host:~$ ech\x08\x08\x08echo x\x1b[K\r\n",
    "tab\tand\x0bvt\n",
    "\x1b[22;0;0tvim stuff\x1b[23;0;0t\r\nalice@h:~$ after\r\n",
    # fuzz-found margins: BS editing INTO the prompt prefix must kill
    # the prompt match (`~` is only legal as the leading cwd char,
    # terminalparser.py:28), and cursor-forward at a G-drifted column
    # appends one space per step (terminal2html.py:480-488)
    "alice@box:~/w$ \x08\x08\x08~\r\n",
    "\x1b[5Galice@box:~/w$ \x1b[3C\r\n",
])
def test_edge_cases_engine_eq_oracle(text):
    e = ansi.parse_doc(text)
    o = oracle.oracle_parse_doc(text)
    for k in KEYS:
        assert e[k] == o[k], k


def test_strip_removes_all_escapes():
    text, _ = datagen.gen_doc(7)
    s = ansi.classify_and_strip(text)[0]
    assert "\x1b" not in s
    assert not any(0x80 <= ord(c) <= 0x9F for c in s)


def test_tokens_roundtrip():
    text, _ = datagen.gen_doc(3)
    toks = datagen.text_to_tokens(text)
    assert len(toks) == len(text)
    assert "".join(map(chr, toks)) == text


def test_severity_order_and_counts():
    r = ansi.parse_doc("2025-01-01T00:00:00 INFO a: x\n"
                       "2025-01-01T00:00:01 ERROR b: y\n"
                       "2025-01-02 03:04:05 WARN c: z\n")
    assert r["severity"] == "ERROR"
    assert (r["n_info"], r["n_error"], r["n_warn"], r["n_debug"]) == (1, 1, 1, 0)
    assert r["ts_min"] == "2025-01-01T00:00:00"
    assert r["ts_max"] == "2025-01-02 03:04:05"


def test_editing_ops_unit():
    # CSI @ insert, C forward, D back, K clear, P delete, X erase
    assert (ansi.build_line_counted("abdef\x1b[3D\x1b[@c\x1b[3C")[0]
            == "abcdef")
    assert ansi.build_line_counted("abcZZZ\x1b[3D\x1b[3P")[0] == "abc"
    assert ansi.build_line_counted("abcdef\x1b[4D\x1b[2X")[0] == "ab  ef"
    assert ansi.build_line_counted("abcdefxy\x08\x08\x1b[K")[0] == "abcdef"
    assert ansi.build_line_counted("junk\rgood")[0] == "good"
    assert ansi.build_line_counted("ab\x1b[5Cz")[0] == "ab     z"
    assert ansi.build_line_counted("hello\x1b[2G_")[0] == "h_llo"


# --- P5 / UTF-8 margin tests (SURVEY §7 risk register) --------------------

@pytest.mark.parametrize("text", [
    # GR range 0xA0-0xFF is printable data (the reference folds GR to
    # GL through its table, vtparser.py:204-213; the engine's
    # decode-before-match design sees the decoded characters directly)
    "caf\xe9 latte \xa0\xff\xfe\r\n",
    "alice@box:~/w$ echo na\xefve\r\n",
    "\x1b[31m\xe9\xa0\x1b[0m styled GR\n",
    "GR next to C1: \xa0\x85\xff\n",
    "GR inside OSC \x1b]0;caf\xe9\x07 and after\n",
    # truncated escapes at end-of-document, each introducer family
    "truncated csi at eod \x1b[38;5",
    "truncated csi interm \x1b[1;2 ",
    "truncated osc at eod \x1b]0;half title",
    "truncated dcs at eod \x1bPq#0;partial",
    "truncated esc at eod \x1b",
    "truncated esc interm at eod \x1b(",
    "gr then truncation \xe9\x1b[12",
])
def test_p5_gr_and_eod_margins_engine_eq_oracle(text):
    e = ansi.parse_doc(text)
    o = oracle.oracle_parse_doc(text)
    for k in KEYS:
        assert e[k] == o[k], (k, repr(text))


def test_p5_gr_chars_survive_strip_and_replay():
    # GR chars are kept by the strip (they are data, not control) and
    # flow through the LineBuilder replay unchanged
    s = ansi.classify_and_strip("\x1b[31m\xa0caf\xe9\xff\x1b[0m")[0]
    assert s == "\xa0caf\xe9\xff"
    assert ansi.build_line_counted("x\xa0y\x08z")[0] == "x\xa0z"


@pytest.mark.parametrize("text", [
    # dangling ESC (matched by no ANSI_RE branch): retained by the
    # strip, dropped by the replay layer — the edit-hint fast path must
    # fall back to the LineBuilder walk (ADVICE r3 high)
    "alice@box:~/w$ echo hi\x1b\x85tail\n",
    "alice@box:~/w$ echo hi\x1b\x1btail\n",
    "alice@box:~/w$ a\x1b\x7fb\n",
    "alice@box:~/w$ a\x1b\xffb\n",
    "alice@box:~/w$ x\x1b\x9b1Cy\n",
    # an editing CSI led by the C1 byte must take the replay walk
    "alice@box:~/w$ abc\x9b2Dx",
    # multi-param / malformed params on editing finals: leading numeric
    # parameter + one warning, never a ValueError (ADVICE r3 low)
    "alice@box:~/w$ ab\x1b[1;5Ccd\n",
    "alice@box:~/w$ ab\x1b[;Dcd\n",
    "alice@box:~/w$ abcd\x1b[1:3P\n",
    "alice@box:~/w$ ab\x1b[2;0Kcd\n",
    "alice@box:~/w$ ab\x1b[1<2Ccd\n",
])
def test_dangling_esc_and_multiparam_margins_engine_eq_oracle(text):
    e = ansi.parse_doc(text)
    o = oracle.oracle_parse_doc(text)
    for k in KEYS:
        assert e[k] == o[k], (k, repr(text))


def test_dangling_esc_dropped_from_cmd_line():
    # the ADVICE repro: fast path retained the ESC before the fix
    e = ansi.parse_doc("alice@box:~/w$ echo hi\x1b\x85tail\n")
    assert e["cmd_lines"] == ["echo hitail"]
    # stripped keeps the dangling ESC (it is unparsed input, counted)
    assert e["n_unparsed"] == 1


def test_multiparam_edit_csi_no_valueerror():
    # CSI 1;5C replays as cursor-forward 1 and counts one warning
    line, warns = ansi.build_line_counted("ab\x1b[1;5Ccd")
    assert line == "ab cd"
    assert warns == 1
    line, warns = ansi.build_line_counted("ab\x1b[;Dcd")
    assert line == "acd"
    assert warns == 1


@pytest.mark.parametrize("body", ["plain text ", "ab\x1b[2Dcd "])
def test_line_memo_skips_long_lines(monkeypatch, body):
    # the memo is bounded in bytes: a 4 KB unique mid-document line
    # (fast strip path and editing-replay path alike) is not stored,
    # a short repeated line still is
    monkeypatch.setattr(ansi, "_LINE_MEMO", {})
    long_line = "".join(f"{body}{i:05d}" for i in range(4096 // len(body)))
    assert len(long_line) >= 4096
    expected = ansi.build_line_counted(long_line, at_eod=True)
    assert ansi.build_line_counted(long_line, at_eod=False) == expected
    assert long_line not in ansi._LINE_MEMO
    short = f"$ {body}"
    first = ansi.build_line_counted(short, at_eod=False)
    assert ansi._LINE_MEMO[short] == first
    assert ansi.build_line_counted(short, at_eod=False) == first


def test_invalid_codepoint_tokens_decode_to_replacement():
    # invalid-UTF-32 boundary at the Arrow decode (operators/parse.py
    # decode_token_lists, errors="replace"): surrogates and
    # out-of-range values become U+FFFD, never an exception, and list
    # offsets stay aligned (one output char per token)
    import pyarrow as pa

    from console_log_parser_spark.operators.parse import decode_token_lists

    vals = [0x41, 0xD800, 0x42, 0x7FFFFFFF, 0x1F600, -1, 0x43]
    col = pa.ListArray.from_arrays(
        pa.array([0, len(vals)], pa.int32()), pa.array(vals, pa.int32()))
    docs, offsets = decode_token_lists(col)
    assert docs == ["A�B�\U0001F600�C"]
    assert list(offsets) == [0, len(vals)]
    # and the engine/oracle twins agree on the replaced text
    e = ansi.parse_doc(docs[0])
    o = oracle.oracle_parse_doc(docs[0])
    for k in KEYS:
        assert e[k] == o[k], k


# --- ESC-led split and literal-led severity scan ---------------------------

def _finditer_scan(text, pat):
    segs, matches, last = [], [], 0
    for m in pat.finditer(text):
        segs.append(text[last:m.start()])
        matches.append(m.group())
        last = m.end()
    segs.append(text[last:])
    return segs, matches


_C1_FREE_EDGES = [
    "",
    "no escapes at all\n",
    "esc at end of document \x1b",
    "esc esc \x1b\x1b[31mx",
    "\x1b\x1b",
    "esc del \x1b\x7f after",
    "osc with esc \x1b]0;ti\x1btle\x07 after\n",
    "osc st inside \x1b]2;a\x1b\\b\x1b]0;c",
    "dcs with esc \x1bPq#0\x1bx\x1b\\ after",
    "truncated csi mid-line \x1b[12\nnext \x1b[3",
    "truncated csi \x1b[1;2 \x1b[0m ok",
    "truncated osc mid-line \x1b]0;title\nnext line\n",
    "esc interm \x1b(B \x1b( \x1b",
    "eod dcs \x1bPq#0;2",
    "\x1b[31m\x1b[0m\x1b=\x1b>",
]


_PAT_SPLITS = pytest.mark.parametrize(
    "pat,split", [(ansi.ANSI_RE, ansi._ANSI_SPLIT),
                  (ansi.ANSI_COMPLETE_RE, ansi._ANSI_COMPLETE_SPLIT)],
    ids=["full", "complete"])


@_PAT_SPLITS
@pytest.mark.parametrize("text", _C1_FREE_EDGES)
def test_scan_sequences_equals_finditer(pat, split, text):
    assert ansi._C1_ANY_RE.search(text) is None
    assert ansi._scan_sequences(text, split) == _finditer_scan(text, pat)


@_PAT_SPLITS
def test_scan_sequences_equals_finditer_on_synthetic(pat, split):
    for i in range(200):
        text, _ = datagen.gen_doc(i)
        if ansi._C1_ANY_RE.search(text) is not None:
            continue
        assert ansi._scan_sequences(text, split) == _finditer_scan(text,
                                                                   pat)
        for line in text.split("\n"):
            assert (ansi._scan_sequences(line, split)
                    == _finditer_scan(line, pat))


_WORD_BOUNDED_SEVERITY = re.compile(r"\b(DEBUG|INFO|WARN|ERROR)\b")


@pytest.mark.parametrize("text", [
    "xINFO", "INFO_", "_WARN", "éERROR", "1DEBUG", "INFO.", "INFO",
    "ERROR at the start and the end WARN", "WARNING INFOS DEBUGGER",
    "INFOINFO", "ERROR-WARN/INFO:DEBUG", "ÉERROR ßINFO", "a\nDEBUG\n",
    " EERROR DDEBUG WWARN IINFO ", "",
])
def test_severity_re_equals_word_bounded_pattern(text):
    assert (ansi.SEVERITY_RE.findall(text)
            == _WORD_BOUNDED_SEVERITY.findall(text))


# the timestamp pattern find_timestamps must reproduce, as findall
_ISO_TS = re.compile(r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?")


@pytest.mark.parametrize("text", [
    "",
    "2024-01-01 10:00:00",
    "2024-01-01T10:00:00.123456",
    "at the end 2024-01-01 10:00:00.5",
    "2024-01-01t10:00:00 2024-01-01_10:00:00 2024-01-0110:00:00",
    "2024-01-01 10:00:00. 2024-01-01 10:00:00.5.6 2024-01-01 10:00:00.",
    "2024-01-01 10:00:002024-01-02T11:00:00",
    "2024-01-01 10:00:00 2024-01-02T11:00:00",
    "2024-01-01 10:00:0020-01-01 10:00:00",
    "2024-01-01 10:00:00.12345-01-01 10:00:00",
    "2024-01-01 10:00:00.1234-01-01 10:00:00",
    "12024-01-01 10:00:00 -01-01 10:00:00 024-01-01 10:00:00",
    "2024-01-01-01 10:00:00 2024--01-01 10:00:00",
    "２０２４-０１-０１T１０:００:００",
    "٢٠٢٤-01-01 10:00:00.١٢",
    "²024-01-01 10:00:00 2³24-01-01 10:00:00",
    "9999-99-99 99:99:99\n0000-00-00T00:00:00",
])
def test_find_timestamps_equals_findall(text):
    assert ansi.find_timestamps(text) == _ISO_TS.findall(text)


def _timestamp_soup(rng):
    """Timestamps (ASCII and Arabic-Indic digits, with and without a
    fraction), mutated ones, slices of them and filler, run together:
    about half the texts match, and 1 in 20 holds a match that starts
    inside another."""
    def digits(n):
        return "".join(rng.choice("0123456789\u0663") for _ in range(n))

    def piece():
        ts = (f"{digits(4)}-{digits(2)}-{digits(2)}{rng.choice('T ')}"
              f"{digits(2)}:{digits(2)}:{digits(2)}")
        if rng.random() < 0.4:
            ts += "." + digits(rng.randrange(4))
        kind = rng.randrange(4)
        if kind == 1:
            i = rng.randrange(len(ts))
            ts = ts[:i] + rng.choice("0-: T.x") + ts[i + 1:]
        elif kind == 2:
            i, j = sorted(rng.randrange(len(ts) + 1) for _ in range(2))
            ts = ts[i:j]
        elif kind == 3:
            ts = rng.choice(["", " ", "x", "-", "0", "12"])
        return ts

    return "".join(piece() for _ in range(rng.randrange(5)))


def test_find_timestamps_equals_findall_on_random_and_synthetic():
    rng = random.Random(7)
    for _ in range(20000):
        text = _timestamp_soup(rng)
        assert ansi.find_timestamps(text) == _ISO_TS.findall(text), text
    for i in range(200):
        stripped = ansi.classify_and_strip(datagen.gen_doc(i)[0])[0]
        assert ansi.find_timestamps(stripped) == _ISO_TS.findall(stripped)
