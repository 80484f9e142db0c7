"""Engine-side ANSI / VT escape-sequence model.

The reference (``/root/reference/vtparser.py:246-476``) interprets input
byte-at-a-time through a table-driven VT500 state machine. For well-formed
streams that FSM is equivalent to a single ordered regex alternation over
the decoded text; this module is that alternation plus the derived
classification/editing semantics. Everything here is plain compiled-regex
Python designed to run *inside* an Arrow-vectorized Spark stage — compiled
once per executor at import time (the analog of the reference's
compile-at-construction, ``terminalparser.py:88-97``).

Semantics notes (shared contract with ``console_log_parser_spark.oracle``,
which re-implements them independently as a char-at-a-time FSM):

- "ANSI strip" removes *escape sequences only* (CSI/OSC/DCS/SOS/PM/APC,
  two-char ESC sequences, stray C1 bytes 0x80-0x9F and lone ESC).
  C0 control characters (BS, CR, LF, TAB, ...) are kept — they are part of
  the transcript's editing record, not styling.
- An escape sequence truncated by end-of-document is dropped entirely
  (the FSM would still be collecting it when input ends).
- Command-line reconstruction replays the editing operations the
  reference's LineBuilder supports (``terminal2html.py:431-554``):
  BS/CR/TAB, CSI ``@ C D K P X``; SGR and all other sequences are
  discarded.
"""
from __future__ import annotations

import re
from collections import Counter

# --- sequence grammar ----------------------------------------------------
# Order matters: Python regex alternation is leftmost-first, so complete
# CSI/OSC/DCS come before the generic two-char ESC sequence, and the
# truncated-at-EOD variants come last.
_CSI = r"(?:\x1b\[|\x9b)[0-?]*[ -/]*[@-~]"
_OSC = r"(?:\x1b\]|\x9d)[^\x07\x1b\x9c]*(?:\x07|\x1b\\|\x9c)"
_DCS = r"(?:\x1b[PX^_]|[\x90\x98\x9e\x9f])[^\x1b\x9c]*(?:\x1b\\|\x9c)"
_ESC2 = r"\x1b[ -/]*[0-~]"
_C1 = r"[\x80-\x9f]"
_EOD_CSI = r"(?:\x1b\[|\x9b)[0-?]*[ -/]*\Z"
_EOD_OSC = r"(?:\x1b\]|\x9d)[^\x07\x9c]*\Z"
_EOD_DCS = r"(?:\x1b[PX^_]|[\x90\x98\x9e\x9f])[^\x9c]*\Z"
_EOD_ESC = r"\x1b[ -/]*\Z"
# \Z, not $: $ also matches before a TRAILING newline, which would
# misclassify a sequence interrupted by the document's final "\n" as
# truncated-at-EOD — the FSM aborts such a sequence and re-emits its
# collected body as data instead (oracle._csi invalid branch).

# Complete sequences first; truncated-at-EOD variants BEFORE the generic
# two-char ESC (else `ESC [` of a truncated CSI is consumed as an ESC
# sequence, leaving its params behind); generic ESC and C1 singles last.
ANSI_RE = re.compile(
    "|".join([_CSI, _OSC, _DCS,
              _EOD_CSI, _EOD_OSC, _EOD_DCS,
              _ESC2, _EOD_ESC, _C1]),
    re.DOTALL,
)

# Complete sequences only (no truncated-at-EOD branches): the per-line
# replay grammar for every line except the document's last — a
# sequence cut short by a mid-document "\n" is ABORTED (body re-emitted
# as data by the FSM), not dropped as EOD-truncated.
ANSI_COMPLETE_RE = re.compile(
    "|".join([_CSI, _OSC, _DCS, _ESC2, _C1]), re.DOTALL)

# Any C1 byte (0x80-0x9f): the one-charset probe that decides whether
# the ESC-led split below is exact (see _scan_sequences).
_C1_ANY_RE = re.compile("[\x80-\x9f]")

# The ESC-led branches of each grammar, in the same order, with the C1
# introducers and terminators left out and the shared ESC factored in
# front. On C1-free text no C1 alternative can match, so these match
# exactly what the full grammars do there; the literal ESC prefix lets
# sre skip between escapes instead of trying the alternation at every
# character.
_CSI_E = r"\[[0-?]*[ -/]*[@-~]"
_OSC_E = r"\][^\x07\x1b]*(?:\x07|\x1b\\)"
_DCS_E = r"[PX^_][^\x1b]*\x1b\\"
_EOD_CSI_E = r"\[[0-?]*[ -/]*\Z"
_EOD_OSC_E = r"\][^\x07]*\Z"
_EOD_DCS_E = r"[PX^_].*\Z"
_ESC2_E = r"[ -/]*[0-~]"
_EOD_ESC_E = r"[ -/]*\Z"


def _esc_split_re(*branches: str) -> re.Pattern:
    return re.compile(r"(\x1b(?:" + "|".join(branches) + "))", re.DOTALL)


def _split_re(pat: re.Pattern) -> re.Pattern:
    return re.compile("(" + pat.pattern + ")", re.DOTALL)


# (ESC-led twin, the grammar itself) of ANSI_RE and of ANSI_COMPLETE_RE,
# each wrapped in ONE capture group so re.split() returns
# [seg0, match0, ..., segN]. Callers pass the pair itself: a dict keyed
# by the compiled pattern would hash it on every call.
_ANSI_SPLIT = (_esc_split_re(_CSI_E, _OSC_E, _DCS_E, _EOD_CSI_E, _EOD_OSC_E,
                             _EOD_DCS_E, _ESC2_E, _EOD_ESC_E),
               _split_re(ANSI_RE))
_ANSI_COMPLETE_SPLIT = (_esc_split_re(_CSI_E, _OSC_E, _DCS_E, _ESC2_E),
                        _split_re(ANSI_COMPLETE_RE))


def _scan_sequences(text: str, split: tuple) -> tuple[list, list]:
    """(segments, matches) — exactly ``pat.finditer(text)`` for ``pat``
    ANSI_RE (``split`` = _ANSI_SPLIT) or ANSI_COMPLETE_RE
    (``split`` = _ANSI_COMPLETE_SPLIT).

    One ``re.split`` returns both lists from a single C call: no Python
    loop, no Match objects. C1-free text (all of datagen's) is split by
    the grammar's ESC-led twin: the full grammar's split tries the
    alternation at every character and runs at ~10 M chars/s on datagen
    transcripts, the twin skips to the next ESC first and runs at
    ~110 M chars/s. Text with a C1 byte (rare) is split by the full
    grammar, whose alternation handles C1-introduced sequences. A
    dangling ESC that matches no branch stays in its segment, as with
    ``finditer``.

    ``segments`` has len(matches)+1 entries; segments[j] is the text
    between match j-1 and match j (the adjacency test for app-mode
    spans is segments[j] == "").
    """
    esc_led, full = split
    parts = (esc_led if _C1_ANY_RE.search(text) is None else full).split(text)
    return parts[0::2], parts[1::2]


# CSI parts, mirroring the reference's (private, params, intermediate,
# final) record assembly (vtparser.py:644-683).
CSI_PARTS_RE = re.compile(
    r"(?:\x1b\[|\x9b)(?P<priv>[<=>?]?)(?P<par>[0-9;:]*)"
    r"(?P<interm>[ -/]*)(?P<final>[@-~])",
    re.DOTALL,
)

# CSI intermediate bytes (elided from histogram keys)
_INTERM_RE = re.compile(r"[ -/]")

# Severity + ISO-timestamp capture (the grok stage of the generalized
# pipeline; analog of the reference's regex feature layer,
# terminalparser.py:27-31).
# The word boundary before each level sits after its first letter
# (``D(?<!\wD)`` is ``\bD``), so every branch starts with a literal and
# sre skips ahead on the charset {D, I, W, E} instead of testing \b at
# every position; it matches exactly what ``\b(DEBUG|...|ERROR)\b`` does.
SEVERITY_RE = re.compile(
    r"(D(?<!\wD)EBUG|I(?<!\wI)NFO|W(?<!\wW)ARN|E(?<!\wE)RROR)\b")
# ISO timestamps, ``\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?``.
# Led by digits, that pattern is tried at every digit of the text;
# every match has a '-' at its fifth character, so this twin starts on
# that literal and checks the year behind it (``-(?<=\d{4}-)`` is
# ``\d{4}-``). sre then skips from '-' to '-'. ``find_timestamps`` turns
# its matches back into the full pattern's ``findall`` list.
_TS_DASH_RE = re.compile(
    r"-(?<=\d{4}-)\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?")

# Prompt on a *reconstructed* (post-replay) line; generalization of the
# reference's RE_PROMPT (terminalparser.py:28).
PROMPT_RE = re.compile(
    r"^(?P<user>[a-z][a-z0-9._-]*)@(?P<host>[-a-zA-Z0-9]+)"
    r":(?P<cwd>~?[-.\w/ ]+|~)\$ "  # ~ only leading, non-empty
    # (reference cwd grammar `(~?[-.\\w/ ]+|~)`, terminalparser.py:28)
)

# Two-line MINGW64 prompt: a header line then a bare `$ ` line
# (terminalparser.py:27 RE_PROMPT_HEADER).
MINGW_HEADER_RE = re.compile(
    r"^(?P<user>[a-z.][a-z0-9._-]*)@(?P<host>[-a-zA-Z0-9]+)"
    r" MINGW64 (?P<cwd>~?[-.\w/ ()]+|~)\s*$"
)

# Vim-session span markers (terminalparser.py:33-37: xterm title-stack
# CSI 22;0;0t on entry, CSI 23;0;0t on exit).
VIM_START_MARK = "\x1b[22;0;0t"
VIM_END_MARK = "\x1b[23;0;0t"


_SEQ_KEY_CACHE: dict = {}
_SENTINEL = object()


def seq_key(match_text: str) -> str | None:
    """Normalized histogram key for one matched escape sequence, or None
    for a sequence truncated by end-of-document (stripped but not
    counted as an event — the FSM never dispatched it).

    Mirrors the reference's per-kind histogram keys
    (vtparser.py:665-694): CSI keyed by private+params+final, ESC by
    intermediates+final, OSC by the numeric selector, DCS/C1 by kind.
    """
    c0 = match_text[0]
    if c0 == "\x9b" or match_text.startswith("\x1b["):
        m = CSI_PARTS_RE.match(match_text)
        if m:
            return f"CSI:{m.group('priv')}{m.group('par')}{m.group('final')}"
        # Complete CSI whose param body does not re-parse under
        # CSI_PARTS_RE (stray private markers mid-params, e.g. 1<2C):
        # the FSM still dispatches it, keyed by the collected body with
        # intermediates elided — only a truncated CSI returns None.
        body_final = match_text[1 if c0 == "\x9b" else 2:]
        if body_final and body_final[-1] >= "@":
            body = _INTERM_RE.sub("", body_final[:-1])
            return f"CSI:{body}{body_final[-1]}"
        return None  # truncated CSI
    if c0 == "\x9d" or match_text.startswith("\x1b]"):
        if not (match_text.endswith("\x07") or match_text.endswith("\x1b\\")
                or match_text.endswith("\x9c")):
            return None  # truncated OSC
        body = match_text[2:] if c0 == "\x1b" else match_text[1:]
        sel = body.split(";", 1)[0]
        return f"OSC:{sel}"
    if c0 in "\x90\x98\x9e\x9f" or (
        c0 == "\x1b" and len(match_text) > 1 and match_text[1] in "PX^_"
    ):
        if not (match_text.endswith("\x1b\\") or match_text.endswith("\x9c")):
            return None  # truncated DCS
        return "DCS"
    if c0 == "\x1b":
        if len(match_text) == 1 or not ("0" <= match_text[-1] <= "~"):
            return None  # truncated ESC
        return f"ESC:{match_text[1:]}"
    return f"C1:{ord(c0):02x}"


def classify_and_strip(text: str) -> tuple[str, Counter, tuple[int, ...]]:
    """ONE split pass over the document producing the escape-stripped
    text, the event histogram and the counters
    ``(n_csi, n_osc, n_esc, n_dcs, n_sgr, n_c1, n_app_mode, n_devstat)``
    (a separate ``ANSI_RE.sub`` pass costs ~25% of parse time at scale).

    n_app_mode — reference P8 (terminalparser.py:55-77, 306-319,
    355-361): an app-mode span OPENS when ``ESC =`` (DECKPAM, no
    intermediates) begins exactly where a ``CSI ? 1 h`` (DECCKM set)
    ended — the reference's ``ckm_set_pos == pos - 2`` adjacency — and
    CLOSES on the adjacent ``CSI ? 1 l`` + ``ESC >`` pair while open.
    Positions here are absolute document offsets where the reference
    uses per-line offsets; the only behavioral difference is that the
    reference can false-positive when offsets coincide across a line
    break, which true adjacency never does.

    n_devstat — reference F2 (terminal2html.py:639-644): sequences
    that would trigger a terminal response — CSI final ``n`` (DSR),
    or final ``c`` with params '' / '0' (DA) — counted so the discard
    predicate is an accounted column, not a silent drop.
    """
    hist: Counter = Counter()
    n_csi = n_osc = n_esc = n_dcs = n_sgr = n_c1 = 0
    n_app_mode = n_devstat = 0
    segs, matches = _scan_sequences(text, _ANSI_SPLIT)
    if not matches:  # no escapes at all: zero-copy
        return text, hist, (0, 0, 0, 0, 0, 0, 0, 0)
    stripped = "".join(segs)
    # Histogram + counters from the DISTINCT match strings (escape
    # vocab is tiny — ~20 distinct over ~50 matches per doc): Counter()
    # does the per-match counting at C speed, the Python loop runs per
    # distinct sequence only. seq_key stays memoized across docs.
    key_cache = _SEQ_KEY_CACHE
    sentinel = _SENTINEL
    for g, c in Counter(matches).items():
        key = key_cache.get(g, sentinel)
        if key is sentinel:
            key = seq_key(g)
            if len(key_cache) < 65536:  # bound worker memory
                key_cache[g] = key
        if key is None:  # truncated at EOD: stripped, never dispatched
            continue
        hist[key] += c  # += (not =): distinct matches can share a key
        k0 = key[0]
        if k0 == "C" and key[1] == "S":  # CSI:
            n_csi += c
            f = key[-1]
            if f == "m":
                n_sgr += c
            elif f == "n":
                n_devstat += c
            elif f == "c":
                body = key[4:-1]
                if body[:1] in ("<", "=", ">", "?"):
                    body = body[1:]
                if body in ("", "0"):
                    n_devstat += c
        elif k0 == "O":
            n_osc += c
        elif k0 == "D":
            n_dcs += c
        elif k0 == "E":
            n_esc += c
        else:
            n_c1 += c
    # App-mode spans (reference P8) need sequence ORDER and ADJACENCY:
    # ESC= opens a span iff it starts exactly where a DECCKM-set ended,
    # i.e. the immediately preceding match is CSI ? 1 h with an EMPTY
    # segment between; CSI ? 1 l + adjacent ESC> closes it. The ordered
    # walk runs only when both trigger forms are present at all.
    if "\x1b=" in matches and (
            "\x1b[?1h" in matches or "\x9b?1h" in matches):
        app_active = False
        for j, g in enumerate(matches):
            if g == "\x1b=":
                if (not app_active and j > 0 and segs[j] == ""
                        and (matches[j - 1] == "\x1b[?1h"
                             or matches[j - 1] == "\x9b?1h")):
                    app_active = True
                    n_app_mode += 1
            elif g == "\x1b>":
                if (app_active and j > 0 and segs[j] == ""
                        and (matches[j - 1] == "\x1b[?1l"
                             or matches[j - 1] == "\x9b?1l")):
                    app_active = False
    return stripped, hist, (n_csi, n_osc, n_esc, n_dcs, n_sgr, n_c1,
                            n_app_mode, n_devstat)


class LineBuilder:
    """Replay line-editing operations to reconstruct the visible line.

    Clean-room reimplementation of the semantics of the reference's
    LineBuilder (terminal2html.py:431-554), simplified: SGR is always
    discarded (ignore_SGR=True path), so the line holds only characters
    and cursor arithmetic never skips style markers.

    Edit-bound accounting (reference F5, terminal2html.py:459-461,
    476-478, 502-520: the prefix-guarded builder raises/warns when an
    op would mutate the prompt prefix): this simplified builder has no
    prefix, so ``warnings`` counts the boundary analogs — BS clamped at
    column 0, ``CSI D`` clamped at column 0, and ``CSI 1K``/``CSI 2K``
    (forms the reference refuses with NotImplementedError).
    """

    __slots__ = ("line", "pos", "warnings")

    def __init__(self) -> None:
        self.line: list[str] = []
        self.pos = 0
        self.warnings = 0

    def text(self, s: str) -> None:
        line, pos = self.line, self.pos
        n = len(line)
        # bulk fast path: no C0 controls in the segment (min() is a C
        # scan; chars >= 0x20 include DEL, same as the per-char branch)
        if s and min(s) >= " ":
            if pos >= n:
                line.extend(s)
            else:
                line[pos:pos + len(s)] = list(s)
            self.pos = pos + len(s)
            return
        for ch in s:
            o = ord(ch)
            if o >= 0x20 or o == 0x09:  # printable or TAB
                if pos >= n:
                    line.append(ch)
                    n += 1
                else:
                    line[pos] = ch
                pos += 1
            elif o == 0x08:  # BS
                if pos > 0:
                    pos -= 1
                else:
                    self.warnings += 1  # F5: clamped at line start
            elif o == 0x0D:  # CR
                pos = 0
            # LF never reaches here: callers split on LF. Other C0 dropped.
        self.pos = pos

    def csi(self, par: str, final: str) -> None:
        if par and not par.isdigit():
            # multi-param / malformed param on an editing op (e.g.
            # CSI 1;5C): replay the leading numeric parameter and count
            # a warning — one bad row must not throw (module contract
            # above; mirrored in oracle._VisibleLine.csi).
            self.warnings += 1
            par = _PARAM_DIGITS_RE.match(par).group()
        line, pos = self.line, self.pos
        if final == "@":  # insert blanks
            n = int(par) if par else 1
            line[pos:pos] = [" "] * n
        elif final == "C":  # cursor forward, padding with spaces at EOL
            n = int(par) if par else 1
            for _ in range(n):
                if pos >= len(line):
                    line.append(" ")
                pos += 1
            self.pos = pos
        elif final == "D":  # cursor backward
            n = int(par) if par else 1
            if n > pos:
                self.warnings += 1  # F5: clamped at line start
            self.pos = max(0, pos - n)
        elif final == "K":  # erase in line
            if par in ("", "0"):
                del line[pos:]
            elif par == "1":
                self.warnings += 1  # F5: reference NotImplementedError
                line[: pos + 1] = [" "] * min(pos + 1, len(line))
            elif par == "2":
                self.warnings += 1  # F5: reference NotImplementedError
                line[:] = [" "] * len(line)
        elif final == "P":  # delete characters
            n = int(par) if par else 1
            del line[pos : pos + n]
        elif final == "X":  # erase (overwrite with spaces), cursor fixed
            n = int(par) if par else 1
            for i in range(pos, min(pos + n, len(line))):
                line[i] = " "
        # G (column absolute) is common in real logs; support it too.
        elif final == "G":
            col = int(par) if par else 1
            self.pos = max(0, col - 1)
        # everything else (SGR 'm', H, h, l, t, ...) is not line-editing.

    def result(self) -> str:
        return "".join(self.line)


# C0 residue on the STRIPPED text (not the raw line — a BEL that
# terminates an OSC, or a CR inside a DCS body, is consumed by the
# sequence match and never reaches the builder): everything below
# 0x20 except TAB (printable to the builder) and LF (callers split on
# it). ESC (\x1b) IS included: a dangling ESC (ESC-ESC, ESC-DEL,
# ESC + C1/GR byte) survives the bare strip while the replay layer
# drops it, so such lines must take the slow path. The builder DROPS
# stray C0 like \x0b/\x07 while a bare strip keeps them — slow path
# for those too. A single TRAILING CR is special-cased by the caller:
# `text\r` replays to `text` (CR only rewinds the cursor; nothing
# overwrites afterwards), so the fast path returns stripped[:-1].
_C0_RESIDUE_RE = re.compile(r"[\x00-\x08\x0b-\x1f]")

# finals whose CSI records drive the LineBuilder (LineBuilder.csi
# ignores every other final, so parsing those params is wasted work)
_EDIT_FINALS = frozenset("@CDGKPX")

# leading digits of a CSI parameter string (defensive first-param parse)
_PARAM_DIGITS_RE = re.compile(r"\d*")

# Memo for build_line_counted on NON-EOD lines (the common case: every
# line but the document's last). Transcript corpora repeat prompt/command
# lines heavily (measured 56% repeat rate at 16k synthetic docs, rising
# with corpus size), and the function is pure, so a bounded first-come
# cache trades ~15 MB/worker for skipping the replay walk on every
# repeat. No eviction: the hot lines (bare prompts, common commands)
# recur from the start, so the first 65536 distinct lines cover them;
# on corpora with no repetition the cost is one dict probe per line.
# Lines longer than _MEMO_MAX_LINE chars are never stored, so a corpus
# of long unique lines cannot grow the keys past 64 Mi chars per worker
# (the longest datagen line is under 200 chars).
_LINE_MEMO: dict[str, tuple[str, int]] = {}
_MEMO_MAX_ENTRIES = 65536
_MEMO_MAX_LINE = 1024


def _memo(raw_line: str, at_eod: bool,
          r: tuple[str, int]) -> tuple[str, int]:
    """Store a mid-document line's replay result if it fits the memo's
    bounds; return it either way."""
    if (not at_eod and len(raw_line) <= _MEMO_MAX_LINE
            and len(_LINE_MEMO) < _MEMO_MAX_ENTRIES):
        _LINE_MEMO[raw_line] = r
    return r


def build_line_counted(raw_line: str, at_eod: bool = True) -> tuple[str, int]:
    """Reconstruct the visible text of one raw (LF-free) line; also
    return the edit-bound warning count (F5 accounting).

    ``at_eod`` — True only for the DOCUMENT's last line: truncation
    there means the FSM was still collecting when input ended, so the
    partial sequence is dropped (EOD branches of the grammar). On a
    mid-document line the same tail was aborted by the line's "\\n" and
    the FSM re-emits its collected body as data — the complete-only
    grammar leaves that body (and a dangling ESC) behind for the
    LineBuilder walk, which drops the ESC and keeps the body, matching
    the oracle's invalid-sequence branches.
    """
    if not at_eod:
        hit = _LINE_MEMO.get(raw_line)
        if hit is not None:
            return hit
    # One split yields both the fast-path strip and the slow-path walk
    # inputs.
    segs, matches = _scan_sequences(
        raw_line, _ANSI_SPLIT if at_eod else _ANSI_COMPLETE_SPLIT)
    # Fast path: no complete editing CSI (a match led by "ESC [" or by
    # the C1 CSI byte whose last char is an editing final IS one — a
    # truncated CSI can never end in [@CDGKPX] or it would have
    # completed) and no C0/dangling-ESC residue on the stripped text:
    # the bare strip equals the replay. A single trailing CR is allowed
    # (it only rewinds the cursor; nothing follows).
    has_edit = False
    for g in matches:
        if g[-1] in _EDIT_FINALS and (g[1:2] == "[" or g[0] == "\x9b"):
            has_edit = True
            break
    if not has_edit:
        stripped = "".join(segs)
        body = stripped[:-1] if stripped.endswith("\r") else stripped
        if _C0_RESIDUE_RE.search(body) is None:
            return _memo(raw_line, at_eod, (body, 0))
    lb = LineBuilder()
    for j, g in enumerate(matches):
        s = segs[j]
        if s:
            lb.text(s)
        if g[-1] in _EDIT_FINALS:
            cm = CSI_PARTS_RE.match(g)
            if cm:
                lb.csi(cm.group("par"), cm.group("final"))
    tail = segs[len(matches)]
    if tail:
        lb.text(tail)
    return _memo(raw_line, at_eod, (lb.result(), lb.warnings))


def find_timestamps(text: str) -> list[str]:
    """``re.findall`` of the ISO timestamp pattern, by the '-'-led scan.

    A dash-led match at ``d`` is the full pattern's match at ``d - 4``
    with the same end. No '-' inside a match can lead another one (its
    second '-' has the first one 3 characters back, where a year digit
    would have to be), so the scan meets every place a match can start.
    What it can meet that ``findall`` would not is a match starting
    inside the previous one's year-to-end span (``...:0020-01-01 ...``,
    ``.12345-01-01 ...``); ``findall`` resumes after the previous
    match, so those are dropped here too.
    """
    out = []
    end = 0
    for m in _TS_DASH_RE.finditer(text):
        start = m.start() - 4
        if start >= end:
            end = m.end()
            out.append(text[start:end])
    return out


def parse_doc(text: str) -> dict:
    """Full parse of one decoded transcript -> column dict.

    This is the per-document core the Arrow stage vectorizes over; it is
    pure compiled-regex + the LineBuilder replay on prompt lines only.
    """
    stripped, hist, (n_csi, n_osc, n_esc, n_dcs, n_sgr, n_c1,
                     n_app_mode, n_devstat) = classify_and_strip(text)

    sev_counts = Counter(SEVERITY_RE.findall(stripped))
    severity = None
    for s in ("ERROR", "WARN", "INFO", "DEBUG"):
        if sev_counts.get(s):
            severity = s
            break
    tss = find_timestamps(stripped)

    # vim spans (line-indexed): lines between a start marker and the next
    # end marker (inclusive) are vim content -> excluded from cmd replay.
    raw_lines = text.split("\n")
    n_vim = 0
    in_vim = False
    cmd_lines: list[str] = []
    prompt_count = 0
    n_edit_warnings = 0
    mingw_imminent = False
    osc_armed = False
    last_i = len(raw_lines) - 1
    for i, rl in enumerate(raw_lines):
        # OSC-title correlation (terminalparser.py:101-141): a two-line
        # MINGW prompt is genuine only when freshly preceded by an OSC 0
        # title — scrollback redraws repeat the prompt text without the
        # OSC and must not be re-counted.
        had_osc = "\x1b]0;" in rl or "\x9d0;" in rl
        if not in_vim and VIM_START_MARK in rl:
            in_vim = True
            n_vim += 1
            mingw_imminent = False
            osc_armed = False
            # a one-line session may close on the same line; the prompt
            # can share the line with the end marker (RE_PROMPT_INLINE,
            # terminalparser.py:30) -> process the remainder as a line
            rest = rl[rl.index(VIM_START_MARK) + len(VIM_START_MARK):]
            if VIM_END_MARK not in rest:
                continue
            in_vim = False
            rl = rest[rest.index(VIM_END_MARK) + len(VIM_END_MARK):]
        elif in_vim:
            if VIM_END_MARK not in rl:
                continue
            in_vim = False
            rl = rl[rl.index(VIM_END_MARK) + len(VIM_END_MARK):]
        was_imminent, mingw_imminent = mingw_imminent, False
        was_armed, osc_armed = osc_armed, had_osc
        built = None
        bwarn = 0
        if "MINGW64" in rl and was_armed:
            built, bwarn = build_line_counted(rl, i == last_i)
            if MINGW_HEADER_RE.match(built):
                n_edit_warnings += bwarn
                mingw_imminent = True
                continue
        if "$" not in rl:
            continue  # fast path: no prompt sigil at all
        if built is None:
            built, bwarn = build_line_counted(rl, i == last_i)
        n_edit_warnings += bwarn
        if was_imminent and built.startswith("$"):
            prompt_count += 1
            cmd = built[2:] if built.startswith("$ ") else ""
            if cmd:
                cmd_lines.append(cmd)
            continue
        pm = PROMPT_RE.match(built)
        if pm:
            prompt_count += 1
            cmd = built[pm.end():]
            if cmd:
                cmd_lines.append(cmd)

    return {
        "stripped": stripped,
        "seq_hist": dict(hist),
        "n_events": sum(hist.values()),
        "n_csi": n_csi,
        "n_osc": n_osc,
        "n_esc": n_esc,
        "n_dcs": n_dcs,
        "n_sgr": n_sgr,
        "n_c1": n_c1,
        "severity": severity,
        "n_debug": sev_counts.get("DEBUG", 0),
        "n_info": sev_counts.get("INFO", 0),
        "n_warn": sev_counts.get("WARN", 0),
        "n_error": sev_counts.get("ERROR", 0),
        "ts_min": min(tss) if tss else None,
        "ts_max": max(tss) if tss else None,
        "prompt_count": prompt_count,
        "cmd_lines": cmd_lines,
        "n_vim": n_vim,
        # error accounting (SURVEY.md §4: one bad row must not kill a
        # 10^12-row job — malformed input becomes a COLUMN, not an
        # exception): a lone ESC surviving the strip is an escape the
        # grammar could not parse; U+FFFD is an invalid code point
        # replaced during token decode
        "n_unparsed": stripped.count("\x1b") + stripped.count("�"),
        "n_app_mode": n_app_mode,
        "n_devstat": n_devstat,
        "n_edit_warnings": n_edit_warnings,
    }
