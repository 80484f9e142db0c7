"""Deterministic synthetic tokenized-console-log tables (seed=42).

Generates the pipeline's primary input fixture per FIXTURES.md §1:

  tokenized_logs(doc_id string, tokens array<int32>, n_tok int32,
                 source string)

where ``tokens`` is the charcode-level tokenization of a rendered
terminal transcript that mimics the byte patterns of the reference's
test logs (`/root/reference/test/resources/session_linux_1.log`:
OSC window titles, SGR-colored prompts, command lines containing the
editing op set of terminal2html.py:450-527, output lines, severity-
tagged log lines with ISO timestamps, vim-session marker spans), plus
the enrich dimension per FIXTURES.md §2:

  route_metadata(source string, route string, sink string,
                 suppress_cmds array<int>, title string)

Everything is a pure function of (doc_index, seed): generation order
and partitioning cannot change content, so any scale can be re-derived
and resumed deterministically. ``source`` is Zipf-skewed (s=1.2) over
``n_sources`` ids so a few heavy hitters dominate — this exercises the
skew paths of the router, joins and aggregates.
"""
from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VIM_START_MARK = "\x1b[22;0;0t"
VIM_END_MARK = "\x1b[23;0;0t"

_USERS = ["alice", "bob", "carol", "dave", "erin", "frank"]
_HOSTS = ["Hobbes", "calvin", "node-7", "devbox", "build-02"]
_CWDS = ["~", "~/work", "~/src/app", "~/Nextcloud/GitTraining/tests",
         "/var/log", "~/data/run 1"]
_CMDS = [
    "git status", "ls -la", "echo hello world", "make build",
    "python train.py --epochs 3", "cat results.txt", "grep -r token .",
    "du -sh data/", "tail -f service.log", "git commit -m wip",
    "./run.sh --fast", "sort -u ids.txt",
]
_COMPONENTS = ["auth", "router", "parser", "sink", "scheduler", "netio"]
_WORDS = ("request handled batch flushed retry limit queue drained "
          "connection reset token stream partition lag checkpoint "
          "committed worker heartbeat shard rebalance").split()
_SEVS = ["DEBUG", "INFO", "WARN", "ERROR"]
_SEV_W = [0.35, 0.45, 0.13, 0.07]


def _zipf_weights(n: int, s: float = 1.2) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    t = sum(w)
    return [x / t for x in w]


def _sgr_prompt(user: str, host: str, cwd: str) -> str:
    osc = f"\x1b]0;{user}@{host}: {cwd}\x07"
    return (f"{osc}\x1b[01;32m{user}@{host}\x1b[00m:"
            f"\x1b[01;34m{cwd}\x1b[00m$ ")


def _edited_keystrokes(rng: random.Random, cmd: str) -> tuple[str, str]:
    """Render a command as raw keystrokes containing editing sequences.

    Returns (raw, clean) where replaying the editing ops over ``raw``
    yields ``clean``. Op set = the reference LineBuilder's
    (terminal2html.py:450-527): BS, CSI @ C D K P X.
    """
    style = rng.randrange(6)
    if style == 0 or len(cmd) < 6:
        return cmd, cmd
    if style == 1:  # type junk, BS it away, CSI K clear
        junk = "".join(rng.choice("xyzq") for _ in range(rng.randrange(1, 4)))
        raw = cmd + junk + "\x08" * len(junk) + "\x1b[K"
        return raw, cmd
    if style == 2:  # overshoot, cursor-back, delete-chars (CSI P)
        junk = "".join(rng.choice("abem") for _ in range(rng.randrange(1, 4)))
        raw = cmd + junk + f"\x1b[{len(junk)}D\x1b[{len(junk)}P"
        return raw, cmd
    if style == 3:  # forget a char mid-way: go back, insert blank, fill
        k = rng.randrange(2, len(cmd) - 1)
        missing = cmd[:k] + cmd[k + 1:]
        back = len(missing) - k
        raw = (missing + f"\x1b[{back}D" + "\x1b[@" + cmd[k]
               + f"\x1b[{back}C")
        return raw, cmd
    if style == 4:  # erase-chars (CSI X) then retype over the blanks
        k = rng.randrange(2, len(cmd) - 2)
        nx = min(2, len(cmd) - k - 1)
        raw = (cmd + f"\x1b[{len(cmd) - k}D" + f"\x1b[{nx}X"
               + cmd[k:k + nx] + f"\x1b[{len(cmd) - k - nx}C")
        return raw, cmd
    # style 5: typo corrected with BS
    k = rng.randrange(1, len(cmd))
    raw = cmd[:k] + "q" + "\x08" + cmd[k:]
    return raw, cmd


def _log_line(rng: random.Random, day: int) -> str:
    sev = rng.choices(_SEVS, weights=_SEV_W)[0]
    ts = (f"2025-{1 + day % 12:02d}-{1 + rng.randrange(28):02d}"
          f"T{rng.randrange(24):02d}:{rng.randrange(60):02d}"
          f":{rng.randrange(60):02d}")
    comp = rng.choice(_COMPONENTS)
    msg = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(3, 9)))
    return f"{ts} {sev} {comp}: {msg}"


def gen_doc(doc_index: int, seed: int = 42) -> tuple[str, dict]:
    """Render one transcript. Pure function of (doc_index, seed).

    Returns (text, expected) where expected carries the generator's
    *intended* clean command lines and severity counts — used by tests
    to triangulate generator intent vs oracle vs engine.
    """
    rng = random.Random((seed << 32) ^ (doc_index * 0x9E3779B97F4A7C15 & 0xFFFFFFFF))
    user = rng.choice(_USERS)
    host = rng.choice(_HOSTS)
    n_blocks = rng.randrange(1, 11)
    parts = [f"Script started on 2025-01-0{1 + doc_index % 9} "
             f"10:0{doc_index % 10 % 6}:00+00:00\n"]
    clean_cmds: list[str] = []
    sev_counts = {s: 0 for s in _SEVS}
    n_vim = 0
    n_app_mode = 0
    prompt_count = 0
    for b in range(n_blocks):
        cwd = rng.choice(_CWDS)
        parts.append(_sgr_prompt(user, host, cwd))
        prompt_count += 1
        if rng.random() < 0.12:  # vim session block (enters app mode:
            # CSI ?1h + adjacent ESC = like real vim, P8)
            cmd = "vim notes.txt"
            parts.append(cmd + "\r\n")
            clean_cmds.append(cmd)
            n_vim += 1
            n_app_mode += 1
            parts.append("\x1b[?1h\x1b=" + VIM_START_MARK
                         + "\x1b[1;40r\x1b[2J\x1b[H"
                         + "~\r\n" * rng.randrange(1, 4))
            parts.append("\x1b[2;1H\"notes.txt\" 3L, 42C\r\n")
            parts.append(VIM_END_MARK + "\x1b[?1l\x1b>\r\n")
            continue
        if rng.random() < 0.10:  # full-screen pager block (app mode)
            cmd = "man ls"
            parts.append(cmd + "\r\n")
            clean_cmds.append(cmd)
            near_miss = rng.random() < 0.25
            if near_miss:
                # DECCKM set NOT adjacent to DECKPAM -> must not count
                parts.append("\x1b[?1h.\x1b=\x1b[2J")
            else:
                n_app_mode += 1
                parts.append("\x1b[?1h\x1b=\x1b[2J")
            for _ in range(rng.randrange(1, 4)):
                parts.append(" ".join(
                    rng.choice(_WORDS)
                    for _ in range(rng.randrange(3, 8))) + "\r\n")
            parts.append("\x1b[?1l\x1b>\r\n")
            continue
        cmd = rng.choice(_CMDS)
        raw, clean = _edited_keystrokes(rng, cmd)
        parts.append(raw + "\r\n")
        clean_cmds.append(clean)
        n_out = rng.randrange(0, 7)
        for _ in range(n_out):
            r = rng.random()
            if r < 0.55:
                line = _log_line(rng, doc_index)
                sev_counts[line.split(" ")[1]] += 1
            elif r < 0.62:  # progress-redraw lines exercising the F5
                # edit-bound warnings (counted: the raw line has '$')
                style = rng.randrange(3)
                pct = rng.randrange(100)
                if style == 0:   # CSI 2K full-line erase (1 warning)
                    line = f"\r\x1b[2K$ fetch {pct}% complete"
                elif style == 1:  # BS clamped at col 0 (2 warnings)
                    line = f"\x08\x08$ retry {pct}"
                else:            # CSI D clamped at col 0 (1 warning)
                    line = f"\x1b[{rng.randrange(3, 9)}D$ sync {pct}"
            else:
                line = " ".join(rng.choice(_WORDS)
                                for _ in range(rng.randrange(2, 10)))
            if rng.random() < 0.06:  # device-status probes (F2): the
                # shell asks, the terminal answers; counted + dropped
                line += "\x1b[6n" if rng.random() < 0.5 else "\x1b[0c"
            parts.append(line + "\r\n")
    # closing prompt with empty command
    parts.append(_sgr_prompt(user, host, rng.choice(_CWDS)))
    prompt_count += 1
    parts.append("exit\r\n")
    clean_cmds.append("exit")
    if rng.random() < 0.01:  # truncated escape at end-of-doc edge case
        parts.append("\x1b[12")
    text = "".join(parts)
    expected = {
        "cmd_lines": clean_cmds,
        "sev_counts": sev_counts,
        "n_vim": n_vim,
        "n_app_mode": n_app_mode,
        "prompt_count": prompt_count,
    }
    return text, expected


def doc_source(doc_index: int, seed: int = 42, n_sources: int = 64) -> str:
    rng = random.Random((seed << 16) ^ doc_index)
    i = rng.choices(range(n_sources), weights=_zipf_weights(n_sources))[0]
    return f"src_{i:03d}"


def text_to_tokens(text: str) -> np.ndarray:
    """Charcode tokenization, vectorized (UTF-32 reinterpret)."""
    return np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(
        np.int32)


def route_metadata_rows(n_sources: int = 64, seed: int = 42,
                        unmatched_frac: float = 0.1) -> list[dict]:
    """source -> (route, sink, suppress, title); a tail slice of sources
    is deliberately absent (dead-letter route test)."""
    rng = random.Random(seed * 7 + 1)
    rows = []
    n_mapped = int(n_sources * (1 - unmatched_frac))
    for i in range(n_mapped):
        route = f"route_{i % 8}"
        sink = f"sink_{i % 4}"
        suppress = sorted(rng.sample(range(1, 12), rng.randrange(0, 3)))
        rows.append({
            "source": f"src_{i:03d}",
            "route": route,
            "sink": sink,
            "suppress_cmds": suppress,
            "title": f"Source {i:03d} ({route})",
        })
    return rows


def chapter_rows(n_sources: int = 64, seed: int = 42) -> list[dict]:
    """Per-source chapter headings keyed by command number (reference
    main.py:237-241 chapters config -> terminal2html.py:399-402 h3
    emission at start_new_cmd_row): every third mapped source gets a
    heading at command 1 and command 3."""
    rows = []
    for i in range(0, n_sources, 3):
        src = f"src_{i:03d}"
        rows.append({"source": src, "cmd_no": 1,
                     "heading": f"Getting started ({src})"})
        rows.append({"source": src, "cmd_no": 3,
                     "heading": f"Deep dive ({src})"})
    return rows


TOKENIZED_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("tokens", pa.list_(pa.int32())),
    pa.field("n_tok", pa.int32()),
    pa.field("source", pa.string()),
])

ROUTE_SCHEMA = pa.schema([
    pa.field("source", pa.string()),
    pa.field("route", pa.string()),
    pa.field("sink", pa.string()),
    pa.field("suppress_cmds", pa.list_(pa.int32())),
    pa.field("title", pa.string()),
])


def build_batch(start: int, count: int, seed: int = 42,
                n_sources: int = 64) -> pa.RecordBatch:
    doc_ids, toks, n_toks, sources = [], [], [], []
    for i in range(start, start + count):
        text, _ = gen_doc(i, seed)
        t = text_to_tokens(text)
        doc_ids.append(f"doc_{i:08d}")
        toks.append(t)
        n_toks.append(len(t))
        sources.append(doc_source(i, seed, n_sources))
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, pa.string()),
         pa.array([t.tolist() for t in toks], pa.list_(pa.int32())),
         pa.array(n_toks, pa.int32()),
         pa.array(sources, pa.string())],
        schema=TOKENIZED_SCHEMA)


def generate(out_dir: str, n_docs: int, seed: int = 42,
             n_sources: int = 64, rows_per_group: int = 2000) -> str:
    """Write tokenized_logs.parquet + route_metadata.parquet under
    out_dir. Idempotent for identical parameters."""
    os.makedirs(out_dir, exist_ok=True)
    logs_path = os.path.join(out_dir, "tokenized_logs.parquet")
    with pq.ParquetWriter(logs_path, TOKENIZED_SCHEMA) as w:
        for start in range(0, n_docs, rows_per_group):
            w.write_batch(build_batch(
                start, min(rows_per_group, n_docs - start), seed, n_sources))
    rows = route_metadata_rows(n_sources, seed)
    tbl = pa.Table.from_pylist(rows, schema=ROUTE_SCHEMA)
    pq.write_table(tbl, os.path.join(out_dir, "route_metadata.parquet"))
    return out_dir
