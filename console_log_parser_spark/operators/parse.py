"""Arrow-vectorized parse stage (the engine's replacement for the
reference's byte-at-a-time VT500 FSM, vtparser.py:246-613).

Design: ``DataFrame.mapInArrow`` — token arrays cross the JVM->Python
boundary as Arrow list<int32> buffers with zero pandas conversion; the
whole batch's token values are decoded to text in ONE C call
(int32 buffer reinterpreted as UTF-32LE), per-doc slices are taken by
list offsets, and all classification is compiled-regex
(functions/ansi.py). No per-row Python UDFs anywhere
(BASELINE.json:15); the only Python-level loop is per-document over the
regex match objects, and the editing replay touches only prompt lines.

No pandas in the workers: the input is read with ``np.frombuffer`` over
the Arrow buffers and every output column is assembled from numpy/bytes
buffers (``pa.Array.from_buffers``, ``ListArray``/``MapArray.from_arrays``).
``pa.array`` and ``to_numpy`` import pandas on first use, which costs
each Python worker ~30-40 MB of RSS and ~0.45 s at its first batch; only
the opt-in :class:`Extractor` columns still go through ``pa.array``.

The plan shows a single ``MapInArrow`` node fused between the parquet
scan and downstream exchanges — verified by tests/test_plans.py.
"""
from __future__ import annotations

from collections.abc import Iterator
from itertools import pairwise

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions import ansi

PARSED_SCHEMA_DDL = (
    "doc_id string, source string, n_tok int, "
    "ansi_stripped string, n_stripped int, "
    "n_events int, n_csi int, n_osc int, n_esc int, n_dcs int, "
    "n_sgr int, n_c1 int, "
    "seq_hist map<string,int>, "
    "severity string, n_debug int, n_info int, n_warn int, n_error int, "
    "ts_min string, ts_max string, "
    "prompt_count int, cmd_lines array<string>, n_cmd int, n_vim int, "
    "n_unparsed int, n_app_mode int, n_devstat int, n_edit_warnings int"
)

_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("source", pa.string()),
    ("n_tok", pa.int32()),
    # UTF-8 string, NOT list<int32> UTF-32: the stripped text is ~97%
    # ASCII, so the Arrow string column is ~4x fewer bytes across the
    # Python->JVM boundary (measured 6.3 GB -> 1.6 GB per sf1.0 bench
    # run) and needs no UTF-32 re-encode pass. Consumers treat it as
    # opaque text; n_stripped still counts codepoints.
    ("ansi_stripped", pa.string()),
    ("n_stripped", pa.int32()),
    ("n_events", pa.int32()),
    ("n_csi", pa.int32()),
    ("n_osc", pa.int32()),
    ("n_esc", pa.int32()),
    ("n_dcs", pa.int32()),
    ("n_sgr", pa.int32()),
    ("n_c1", pa.int32()),
    ("seq_hist", pa.map_(pa.string(), pa.int32())),
    ("severity", pa.string()),
    ("n_debug", pa.int32()),
    ("n_info", pa.int32()),
    ("n_warn", pa.int32()),
    ("n_error", pa.int32()),
    ("ts_min", pa.string()),
    ("ts_max", pa.string()),
    ("prompt_count", pa.int32()),
    ("cmd_lines", pa.list_(pa.string())),
    ("n_cmd", pa.int32()),
    ("n_vim", pa.int32()),
    ("n_unparsed", pa.int32()),
    ("n_app_mode", pa.int32()),
    ("n_devstat", pa.int32()),
    ("n_edit_warnings", pa.int32()),
])


def decode_token_lists(col: pa.Array) -> tuple[list[str], np.ndarray]:
    """list<int32> Arrow column -> per-row Python strings.

    One vectorized decode for the whole batch: the child values buffer is
    reinterpreted as UTF-32LE and sliced by list offsets. Both buffers
    are read in place (``np.frombuffer`` at the arrays' own offsets, so
    a sliced column decodes only its rows); ``to_numpy`` would import
    pandas into the worker.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:  # a producer may omit the offsets of an empty list array
        return [], np.zeros(1, np.int32)
    offsets = np.frombuffer(col.buffers()[1], np.int32, n + 1,
                            col.offset * 4)
    vals = col.values
    lo, hi = int(offsets[0]), int(offsets[-1])
    big = ""
    if hi > lo:
        # view as <u4: int32 -> uint32 is a reinterpret, and str()
        # decodes straight from the buffer, with no copy of the payload
        values = np.frombuffer(vals.buffers()[1], "<u4", hi - lo,
                               (vals.offset + lo) * 4)
        big = str(memoryview(values), "utf-32-le", "replace")
    docs = [big[a:b] for a, b in pairwise((offsets - lo).tolist())]
    return docs, offsets


# --- Arrow columns built from buffers (no pandas; see module docstring) --

def _int32_array(values: np.ndarray) -> pa.Array:
    """int32 column over ``values`` (no nulls)."""
    values = np.ascontiguousarray(values, np.int32)
    return pa.Array.from_buffers(pa.int32(), len(values),
                                 [None, pa.py_buffer(values)])


def _offsets(lengths) -> np.ndarray:
    """int32 list/string offsets from per-row lengths."""
    out = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=out[1:])
    if out[-1] > np.iinfo(np.int32).max:
        raise OverflowError("Arrow batch exceeds int32 offsets")
    return out.astype(np.int32)


def _string_array(strings: list[str | None]) -> pa.Array:
    """UTF-8 string column; ``None`` entries become nulls."""
    n = len(strings)
    valid = np.fromiter((s is not None for s in strings), np.bool_, n)
    n_null = n - int(np.count_nonzero(valid))
    enc = [s.encode() if s is not None else b"" for s in strings]
    bitmap = (pa.py_buffer(np.packbits(valid, bitorder="little"))
              if n_null else None)
    lens = np.fromiter(map(len, enc), np.int64, n)
    return pa.Array.from_buffers(
        pa.string(), n,
        [bitmap, pa.py_buffer(_offsets(lens)), pa.py_buffer(b"".join(enc))],
        n_null)


def encode_string_lists(strings: list[str]) -> pa.ListArray:
    """Per-row strings -> one list<int32> Arrow column (UTF-32 reinterpret,
    single allocation)."""
    lens = np.fromiter(map(len, strings), np.int64, len(strings))
    values = "".join(strings).encode("utf-32-le")
    return pa.ListArray.from_arrays(
        _int32_array(_offsets(lens)),
        pa.Array.from_buffers(pa.int32(), len(values) // 4,
                              [None, pa.py_buffer(values)]))


class Extractor:
    """A pluggable column producer for the parse stage — the engine's
    analog of the reference's handler-injection slots
    (``terminal_output_handler`` / ``control_sequence_handler`` /
    ``dc_control_handler`` / ``osc_handler``, vtparser.py:485-530,
    wired at terminal2html.py:690-692): instead of mutating a stateful
    sink, a plugin computes one extra COLUMN per document inside the
    same Arrow batch loop (no extra python stage, no per-row UDF).

    fn(text, parsed) -> value; ``text`` is the decoded transcript,
    ``parsed`` the engine's column dict (ansi.parse_doc). ``ddl`` is
    the Spark type (e.g. ``"int"``, ``"array<string>"``), ``pa_type``
    the matching pyarrow type.

    Extractor values are arbitrary Python objects, so their column is
    built with ``pa.array``, which imports pandas into the worker (the
    built-in columns avoid it); the cost is paid only when extractors
    are passed.
    """

    __slots__ = ("name", "ddl", "pa_type", "fn")

    def __init__(self, name: str, ddl: str, pa_type, fn):
        self.name = name
        self.ddl = ddl
        self.pa_type = pa_type
        self.fn = fn


def parse_batch(batch: pa.RecordBatch,
                extractors: tuple = ()) -> pa.RecordBatch:
    docs, _ = decode_token_lists(batch.column("tokens"))
    n = len(docs)
    parsed = [ansi.parse_doc(d) for d in docs]

    def i32(key: str) -> pa.Array:
        return _int32_array(
            np.fromiter((p[key] for p in parsed), np.int32, n))

    def lens(key: str) -> np.ndarray:
        return np.fromiter((len(p[key]) for p in parsed), np.int32, n)

    stripped = [p["stripped"] for p in parsed]
    seq_hist = pa.MapArray.from_arrays(
        _int32_array(_offsets(lens("seq_hist"))),
        _string_array([k for p in parsed for k in p["seq_hist"]]),
        _int32_array(np.fromiter(
            (v for p in parsed for v in p["seq_hist"].values()), np.int32)))
    n_cmd = lens("cmd_lines")
    cmd_lines = pa.ListArray.from_arrays(
        _int32_array(_offsets(n_cmd)),
        _string_array([c for p in parsed for c in p["cmd_lines"]]))
    arrays = [
        batch.column("doc_id"),
        batch.column("source"),
        batch.column("n_tok").cast(pa.int32()),
        _string_array(stripped),
        _int32_array(np.fromiter(map(len, stripped), np.int32, n)),
        i32("n_events"), i32("n_csi"), i32("n_osc"), i32("n_esc"),
        i32("n_dcs"), i32("n_sgr"), i32("n_c1"),
        seq_hist,
        _string_array([p["severity"] for p in parsed]),
        i32("n_debug"), i32("n_info"), i32("n_warn"), i32("n_error"),
        _string_array([p["ts_min"] for p in parsed]),
        _string_array([p["ts_max"] for p in parsed]),
        i32("prompt_count"),
        cmd_lines,
        _int32_array(n_cmd),
        i32("n_vim"),
        i32("n_unparsed"),
        i32("n_app_mode"),
        i32("n_devstat"),
        i32("n_edit_warnings"),
    ]
    schema = _ARROW_SCHEMA
    if extractors:
        fields = list(_ARROW_SCHEMA)
        for ex in extractors:
            arrays.append(pa.array(
                [ex.fn(d, p) for d, p in zip(docs, parsed)], ex.pa_type))
            fields.append(pa.field(ex.name, ex.pa_type))
        schema = pa.schema(fields)
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def typed_events_extractor() -> Extractor:
    """SURVEY §1.3's typed per-event record column,
    ``events: array<struct<kind,param,final,pos>>`` — the engine-side
    analog of the reference's per-event dispatch stream
    (vtparser.py:644-694). Opt-in via ``parse_stage(extractors=...)``
    so the hot path pays nothing when positional analysis isn't
    requested; computed in the SAME Arrow batch loop (no extra stage).

    kind: CSI/OSC/ESC/DCS/C1; param: private flag + parameter string
    (CSI), selector (OSC), intermediates (ESC), hex code (C1);
    final: the dispatch character; pos: absolute char offset of the
    sequence start in the decoded document.
    """
    from ..functions import ansi

    pa_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("param", pa.string()),
        ("final", pa.string()), ("pos", pa.int32())]))

    def fn(text: str, _parsed: dict) -> list:
        out = []
        for m in ansi.ANSI_RE.finditer(text):
            key = ansi.seq_key(m.group(0))
            if key is None:
                continue  # truncated at EOD: never dispatched
            kind, _, rest = key.partition(":")
            if kind == "CSI" or kind == "ESC":
                param, final = rest[:-1], rest[-1]
            elif kind == "OSC":
                param, final = rest, ""
            elif kind == "C1":
                param, final = rest, ""
            else:  # DCS
                param, final = "", ""
            out.append({"kind": kind, "param": param, "final": final,
                        "pos": m.start()})
        return out

    return Extractor(
        "events",
        "array<struct<kind:string,param:string,final:string,pos:int>>",
        pa_type, fn)


def device_status_discard(events_col):
    """F2 discard predicate (terminal2html.py:639-644) as a built-in
    array filter over the typed event column: drop CSI DSR (final
    ``n``) and DA (final ``c`` with params ''/'0')."""
    from pyspark.sql import functions as F

    def keep(e):
        par = e["param"]
        # strip a leading private flag before the DA param test
        body = F.when(
            F.substring(par, 1, 1).isin("<", "=", ">", "?"),
            F.substring(par, 2, 2147483647)).otherwise(par)
        is_dsr = (e["kind"] == "CSI") & (e["final"] == "n")
        is_da = ((e["kind"] == "CSI") & (e["final"] == "c")
                 & body.isin("", "0"))
        return ~(is_dsr | is_da)

    return F.filter(events_col, keep)


def parse_stage(df: DataFrame, extractors: tuple = ()) -> DataFrame:
    """tokenized_logs(doc_id, tokens, n_tok, source) -> parsed columns.

    ``extractors``: optional tuple of :class:`Extractor` plugins; each
    adds one output column, computed inside the same single MapInArrow
    stage.
    """
    exs = tuple(extractors)

    def _map_batches(it: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows:
                yield parse_batch(batch, exs)

    ddl = PARSED_SCHEMA_DDL
    if exs:
        ddl += ", " + ", ".join(f"{e.name} {e.ddl}" for e in exs)
    return df.mapInArrow(_map_batches, ddl)


# --- generate-from-ids stage (entry-point path over driver tables) -----

_SYNTH_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def synth_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(doc_id_num bigint) batch -> tokenized_logs batch (datagen.gen_doc
    per id, datagen's default seed)."""
    from .. import datagen

    ids = batch.column("doc_id_num").to_pylist()
    texts = [datagen.gen_doc(i)[0] for i in ids]
    return pa.RecordBatch.from_arrays(
        [_string_array([f"doc_{i:08d}" for i in ids]),
         encode_string_lists(texts),
         _int32_array(np.fromiter(map(len, texts), np.int32, len(texts))),
         _string_array([datagen.doc_source(i) for i in ids])],
        schema=_SYNTH_SCHEMA)


def synth_tokens_stage(df: DataFrame) -> DataFrame:
    """(doc_id_num bigint) -> tokenized_logs rows, synthesizing each
    transcript deterministically from its numeric id (datagen.gen_doc).

    Lets the driver-provided `documents` table define cardinality and ids
    while the transcript content stays a pure function of the id —
    no external data, reproducible at any scale.
    """
    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            yield synth_batch(batch)

    return df.mapInArrow(
        gen, "doc_id string, tokens array<int>, n_tok int, source string")
