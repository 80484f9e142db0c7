"""``parse_batch`` / ``synth_batch`` Arrow output built from buffers:
identical to a ``pa.array``-built reference, and no pandas import in the
worker (pyarrow's ``pa.array`` / ``to_numpy`` import it lazily)."""
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

from console_log_parser_spark import datagen
from console_log_parser_spark.functions import ansi
from console_log_parser_spark.operators.parse import (
    _ARROW_SCHEMA, encode_string_lists, parse_batch)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _decode_reference(tokens: list[int]) -> str:
    """Per-token decode: invalid code points become U+FFFD."""
    return "".join(
        chr(c) if 0 <= c < 0x110000 and not 0xD800 <= c < 0xE000
        else "�" for c in tokens)


def _reference_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """The parse stage's columns built row by row with ``pa.array``."""
    docs = [_decode_reference(t) for t in batch.column("tokens").to_pylist()]
    parsed = [ansi.parse_doc(d) for d in docs]

    def col(key, typ=pa.int32()):
        return pa.array([p[key] for p in parsed], typ)

    return pa.RecordBatch.from_arrays([
        batch.column("doc_id"),
        batch.column("source"),
        batch.column("n_tok").cast(pa.int32()),
        col("stripped", pa.string()),
        pa.array([len(p["stripped"]) for p in parsed], pa.int32()),
        col("n_events"), col("n_csi"), col("n_osc"), col("n_esc"),
        col("n_dcs"), col("n_sgr"), col("n_c1"),
        pa.array([list(p["seq_hist"].items()) for p in parsed],
                 pa.map_(pa.string(), pa.int32())),
        col("severity", pa.string()),
        col("n_debug"), col("n_info"), col("n_warn"), col("n_error"),
        col("ts_min", pa.string()), col("ts_max", pa.string()),
        col("prompt_count"),
        col("cmd_lines", pa.list_(pa.string())),
        pa.array([len(p["cmd_lines"]) for p in parsed], pa.int32()),
        col("n_vim"), col("n_unparsed"), col("n_app_mode"),
        col("n_devstat"), col("n_edit_warnings"),
    ], schema=_ARROW_SCHEMA)


# Each covers a column shape the buffer builders must get right.
_EDGE_DOCS = [
    "",                                             # empty document
    "plain text, no level, no stamp\n",             # null severity/ts_*,
                                                    # empty seq_hist/cmd
    "2024-01-02 03:04:05 INFO café ünïcode ✓ 🙂\n",  # non-ASCII text
    "WARN \x1b[31mred\x1b[0m\nalice@h:~$ ls\r\n",   # map + one cmd line
    "\x1b[1mERROR\x1b[0m only styled\n",            # seq_hist, no cmd
    "alice@h:~$ \r\nbob@h:~$ make\r\nbob@h:~$ \r\n",  # prompts, 1 cmd
]


def _edge_batch() -> pa.RecordBatch:
    texts = [datagen.gen_doc(i)[0] for i in range(12)]
    texts[2:2] = _EDGE_DOCS
    tokens = [[ord(c) for c in t] for t in texts]
    # invalid code points decode to U+FFFD (a surrogate, > 0x10FFFF, -1)
    tokens.append([0x44, 0xD800, 0x45, 0x7FFFFFFF, -1, 0x20] +
                  [ord(c) for c in "ERROR x\n"])
    n = len(tokens)
    return pa.RecordBatch.from_arrays([
        pa.array([f"doc_{i:08d}" for i in range(n)], pa.string()),
        pa.array(tokens, pa.list_(pa.int32())),
        pa.array([len(t) for t in tokens], pa.int64()),
        pa.array([f"src_{i % 3:03d}" for i in range(n)], pa.string()),
    ], names=["doc_id", "tokens", "n_tok", "source"])


@pytest.mark.parametrize("window", [None, (3, 7), (0, 1), (17, 2)],
                         ids=["whole", "slice3_7", "slice0_1", "tail"])
def test_parse_batch_equals_pa_array_reference(window):
    batch = _edge_batch()
    if window is not None:
        batch = batch.slice(*window)
    got = parse_batch(batch)
    ref = _reference_batch(batch)
    assert got.schema.equals(ref.schema)
    for name in ref.schema.names:
        assert got.column(name).equals(ref.column(name)), name
    assert got.equals(ref)


def test_edge_batch_covers_null_and_empty_shapes():
    out = parse_batch(_edge_batch())
    assert out.column("severity").null_count > 0
    assert out.column("ts_min").null_count > 0
    assert 0 in out.column("n_cmd").to_pylist()
    assert [] in out.column("seq_hist").to_pylist()
    assert any("�" in s for s in out.column("ansi_stripped").to_pylist())
    assert any(not s.isascii() for s in out.column("ansi_stripped")
               .to_pylist())


def test_encode_string_lists_roundtrip():
    texts = ["", "abc", "é🙂\x1b[0m", ""]
    col = encode_string_lists(texts)
    assert col.type == pa.list_(pa.int32())
    assert col.to_pylist() == [[ord(c) for c in t] for t in texts]


def test_parse_and_synth_import_no_pandas(small_dataset):
    """A Python worker running the pipeline's stages never imports
    pandas (~30-40 MB of RSS per worker)."""
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from console_log_parser_spark.operators.parse import (
            parse_batch, synth_batch)
        pf = pq.ParquetFile({small_dataset!r} + "/tokenized_logs.parquet")
        rows = 0
        for b in pf.iter_batches(batch_size=256):
            rows += parse_batch(b).num_rows
            rows += parse_batch(b.slice(3, 7)).num_rows
        ids = pa.Array.from_buffers(
            pa.int64(), 300, [None, pa.py_buffer(np.arange(300))])
        synth = synth_batch(pa.RecordBatch.from_arrays(
            [ids], names=["doc_id_num"]))
        rows += parse_batch(synth).num_rows
        print(rows, "pandas" in sys.modules)
    """)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True).stdout.split()
    assert out == [str(300 + 2 * 7 + 300), "False"]
