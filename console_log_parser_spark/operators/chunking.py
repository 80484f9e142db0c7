"""Sliding context-window chunking — the eval-side complement of
``operators/packing.py``: where packing concatenates documents and
cuts the stream into fixed training sequences, chunking cuts EACH
document into overlapping fixed-length token windows (the standard
stride-S/length-L layout of LM perplexity evaluation and long-document
embedding, e.g. the strided evaluation in the GPT-2/Transformers
docs).

Window rule (all-integer, both engines):

    n_wins(n)   = 1 + max(0, ceil((n - L) / S))
                = 1 + greatest(0, (n - L + S - 1) DIV S)   for n >= 1
    start(w)    = w * S
    len(w)      = least(L, n - start(w))

so consecutive windows overlap by ``L - S`` tokens, the last window is
the only one allowed to be short, and every token position is covered
(start of window w+1 = (w+1)S <= wS + L = end of window w whenever
S <= L).  Division portability: the numerator ``n - L + S - 1`` can be
NEGATIVE (short docs), where Spark's ``DIV`` truncates toward zero but
DuckDB's ``//`` floors — both land <= 0 there, and the ``greatest(0,)``
clamp absorbs the difference, so the engines agree WITHOUT the
explicit-CASE pinning ``packing.py`` needs (documented, not hoped:
trunc(x) ∈ {floor(x), floor(x)+1} and both are <= 0 for x < 0).

Scale design: the whole operator is a per-row ``transform`` +
``posexplode`` — ZERO shuffles, no state, embarrassingly parallel, and
deterministic under retry/resume (the window set is a pure function of
``(id, n)``).  At 10^12 documents the only cost is the output fan-out
(~n/S rows per doc), which is the point of the operator.  The plan
test pins the no-Exchange shape.

Reference parity: no analog in the reference (training-data extension
surface, like packing/sampling).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sliding_windows(docs: DataFrame, win_len: int, stride: int,
                    n_col: str = "n_tok") -> DataFrame:
    """``(doc_id, win_id, win_start, win_len)`` — one row per stride-S
    window of each document's ``n_col`` tokens; empty documents
    (n < 1) emit nothing.  Pure map-side (no Exchange in the plan)."""
    if not (1 <= stride <= win_len):
        raise ValueError("need 1 <= stride <= win_len "
                         f"(got stride={stride}, win_len={win_len})")
    n_wins = (f"1 + greatest(0, ({n_col} - {win_len} + {stride} - 1) "
              f"DIV {stride})")
    return (docs
            .filter(F.col(n_col) >= 1)
            .select(
                "doc_id",
                F.col(n_col).alias("_n"),
                F.explode(F.expr(
                    f"sequence(0, {n_wins} - 1)")).alias("win_id"))
            .selectExpr(
                "doc_id",
                "CAST(win_id AS BIGINT) AS win_id",
                f"CAST(win_id * {stride} AS BIGINT) AS win_start",
                f"CAST(least({win_len}, _n - win_id * {stride}) "
                "AS BIGINT) AS win_len"))
