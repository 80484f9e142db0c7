"""Corpus-level exact span (chunk) deduplication — C4-style.

Part of the graft's training-data extension surface (no reference
analog): boilerplate spans (navigation lines, license headers, quoted
templates) repeat across millions of web documents, and span-level
dedup removes every repeated occurrence EXCEPT one canonical copy
while leaving the rest of each document intact — the document-level
dedup family (``operators/dedup.py``) cannot express this because the
surrounding text differs.

Semantics (deterministic, partition-invariant): the text is cut into
non-overlapping ``w``-word chunks by word position (the final chunk
may be shorter); the canonical owner of a chunk text is the occurrence
with the smallest ``(doc_id, chunk_idx)`` across the whole corpus;
every other occurrence is dropped.  Per document the operator reports
how many chunks it had, how many were dropped, and the surviving text.

Scale design (100 TB):

1. **Chunking is pure map-side** — ``transform(sequence(...))`` over
   the split word array, no per-word explode, no shuffle.
2. **Owner election is a map-side-combinable groupBy** — the shuffle
   key is ``md5(chunk)`` (16 opaque bytes, the house dedup key —
   never the chunk string), and ``min(struct(doc_id, cidx))`` gets a
   partial aggregate before the exchange, so a chunk repeated 10^9
   times ("Home | About | Contact") contributes ONE row per map task
   to the owner exchange, not 10^9.
3. **Kept-flag is a shuffle join on the digest** — the occurrence
   side must move once (it carries the chunk text for reassembly; any
   scheme must move that text at least once).  Hot chunk keys are a
   JOIN skew, which AQE's skew-join split handles, unlike a window
   ``row_number`` over the chunk key which would pin each hot key to
   a single task (that is why owner election is min(struct), not a
   window).
4. **Reassembly** is one exchange keyed by the document id (a long).

The chunk frame is used by both the owner election and the occurrence
side, so it is persisted for the job and unpersisted once the result
is materialized (house lifecycle, cf. ``dedup._materialize_and_release``).
Exactness rests on md5(chunk) being collision-free, the same standing
assumption as exact document dedup (``dedup.py``).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_chunk_array(text_col: str, w: int) -> Column:
    """array<string> of the non-overlapping ``w``-word chunks of a
    text column (words = single-space split, matching the DuckDB
    oracle's ``string_split``); the last chunk keeps the remainder
    words.  ``split`` never yields an empty array (empty text gives
    ``['']``), so the sequence bound is always >= 0."""
    words = f"split({text_col}, ' ')"
    return F.expr(
        f"transform(sequence(0, (size({words}) + {w - 1}) div {w} - 1), "
        f"i -> array_join(slice({words}, i * {w} + 1, {w}), ' '))")


def span_dedup_stats(docs: DataFrame, w: int = 5) -> DataFrame:
    """(doc_id, n_chunks, n_dropped, kept_text) for every document, where
    a chunk occurrence is dropped iff a smaller ``(doc_id, cidx)``
    occurrence of the same chunk text exists anywhere in the corpus."""
    chunks = (docs
              .select("doc_id",
                      F.posexplode(word_chunk_array("text", w))
                      .alias("cidx", "chunk"))
              .withColumn("ckey", F.md5("chunk")))
    chunks.persist()
    owners = (chunks
              .groupBy("ckey")
              .agg(F.min(F.struct("doc_id", "cidx")).alias("owner")))
    flagged = (chunks
               .join(owners, "ckey")
               .withColumn(
                   "kept",
                   (F.col("owner")["doc_id"] == F.col("doc_id"))
                   & (F.col("owner")["cidx"] == F.col("cidx"))))
    out = (flagged
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                F.sum(F.when(F.col("kept"), 0).otherwise(1))
                .cast("long").alias("n_dropped"),
                F.concat_ws(" ", F.array_sort(
                    F.collect_list(F.when(
                        F.col("kept"),
                        F.struct("cidx", "chunk"))))
                    .getField("chunk")).alias("kept_text")))
    from console_log_parser_spark.operators.dedup import \
        _materialize_and_release
    return _materialize_and_release(out, chunks)
