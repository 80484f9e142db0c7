"""Winnowing document fingerprints (MOSS local sketch).

Implements the winnowing algorithm of Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
2003, public): hash every word k-gram, slide a window of ``w``
consecutive k-gram hashes over the document, and select each window's
MINIMUM hash (ties broken to the RIGHTMOST position — the paper's
rule, which makes the sketch a function of the text alone). The
selected fingerprint set is the document sketch; any shared run of at
least ``w + k - 1`` words between two documents is guaranteed to share
a fingerprint, which is what makes the sketch a sound candidate filter
for plagiarism / near-dup detection at corpus scale.

Scale design: winnowing is embarrassingly per-document and this
implementation keeps it that way — the k-gram hash array, the
window-minimum selection and the sketch statistics are all computed
inside ONE map-side projection over array expressions (no explode, no
window-function shuffle, no per-doc partition skew). A sketch-building
job is a pure scan-side transform that rides the source partitioning;
the only exchange is whatever the caller aggregates afterwards.

The tie-rightmost window minimum is computed on a single packed
integer key ``hash48 * 8192 + max(8191 - pos, 0)`` (48-bit md5-prefix
k-gram hash, 13-bit inverted 0-based position, clamped): the numeric
minimum of the packed key IS the (min hash, max position) pair, so
``array_min(slice(...))`` — and the DuckDB oracle's
``list_min(list_slice(...))`` — agree bit-for-bit using integer ops
both engines share. The packed key stays under 2^61 at any document
length: position bits are strictly lower-order than any hash
difference, so the clamp past position 8191 only coarsens WHICH
equal-hash gram wins a tie — invisible in the fingerprint set the
operators emit (see ``packed_gram_keys``).

Reference parity note: the reference engine has no winnowing operator
(this is one of the beyond-reference training-data-pipeline ops); the
hash convention (md5-prefix integer) matches
``operators/dedup.py:shingle_hash`` (dedup.py:60).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

POS_BITS = 13          # packed positions 0..8191
POS_MOD = 1 << POS_BITS
WINNOW_K = 3           # words per gram
WINNOW_W = 4           # grams per window


def packed_gram_keys(ws_col: str, k: int) -> Column:
    """array<long> of packed ``hash48 * 8192 + max(8191 - pos, 0)``
    keys for every word k-gram of a pre-split word-array column, in
    document order (pos 0-based). Empty when there are fewer than
    ``k`` words.

    The clamp makes the packed key safe at ANY document length: the
    position bits are strictly lower-order than any hash difference,
    so they only ever decide WHICH of several equal-hash grams is the
    window's argmin — invisible in the fingerprint set (``div 8192``
    recovers the hash either way). Without the clamp, positions past
    8191 would drive the low term negative and corrupt the recovered
    hash; with it, grams past 8191 merely lose the rightmost-tie
    refinement (they all carry position weight 0) while the selected
    HASHES stay exact."""
    gram = ("concat_ws(' ', "
            + ", ".join(f"element_at({ws_col}, i + {j})"
                        for j in range(k))
            + ")")
    return F.expr(
        f"CASE WHEN size({ws_col}) >= {k} THEN "
        f"transform(sequence(1, size({ws_col}) - {k - 1}), i -> "
        f"cast(conv(substring(md5({gram}), 1, 12), 16, 10) as bigint)"
        f" * {POS_MOD} + greatest({POS_MOD - 1} - (i - 1), 0L)) "
        "ELSE cast(array() as array<bigint>) END")


def winnow_fingerprint_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_grams, fps: array<long>) — the distinct
    winnowing fingerprints per document (WINNOW_K-word grams,
    WINNOW_W-gram windows), still one map-side projection (the shared
    core of the stats and pair operators)."""
    df = (docs
          .select("doc_id", F.split(F.col("text"), " ").alias("ws"))
          .select("doc_id",
                  F.size("ws").cast("long").alias("n_words"),
                  packed_gram_keys("ws", WINNOW_K).alias("gk")))
    n_win = f"greatest(size(gk) - {WINNOW_W - 1}, 1)"
    sel = (f"array_distinct(transform(sequence(1, {n_win}), "
           f"i -> array_min(slice(gk, i, {WINNOW_W})) div {POS_MOD}))")
    return df.select(
        "doc_id", "n_words",
        F.size("gk").cast("long").alias("n_grams"),
        F.expr(f"CASE WHEN size(gk) = 0 THEN "
               f"cast(array() as array<bigint>) "
               f"ELSE {sel} END").alias("fps"))


def winnow_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs from the winnowing sketches:
    (doc_a, doc_b, n_shared) for every pair sharing at least 2
    fingerprints, doc_a < doc_b.

    Scale design — ONE fingerprint-keyed exchange, no self-join: the
    exploded (doc, fp) rows group into per-fingerprint doc buckets; a
    fingerprint held by more than 8 documents is dropped as
    boilerplate (a gram shared by hundreds of documents is template
    text, not a copy signal — the same hot-key prune as the PPJoin
    hot-shingle rule in dedup.py), so every surviving bucket expands
    to at most 8*7/2 pairs map-side. The pair
    aggregation exchanges two longs per candidate.

    Eager: the call runs one count job and returns the pair frame
    PERSISTED (the fingerprint arrays it was built from are already
    released). The caller owns that cache and must ``unpersist()`` the
    returned frame when done with it; a long-lived session that calls
    this repeatedly otherwise accumulates cached pair frames."""
    # persist the fingerprint arrays BEFORE the explode: Generate
    # re-evaluates its generator expression per OUTPUT row, and the
    # winnowing expression nests the gram-hash transform inside the
    # window-min transform — exploding it inline re-ran the md5 pass
    # per emitted fingerprint, O(fps x grams) per doc (measured 25 s
    # for 500 docs at sf0.01; 0.1 s with the arrays materialized).
    # Same bounded lifecycle as the MinHash band frame: ~20 longs/doc,
    # released by the caller path when the pair frame materializes.
    from .dedup import _materialize_and_release
    arrays = (winnow_fingerprint_arrays(docs)
              .select("doc_id", "fps").persist())
    fps = arrays.select("doc_id", F.explode("fps").alias("fp"))
    buckets = (fps.groupBy("fp")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
               .filter((F.size("ds") >= 2) & (F.size("ds") <= 8)))
    pairs = buckets.select(F.explode(F.expr(
        "flatten(transform(sequence(1, size(ds) - 1), i -> "
        "transform(sequence(i + 1, size(ds)), j -> "
        "struct(element_at(ds, i) AS a, element_at(ds, j) AS b))))"
    )).alias("p"))
    out = (pairs
           .groupBy(F.col("p.a").alias("doc_a"),
                    F.col("p.b").alias("doc_b"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
           .filter(F.col("n_shared") >= 2))
    return _materialize_and_release(out, arrays)


def winnow_sketch_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_grams, sketch_size, min_fp, max_fp) per doc.

    ``sketch_size`` is the number of DISTINCT fingerprints winnowing
    selects with window ``w`` over the k-gram hash stream;
    ``min_fp``/``max_fp`` are the smallest/largest selected 48-bit
    hashes (sketch-content witnesses for the oracle's value-hash).
    Documents with fewer than ``w + k - 1`` words still emit a row: a
    non-empty stream shorter than ``w`` is treated as one window (the
    natural boundary convention for short inputs); with no k-gram at
    all the sketch is empty and the fp columns are NULL."""
    return (winnow_fingerprint_arrays(docs)
            .select("doc_id", "n_words", "n_grams",
                    F.size("fps").cast("long").alias("sketch_size"),
                    F.expr("CASE WHEN size(fps) = 0 THEN NULL "
                           "ELSE array_min(fps) END").alias("min_fp"),
                    F.expr("CASE WHEN size(fps) = 0 THEN NULL "
                           "ELSE array_max(fps) END").alias("max_fp")))
