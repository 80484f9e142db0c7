"""Benchmark decontamination — flag training documents that share a
word n-gram with an evaluation ("benchmark") set.

A standard step of LLM training-data pipelines that the reference's
operator inventory has no analog for (it is part of the graft's
training-data extension surface, like dedup/sampling): any document
whose text contains an n-gram that also occurs in a held-out benchmark
must be flagged, for audit or for the training export to drop, so the
benchmark stays uncontaminated.

Scale design (100 TB corpus, MB-GB benchmark): the benchmark side is
exploded to its DISTINCT n-grams — eval sets are a few MB, so this is
at most ~10^6-10^7 short strings — and BROADCAST; the corpus side is a
map-side explode + broadcast hash semi-join, so the only exchange in
the whole operator is the final per-doc partial+final count over the
HIT rows (tiny by construction: contamination is the exception). No
corpus-sized shuffle, no self-join, deterministic (no hashing even —
grams compare as strings, so a resumed run flags identically).
Production n is 8-13 words; tests and the driver query use n=3 because
the synthetic corpus's vocabulary is small.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(text_col: str, n: int) -> Column:
    """array<string> of the space-joined word ``n``-grams of a text
    column (words = single-space split, matching the DuckDB oracle's
    ``string_split``); empty array when the text has fewer than ``n``
    words (Spark's ``sequence(1, 0)`` would DESCEND, so the guard is
    required, not cosmetic)."""
    return F.expr(
        f"CASE WHEN size(split({text_col}, ' ')) >= {n} THEN "
        f"transform(sequence(1, size(split({text_col}, ' ')) - {n} + 1), "
        f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' ')) "
        "ELSE array() END")


def contamination_counts(docs: DataFrame, benchmark: DataFrame,
                         n: int = 8, text_col: str = "text") -> DataFrame:
    """(doc_id, n_contam) for every document sharing >= 1 word n-gram with
    the benchmark; n_contam = number of DISTINCT shared n-grams."""
    bench_grams = (benchmark
                   .select(F.explode(word_ngrams(text_col, n)).alias("gram"))
                   .distinct())
    doc_grams = docs.select(
        "doc_id", F.explode(word_ngrams(text_col, n)).alias("gram"))
    # Join BEFORE any distinct: the broadcast hash join filters the
    # corpus gram stream map-side, so the only exchanged rows are the
    # HITS (contamination is the exception) — a corpus-side distinct
    # here would shuffle every gram of the 100 TB corpus. The distinct
    # over hit rows then makes n_contam count DISTINCT shared grams
    # even when a doc repeats one.
    return (doc_grams
            .join(F.broadcast(bench_grams), "gram")
            .select("doc_id", "gram").distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contam")))

