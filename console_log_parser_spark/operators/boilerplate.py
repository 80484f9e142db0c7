"""Corpus-frequency boilerplate detection — word n-grams that recur
across many DISTINCT documents (navigation chrome, license headers,
cookie banners) are boilerplate; each document gets its boilerplate
occurrence counts and fraction.

A standard web-corpus curation step (the C4 three-sentence rule and
CCNet's cross-shard paragraph-hash dedup are the published ancestors)
with no analog in the reference's operator inventory — it belongs to
the graft's training-data extension surface, like dedup / sampling /
decontamination.

Scale design (100 TB corpus): the corpus-sized side is exchanged as
**hashes, never strings** — grams are md5'd map-side, so every
exchange in the operator carries fixed-width keys. Three exchanges
total, each skew-safe:

1. ``(doc_id, gram_hash) -> occ``: hash partial aggregation compresses
   within-doc repeats map-side before the exchange.
2. ``gram_hash -> n_docs``: rows of (1) are unique per (doc, gram), so
   ``count(*)`` per hash is the distinct-document frequency; partial
   aggregation bounds what any one reducer receives to one row per
   upstream partition, even for a gram present in every document.
3. the final per-doc stats aggregate (doc_id keys, uniform).

The join of per-doc gram rows against the (filtered, small) boilerplate
set is left to AQE: it broadcasts when the set fits (the common case —
the threshold keeps only grams recurring across >= min_docs documents)
and skew-splits the build of a pathologically hot gram otherwise. md5
is used for engine/oracle portability (DuckDB computes the identical
hex); a production deployment would swap ``xxhash64`` for an 8-byte
exchange key — the plan shape is unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from console_log_parser_spark.operators.decontam import word_ngrams
from console_log_parser_spark.operators.dedup import \
    _materialize_and_release

GRAM_N = 5  # words per n-gram


def doc_gram_hashes(docs: DataFrame) -> DataFrame:
    """``(doc_id, gh, occ)`` — per-document occurrence counts of each
    md5-hashed word GRAM_N-gram. The raw gram strings never leave the
    map side."""
    return (docs
            .select("doc_id",
                    F.explode(word_ngrams("text", GRAM_N)).alias("gram"))
            .select("doc_id", F.md5("gram").alias("gh"))
            .groupBy("doc_id", "gh")
            .agg(F.count("*").alias("occ")))


def boilerplate_grams(per_doc_gram: DataFrame,
                      min_docs: int) -> DataFrame:
    """``(gh, n_docs)`` for every gram hash present in at least
    ``min_docs`` distinct documents. Input rows are unique per
    (document, gram), so a plain ``count(*)`` per hash IS the
    distinct-document frequency — no count_distinct shuffle."""
    return (per_doc_gram
            .groupBy("gh")
            .agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs))


def boilerplate_stats(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Per-document boilerplate profile: total / distinct gram counts,
    boilerplate occurrence / distinct counts, and the boilerplate
    fraction in integer basis points (``10000 * boiler_occ div
    total_occ`` — integer division; both operands are non-negative, so
    Spark's truncating ``div`` and DuckDB's flooring ``//`` agree).
    Documents with fewer than GRAM_N words produce no grams and are
    absent from the result, matching the oracle."""
    pdg = doc_gram_hashes(docs).persist()
    boiler = boilerplate_grams(pdg, min_docs)
    totals = (pdg.groupBy("doc_id")
              .agg(F.sum("occ").alias("n_gram_occ"),
                   F.count("*").alias("n_distinct_grams")))
    hits = (pdg.join(boiler.select("gh"), "gh")
            .groupBy("doc_id")
            .agg(F.sum("occ").alias("n_boiler_occ"),
                 F.count("*").alias("n_boiler_grams")))
    out = (totals.join(hits, "doc_id", "left")
           .na.fill({"n_boiler_occ": 0, "n_boiler_grams": 0})
           .select(F.col("doc_id"),
                   F.col("n_gram_occ").cast("long").alias("n_gram_occ"),
                   F.col("n_distinct_grams").cast("long")
                   .alias("n_distinct_grams"),
                   F.col("n_boiler_occ").cast("long")
                   .alias("n_boiler_occ"),
                   F.col("n_boiler_grams").cast("long")
                   .alias("n_boiler_grams"),
                   F.expr("10000 * n_boiler_occ div n_gram_occ")
                   .cast("long").alias("boiler_bp")))
    return _materialize_and_release(out, pdg)
