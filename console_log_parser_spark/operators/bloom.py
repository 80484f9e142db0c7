"""Bloom-filter benchmark decontamination — the sketch-broadcast scale
path for contamination checks.

``operators/decontam.py`` broadcasts the benchmark's DISTINCT n-grams
as strings: exact, but the broadcast grows with the benchmark (an
n-gram set over a large eval suite is GBs of strings). The standard
engineering answer is a Bloom filter: k hash positions per gram in an
m-bit array, membership = all k bits set. No false negatives, a
deterministic false-positive set — and because both engines derive the
positions from the same md5 arithmetic, Spark and the DuckDB oracle
flag byte-identical results, false positives included (the FP set is a
pure function of (m, k, hash), not of engine randomness).

Layout: the filter is m/32 ``(word_idx, bits)`` rows — 32 bits per
BIGINT word, built by a partial+final ``bit_or`` aggregation over the
benchmark grams' bit contributions, never a driver-side bit array.
32 (not 64) bits per word because DuckDB's ``<<`` is overflow-checked:
``1::BIGINT << 63`` ERRORS there while Spark's ``shiftleft`` silently
wraps to the sign bit — capping the shift at 31 keeps both engines in
exactly agreeing signed arithmetic. The corpus side probes
it with k broadcast LEFT joins on ``word_idx`` (a missing word means
those 32 bits are all zero): entirely map-side behind the broadcast,
so the only corpus-wide exchange is the final per-doc count. At
production scale (m = 2^33 bits -> 128 M rows of 8 B words ~ 1 GiB)
the filter frame stays a justified broadcast an order of magnitude
smaller than the gram strings it replaces; beyond that the same plan
degrades gracefully to a shuffled equi-join on word_idx.

Hashing: position_j(g) = int(md5(g)[off_j : off_j+15], 16) % m with
offsets 1 and 16 — the repo's portable md5 idiom (60-bit hex slices
fit BIGINT in both engines). k = 2.

Counts are per-OCCURRENCE (not distinct grams): a distinct would
shuffle the full corpus gram stream before the verdict, defeating the
map-side design; the decontam operator already provides distinct-gram
semantics where audits need them.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from console_log_parser_spark.operators.decontam import word_ngrams

DEFAULT_M_BITS = 4096  # 128 32-bit words; production ~10 bits/gram
GRAM_N = 3  # words per n-gram


def _pos(gram: Column, offset: int, m_bits: int) -> Column:
    """One 60-bit md5 slice reduced mod m — identical in DuckDB as
    ('0x' || substr(md5(g), offset, 15))::BIGINT % m."""
    return (F.conv(F.substring(F.md5(gram), offset, 15), 16, 10)
            .cast("long") % m_bits)


def bloom_build(benchmark: DataFrame, m_bits: int = DEFAULT_M_BITS,
                _grams: DataFrame | None = None) -> DataFrame:
    """(word_idx, bits): the m-bit filter over the benchmark's word
    n-grams as m/32 packed rows (32 bits per BIGINT word — see module
    docstring). One partial+final bit_or aggregation; absent word_idx
    rows are all-zero words. ``_grams`` injects a precomputed distinct
    gram frame (the ``_shingles`` contract) so callers that also need
    the grams don't aggregate the benchmark twice."""
    grams = _grams if _grams is not None else (
        benchmark
        .select(F.explode(word_ngrams("text", GRAM_N)).alias("gram"))
        .distinct())
    pos = grams.select(F.explode(F.array(
        _pos(F.col("gram"), 1, m_bits),
        _pos(F.col("gram"), 16, m_bits))).alias("pos"))
    return (pos
            .select(F.expr("pos DIV 32").alias("word_idx"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(pos % 32 AS INT))").alias("m"))
            .groupBy("word_idx")
            .agg(F.bit_or("m").alias("bits")))


def bloom_contamination(docs: DataFrame, benchmark: DataFrame,
                        m_bits: int = DEFAULT_M_BITS) -> DataFrame:
    """Per document: total n-gram occurrences, Bloom-flagged
    occurrences, exact-flagged occurrences (ground truth via the
    string broadcast), and the false positives the filter admits —
    ``(doc_id, n_grams, n_bloom, n_exact, n_false_pos)``.

    n_bloom >= n_exact always (a Bloom filter has no false negatives:
    every inserted gram's bits are set). The probe is two broadcast
    left joins on word_idx + one broadcast semi-probe for ground
    truth; the only corpus exchange is the per-doc aggregation."""
    bench_grams = (benchmark
                   .select(F.explode(word_ngrams("text", GRAM_N))
                           .alias("gram"))
                   .distinct())
    filt = bloom_build(benchmark, m_bits, _grams=bench_grams)
    bench_grams = bench_grams.withColumn("exact_hit", F.lit(1))
    g = docs.select(
        F.col("doc_id"),
        F.explode(word_ngrams("text", GRAM_N)).alias("gram"))
    g = (g.withColumn("p1", _pos(F.col("gram"), 1, m_bits))
         .withColumn("p2", _pos(F.col("gram"), 16, m_bits)))
    f1 = filt.select(F.col("word_idx").alias("w1"),
                     F.col("bits").alias("b1"))
    f2 = filt.select(F.col("word_idx").alias("w2"),
                     F.col("bits").alias("b2"))
    probed = (g
              .join(F.broadcast(f1),
                    F.expr("p1 DIV 32") == F.col("w1"), "left")
              .join(F.broadcast(f2),
                    F.expr("p2 DIV 32") == F.col("w2"), "left")
              .join(F.broadcast(bench_grams), "gram", "left")
              .select(
                  "doc_id",
                  F.when(
                      (F.expr("b1 & shiftleft(CAST(1 AS BIGINT), "
                              "CAST(p1 % 32 AS INT))") != 0)
                      & (F.expr("b2 & shiftleft(CAST(1 AS BIGINT), "
                                "CAST(p2 % 32 AS INT))") != 0), 1)
                  .otherwise(0).alias("bloom_hit"),
                  F.coalesce(F.col("exact_hit"), F.lit(0))
                  .alias("exact_hit")))
    return (probed.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                 F.sum("bloom_hit").cast("long").alias("n_bloom"),
                 F.sum("exact_hit").cast("long").alias("n_exact"),
                 (F.sum("bloom_hit") - F.sum("exact_hit")).cast("long")
                 .alias("n_false_pos")))
