"""Bigram language-model document scoring — the integer-exact analog
of the CCNet / Wikipedia-LM perplexity filter LLM pipelines use to
rank crawl text by fluency (Wenzek et al., "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data", LREC 2020).

A document whose word bigrams are frequent corpus-wide reads like the
corpus (low perplexity); one full of never-seen-again bigrams is
boilerplate, mojibake or noise.  The classic score is
``-1/n * sum log2 P(w_i | w_{i-1})``; floats, however, are banned from
this repo's verified surfaces (IEEE reassociation makes float sums
partition-order-dependent), so the score here is the monotone integer
skeleton of the same quantity:

    bits(bigram)   = floor(log2 corpus_count(bigram))
                   = length(bin(count)) - 1        (pure integer)
    sum_bits(doc)  = sum over the doc's bigram OCCURRENCES
    avg_bits_x100  = 100 * sum_bits DIV n_bigrams

Higher ``avg_bits_x100`` == the document's transitions are corpus-
typical (the analog of LOW perplexity).  Because every step is integer
arithmetic on exact counts, the DuckDB oracle reproduces it bit-for-
bit — no log() boundary cases, no float sum order.

Scale design (100 TB corpus, ~10^10-bigram vocabulary):

* the bigram stream is a pure map-side explode (no shuffle);
* corpus counts are one partial+final hash aggregation — counts
  shuffle, never strings-per-doc, and partial aggregation absorbs the
  Zipf head map-side;
* the count join back onto the stream is the canonical SKEW join ("of
  the" occurs in ~every partition), so it is split hot/cold the same
  way ``operators/index.py`` bounds posting lists: the head of the
  distribution (``count > hot_df``, at most ``total/hot_df`` rows —
  bounded by construction) joins as a BROADCAST map-side, and only the
  skew-free tail takes the shuffle equi-join (AQE skew-split as the
  second line of defense);
* the per-document aggregation is one exchange keyed by doc id.

Reference parity: the reference has no LM scorer — this is part of the
training-data extension surface (SURVEY.md §2 "beyond the reference"),
like dedup/sampling/decontamination.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: default Zipf-head threshold for the broadcast side of the count
#: join; at most total_bigrams/hot_df rows can exceed it, so the
#: broadcast is bounded by construction (not by hope).
DEFAULT_HOT_DF = 50


def bigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram) pairs, one per bigram OCCURRENCE (repetition kept:
    an LM counts every transition), words = single-space split with
    empties dropped (same tokenization as ``operators/index.py`` and
    its DuckDB twin).  Map-side only — the CASE guard matters because
    Spark's ``sequence(1, 0)`` DESCENDS instead of returning empty
    (same trap as ``decontam.word_ngrams``)."""
    wl = F.expr("filter(split(text, ' '), x -> x <> '')")
    return (docs
            .select("doc_id", wl.alias("_wl"))
            .select("doc_id", F.explode(F.expr(
                "CASE WHEN size(_wl) >= 2 THEN "
                "transform(sequence(1, size(_wl) - 1), "
                "i -> concat(element_at(_wl, i), ' ', "
                "element_at(_wl, i + 1))) "
                "ELSE array() END")).alias("bigram")))


def bigram_counts(stream: DataFrame) -> DataFrame:
    """(bigram, c): corpus-wide occurrence counts of a
    :func:`bigram_stream` — partial+final hash aggregation, nothing
    skew-sized shuffles."""
    return stream.groupBy("bigram").agg(F.count("*").alias("c"))


def lm_bits_per_doc(docs: DataFrame,
                    hot_df: int = DEFAULT_HOT_DF) -> DataFrame:
    """Per-document integer LM score:
    ``(doc_id, n_bigrams, sum_bits, avg_bits_x100)``, one row per document
    with >= 1 bigram (a <2-word doc has no transitions to score — same
    inner-join semantics in the oracle).

    ``bits = length(bin(c)) - 1`` is floor(log2 c) computed without
    ever touching a float (``bin`` is the binary digit string), so the
    DuckDB twin (``length(format('{:b}', c)) - 1``) agrees exactly."""
    # the stream feeds THREE consumers (frequency counts, the hot
    # probe, the cold probe) — persist it so the corpus-wide explode
    # runs once, with the simhash/minhash lifecycle (materialize the
    # bounded per-doc output, then release)
    stream = bigram_stream(docs).persist()
    freqs = bigram_counts(stream)
    hot = freqs.filter(F.col("c") > hot_df)
    cold = freqs.filter(F.col("c") <= hot_df)
    # Zipf head map-side (broadcast, bounded by total/hot_df); only the
    # skew-free tail pays the shuffle equi-join.
    scored_hot = stream.join(F.broadcast(hot), "bigram")
    scored_cold = (stream
                   .join(F.broadcast(hot.select("bigram")), "bigram",
                         "left_anti")
                   .join(cold, "bigram"))
    scored = scored_hot.unionByName(scored_cold)
    bits = F.expr("length(bin(c)) - 1")
    out = (scored.groupBy("doc_id")
           .agg(F.count("*").alias("n_bigrams"),
                F.sum(bits).alias("sum_bits"))
           .withColumn("avg_bits_x100",
                       F.expr("(sum_bits * 100) div n_bigrams")))
    from console_log_parser_spark.operators.dedup import \
        _materialize_and_release
    return _materialize_and_release(out, stream)


def quality_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's final step — split the scored corpus into head /
    middle / tail quality tertiles by exact nearest-rank percentile
    cutoffs (33rd and 66th) of ``avg_bits_x100`` (CCNet §4.4: the head is the most
    corpus-typical third). Returns one row per bucket:
    ``(bucket, n_docs, min_score, max_score, sum_bits)``.

    The cutoffs come from the bounded-domain histogram (the
    ``operators/stats.py`` machinery): one partial+final agg over the
    score domain, NO corpus sort or approx-percentile epsilon. The
    cumulative counts over that tiny frame use the house broadcast
    TRIANGULAR JOIN, not a window — the stratum here is the whole
    corpus, and Catalyst folds a constant partition column back to an
    unpartitioned window (the repo-banned single-task shape); the
    O(D^2) join over the D-valued score domain is trivial at any
    corpus size. Boundary rule: score <= p_lo -> tail, <= p_hi ->
    middle, else head; ties sit with the lower bucket in both engines
    because the cutoff IS a score value."""
    hist = (scored.groupBy(F.col("avg_bits_x100").cast("long").alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt")))
    x, y = hist.alias("x"), hist.alias("y")
    cum = (x.join(F.broadcast(y), F.col("y.v") <= F.col("x.v"))
           .groupBy(F.col("x.v").alias("v"))
           .agg(F.sum("y.cnt").alias("cum")))
    total = hist.agg(F.sum("cnt").alias("n"))
    cutrow = (cum.crossJoin(F.broadcast(total))
              .agg(F.min(F.when(
                  F.expr("cum >= (33 * n + 99) div 100"),
                  F.col("v"))).alias("_lo"),
                  F.min(F.when(
                      F.expr("cum >= (66 * n + 99) div 100"),
                      F.col("v"))).alias("_hi")))
    return (scored.crossJoin(F.broadcast(cutrow))
            .withColumn("bucket",
                        F.when(F.col("avg_bits_x100") <= F.col("_lo"),
                               F.lit("tail"))
                        .when(F.col("avg_bits_x100") <= F.col("_hi"),
                              F.lit("middle"))
                        .otherwise(F.lit("head")))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("avg_bits_x100").cast("long").alias("min_score"),
                 F.max("avg_bits_x100").cast("long").alias("max_score"),
                 F.sum("sum_bits").cast("long").alias("sum_bits")))
