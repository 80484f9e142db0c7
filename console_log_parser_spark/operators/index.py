"""Inverted-index (posting-list) construction — the retrieval-side
primitive behind BM25 search, contamination lookups, and
cluster-assignment joins.

Scale design (100 TB): posting-list build is the canonical SKEW
case — ``collect_list`` on a stop word ("the") tries to hold one
posting per document of the corpus in a single aggregation buffer.
The guard must run BEFORE any list is materialized, so the build is
two-pass:

1. document frequencies: explode each doc's DISTINCT terms (one
   posting per (term, doc) regardless of repetition) and count —
   a partial+final hash aggregation, skew-free because counts, not
   lists, shuffle;
2. the hot-term set (``df > max_df``) is vocabulary-sized (tiny) and
   anti-joins the term stream as a BROADCAST — hot terms never enter
   the posting aggregation at all — then surviving terms
   ``collect_list`` their postings, each list bounded by ``max_df``
   BY CONSTRUCTION, not by hope.

Postings are sorted in the aggregate (``sort_array``), so the result
is deterministic under any partitioning/retry — the same discipline
as every md5-keyed operator here. Hot terms are not silently
dropped: they come back as a separate frame (term, df) so callers
can route them to the stop list or a chunked encoding.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _term_stream(df: DataFrame) -> DataFrame:
    """(doc_id, term) pairs, one per DISTINCT term per document."""
    return (df.select("doc_id",
                      F.explode(F.array_distinct(
                          F.split(F.col("text"), " ")))
                      .alias("term"))
              .filter(F.col("term") != ""))


def document_frequencies(df: DataFrame) -> DataFrame:
    """(term, df_docs): pass 1, counts only — nothing skew-sized."""
    return (_term_stream(df)
            .groupBy("term")
            .agg(F.count("*").alias("df_docs")))


def rare_terms_per_doc(df: DataFrame, k: int) -> DataFrame:
    """Keyword extraction as the INTEGER analog of TF-IDF: each
    document's ``k`` globally-rarest distinct terms, ranked by
    ``(document frequency, term)`` — a total order, so the result is
    deterministic without any float idf (same integer discipline as
    the sampler's basis points; ``log(N/df)`` is monotone-decreasing
    in df, so rarest-first IS highest-idf-first).

    Plan: the frequency dimension joins the term stream by term
    (left to Catalyst/AQE — broadcast while the vocabulary is small,
    shuffle join at web-corpus vocabulary sizes), then ONE exchange
    by document for the per-doc top-k window; per-doc state is
    bounded by document length. Returns
    ``(doc_id, keywords array<struct<df_docs, term>>, rarest_df)`` with
    the array sorted rarest-first."""
    freqs = document_frequencies(df)
    stream = _term_stream(df)
    w = Window.partitionBy("doc_id").orderBy("df_docs", "term")
    return (stream.join(freqs, "term")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(
                     F.struct("df_docs", "term"))).alias("keywords"),
                 F.min("df_docs").alias("rarest_df")))


def build_postings(df: DataFrame,
                   max_df: int) -> tuple[DataFrame, DataFrame]:
    """Returns ``(postings, hot_terms)``: postings has
    ``(term, df_docs, postings)`` with the sorted doc list, every
    list bounded by ``max_df``; hot_terms has ``(term, df_docs)``
    for the excluded head of the distribution."""
    freqs = document_frequencies(df)
    hot = freqs.filter(F.col("df_docs") > max_df)
    cold = freqs.filter(F.col("df_docs") <= max_df)
    stream = _term_stream(df)
    # the HOT set is the broadcast side (module contract): it is
    # bounded by |corpus postings| / max_df by construction, while
    # the cold set is ~the whole vocabulary tail — force-broadcasting
    # THAT would hit the broadcast-relation limit at exactly the
    # web-corpus scale this module targets. Hot terms leave via a
    # broadcast ANTI join; the df_docs lookup for survivors joins
    # cold WITHOUT a hint (AQE broadcasts it at test scale, shuffles
    # at vocabulary scale — both correct).
    postings = (stream
                .join(F.broadcast(hot.select("term")), "term",
                      "left_anti")
                .join(cold, "term")
                .groupBy("term")
                .agg(F.max("df_docs").alias("df_docs"),
                     F.sort_array(F.collect_list("doc_id"))
                     .alias("postings")))
    return postings, hot
