"""DSIR-style importance scoring — hashed unigram log-likelihood
ratios between a target (benchmark) distribution and the raw corpus.

Data Selection with Importance Resampling (Xie et al., 2023, public):
score each raw document by how much more likely its tokens are under
the TARGET distribution than under the RAW distribution, then sample
proportionally. The distributions are hashed-feature unigram models:
a word contributes to bucket ``md5(word) % B``, so the model is a
fixed-size count vector regardless of vocabulary.

Integer-exact skeleton (house rule — no float log may decide a
boundary): with per-bucket counts t(b) (target) and r(b) (raw),

    score(word) = bits(t(bucket)+1) - bits(r(bucket)+1)
    bits(c)     = length(bin(c)) - 1        -- floor(log2 c)
    dsir(doc)   = sum over the doc's word OCCURRENCES

(+1 is add-one smoothing so empty buckets read bits(1) = 0). This is
floor-log2 likelihood ratio — the same integer-log discipline as
``operators/lm.py``.

Scale design (100 TB corpus): both count frames are bounded by B
(buckets, default 256; production 10^4-10^5) — broadcast dimensions,
never corpus-sized. Scoring is a map-side explode + one broadcast
join; the ONLY corpus exchange is the per-doc partial+final sum. A
raw-side word's bucket always has r >= 1 (the word itself is raw), so
the left join against the target counts is the only nullable side.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 256


def _bucket(word: Column, n_buckets: int) -> Column:
    """md5-hashed feature bucket — DuckDB twin:
    ('0x' || substr(md5(word), 1, 15))::BIGINT % B."""
    return (F.conv(F.substring(F.md5(word), 1, 15), 16, 10)
            .cast("long") % n_buckets)


def _words(docs: DataFrame) -> DataFrame:
    return (docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != ""))


def _bits(c: Column) -> Column:
    """floor(log2 c) as pure integer arithmetic."""
    return (F.length(F.bin(c)) - 1).cast("long")


def dsir_scores(raw: DataFrame, target: DataFrame,
                n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """``(doc_id, n_words, dsir_score)`` for every raw document with at
    least one word; higher score = more target-like."""
    rw = _words(raw).withColumn(
        "bkt", _bucket(F.col("word"), n_buckets))
    tw = _words(target).withColumn(
        "bkt", _bucket(F.col("word"), n_buckets))
    r_cnt = rw.groupBy("bkt").agg(F.count(F.lit(1)).alias("r"))
    t_cnt = tw.groupBy("bkt").agg(F.count(F.lit(1)).alias("t"))
    # bucket score table: <= B rows by construction — broadcast dim
    score = (r_cnt.join(t_cnt, "bkt", "left")
             .select("bkt",
                     (_bits(F.coalesce(F.col("t"), F.lit(0)) + 1)
                      - _bits(F.col("r") + 1)).alias("s")))
    return (rw.join(F.broadcast(score), "bkt")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("s").cast("long").alias("dsir_score")))
