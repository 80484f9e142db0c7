"""Model-based quality scoring — a distilled linear classifier applied
at corpus scale.

The standard production pattern for LLM data curation: an expensive
teacher (human labels, an LLM judge, a fasttext model) is distilled to
a small linear model over cheap engineered features, and THAT model
runs over the full corpus. This module is the corpus-scale inference
half: given integer feature weights, score and bucket every document.

Scale design (100 TB): the model's weights are compiled INTO the plan
as literals — no join, no broadcast variable, no UDF; the whole score
is one whole-stage-codegen projection over built-in expressions, so
inference adds zero exchanges and zero Python. Integer-only
arithmetic (weights and features are longs) keeps the score exact on
every engine — no float-boundary bucket flips between Spark, the
DuckDB oracle, and a resumed run (same discipline as
``sampling.BP`` basis points).

Features (all from built-ins): n_chars, n_words (single-space split,
matching the oracle's ``string_split``), n_distinct_words,
max_word_len.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Distilled "quality" head: integer weights over integer features plus
# a bias, thresholds in the same integer score space. Stand-in values
# with the production shape (a real deployment would paste the
# distilled weights here — the plan is identical).
DEFAULT_WEIGHTS = {"bias": -400, "n_chars": 1, "n_words": -2,
                   "n_distinct_words": 6, "max_word_len": -3}
DEFAULT_THRESHOLDS = (250, 600)  # score < t0: low, < t1: mid, else high


def quality_features() -> dict[str, Column]:
    """Integer feature columns of ``text`` for the linear head."""
    words = F.split(F.col("text"), " ")
    return {
        "n_chars": F.length("text").cast("long"),
        "n_words": F.size(words).cast("long"),
        "n_distinct_words": F.size(F.array_distinct(words)).cast("long"),
        "max_word_len": F.array_max(
            F.transform(words, lambda w: F.length(w))).cast("long"),
    }


def score_quality(df: DataFrame, weights: dict | None = None,
                  thresholds: tuple | None = None) -> DataFrame:
    """Add integer ``q_score`` = bias + sum(w_i * feature_i) and
    ``q_bucket`` in {'low','mid','high'} by threshold. Pure projection:
    weights fold into the plan as literals."""
    w = dict(weights or DEFAULT_WEIGHTS)
    t0, t1 = thresholds or DEFAULT_THRESHOLDS
    feats = quality_features()
    score = F.lit(int(w.pop("bias", 0))).cast("long")
    for name, coef in w.items():
        score = score + F.lit(int(coef)) * feats[name]
    out = df.withColumn("q_score", score)
    return out.withColumn(
        "q_bucket",
        F.when(F.col("q_score") < t0, "low")
         .when(F.col("q_score") < t1, "mid")
         .otherwise("high"))
