"""Benchmark decontamination (operators/decontam.py): correctness on
hand-built corpora and the broadcast plan shape the scale story
promises (benchmark grams broadcast; no corpus-sized sort-merge join)."""
import pytest
from pyspark.sql import functions as F

from console_log_parser_spark.operators.decontam import (
    contamination_counts, word_ngrams)


@pytest.fixture(scope="module")
def corpora(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # shares "b c d" and "c d e"
         (2, "x y z w"),          # clean
         (3, "q b c d q"),        # shares "b c d"
         (4, "a b"),              # < n words: no grams, clean
         (5, "")],                # empty text
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [(100, "z b c d e m")], "doc_id int, text string")
    return docs, bench


def test_word_ngrams_values(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "text string")
    got = [r[0] for r in df.select(word_ngrams("text", 3)).collect()]
    assert got == [["a b c", "b c d"], [], []]


def test_contamination_counts(corpora):
    docs, bench = corpora
    got = {r["doc_id"]: r["n_contam"]
           for r in contamination_counts(docs, bench, n=3).collect()}
    # bench grams: {"z b c","b c d","c d e","d e m"}
    assert got == {1: 2, 3: 1}


def test_duplicate_gram_in_doc_counted_once(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id int, text string")
    bench = spark.createDataFrame([(9, "a b c")], "doc_id int, text string")
    got = contamination_counts(docs, bench, n=3).collect()
    # "a b c" occurs 3x in the doc but is ONE distinct shared gram
    assert [(r["doc_id"], r["n_contam"]) for r in got] == [(1, 1)]


def test_plan_broadcasts_benchmark_no_smj(spark):
    docs = spark.range(200).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id").cast("string"),
                 F.lit(" a b c d e f")).alias("text"))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    plan = contamination_counts(docs, bench, n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
