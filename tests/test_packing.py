"""Sequence packing (operators/packing.py): the distributed two-pass
prefix sum must equal the naive global window exactly, the packing
coordinates must equal an independent Python recompute under the same
md5 order, and no plan may contain an unpartitioned window."""
import hashlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from console_log_parser_spark.operators.packing import (
    global_prefix_sum, pack_sequences)
from tests.test_windows import _has_unpartitioned_window, session_conf


def _width(spark, n_parts):
    """The session shuffle width the range primitives read."""
    return session_conf(spark,
                        {"spark.sql.shuffle.partitions": str(n_parts)})


def _df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id int, n_tok int")


@pytest.mark.parametrize("n_parts", [1, 4, 16])
def test_prefix_sum_matches_naive_window(spark, n_parts):
    import random
    rng = random.Random(7)
    vals = [rng.randint(0, 50) for _ in range(300)]
    df = _df(spark, vals)
    with _width(spark, n_parts):
        got = {r["doc_id"]: r["cum"] for r in global_prefix_sum(
            df, ["doc_id"], "n_tok", "cum").collect()}
    w = Window.orderBy("doc_id")
    want = {r["doc_id"]: r["cum"] for r in
            df.withColumn("cum", F.sum("n_tok").over(w)).collect()}
    assert got == want


def test_prefix_sum_zero_and_empty_partitions(spark):
    # zeros everywhere + more partitions than rows (empty partitions)
    df = _df(spark, [0, 0, 5, 0, 3])
    with _width(spark, 16):
        got = {r["doc_id"]: r["cum"] for r in global_prefix_sum(
            df, ["doc_id"], "n_tok", "cum").collect()}
    assert got == {0: 0, 1: 0, 2: 5, 3: 5, 4: 8}


def test_pack_sequences_matches_python_recompute(spark):
    import random
    rng = random.Random(11)
    vals = [rng.randint(0, 4000) for _ in range(200)]
    df = _df(spark, vals)
    got = {r["doc_id"]: (r["tok_end"], r["first_seq"], r["last_seq"])
           for r in pack_sequences(df, 1000, "n_tok").collect()}
    # independent recompute: same md5 order (hashlib hex == Spark md5)
    order = sorted(range(len(vals)),
                   key=lambda i: (hashlib.md5(str(i).encode())
                                  .hexdigest(), i))
    end = 0
    want = {}
    for i in order:
        end += vals[i]
        first = (end - vals[i]) // 1000
        last = -1 if end == 0 else (end - 1) // 1000
        want[i] = (end, first, last)
    assert got == want


def test_pack_sequences_no_unpartitioned_window(spark):
    df = _df(spark, [10] * 50)
    with _width(spark, 4):
        out = pack_sequences(df, 16, "n_tok")
        assert not _has_unpartitioned_window(out)


def _len_df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id int, n_chars int")


@pytest.mark.parametrize("n_parts", [1, 4, 16])
def test_grouped_rank_matches_naive_window(spark, n_parts):
    import random
    from console_log_parser_spark.operators.packing import grouped_rank
    rng = random.Random(13)
    rows = [(i, rng.randint(0, 4)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, g int")
    with _width(spark, n_parts):
        got = {(r["g"], r["doc_id"]): r["rn"] for r in grouped_rank(
            df, "g", ["doc_id"], "rn").collect()}
    w = Window.partitionBy("g").orderBy("doc_id")
    want = {(r["g"], r["doc_id"]): r["rn"] for r in
            df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_grouped_rank_skewed_group_spans_partitions(spark):
    # one group holds 90% of the rows — ranks must still be exact
    from console_log_parser_spark.operators.packing import grouped_rank
    rows = ([(i, 0) for i in range(90)] + [(100 + i, i % 3 + 1)
                                           for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id int, g int")
    got = sorted(r["rn"] for r in grouped_rank(
        df, "g", ["doc_id"], "rn").filter("g = 0").collect())
    assert got == list(range(1, 91))


def test_length_bucket_batches_matches_python_recompute(spark):
    import random
    from console_log_parser_spark.operators.packing import (
        length_bucket_batches)
    rng = random.Random(5)
    vals = [rng.randint(1, 300) for _ in range(200)]
    got = {(r["bucket"], r["batch_id"]):
           (r["n_docs"], r["min_len"], r["max_len"], r["sum_len"],
            r["pad_waste"])
           for r in length_bucket_batches(
               _len_df(spark, vals), bucket_width=64, batch_size=8,
               n_col="n_chars").collect()}
    buckets = {}
    for i, v in enumerate(vals):
        buckets.setdefault(v // 64, []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i, v))
    want = {}
    for b, docs in buckets.items():
        docs.sort()
        for rn, (_, _, v) in enumerate(docs, start=1):
            key = (b, (rn - 1) // 8)
            n, lo, hi, s = want.get(key, (0, 10 ** 9, -1, 0))
            want[key] = (n + 1, min(lo, v), max(hi, v), s + v)
    want = {k: (n, lo, hi, s, n * hi - s)
            for k, (n, lo, hi, s) in want.items()}
    assert got == want


def test_length_batches_only_last_batch_short(spark):
    from console_log_parser_spark.operators.packing import (
        length_bucket_batches)
    out = length_bucket_batches(_len_df(spark, [10] * 70),
                                bucket_width=64, batch_size=32,
                                n_col="n_chars").collect()
    sizes = sorted(r["n_docs"] for r in out)
    assert sizes == [6, 32, 32]
    assert all(r["pad_waste"] == 0 for r in out)  # equal lengths


def test_length_batches_no_unpartitioned_window(spark):
    from console_log_parser_spark.operators.packing import (
        length_bucket_batches)
    with _width(spark, 4):
        out = length_bucket_batches(_len_df(spark, [10] * 50),
                                    bucket_width=8, batch_size=4,
                                    n_col="n_chars")
        assert not _has_unpartitioned_window(out)


def test_grouped_rank_null_group_spanning_partitions(spark):
    # Window.partitionBy treats NULL as one group; the offset joins
    # must be null-safe or the NULL group's ranks restart in every
    # range partition it spans (found in the round-4 self-review)
    from console_log_parser_spark.operators.packing import grouped_rank
    rows = [(i, None if i % 2 == 0 else "g") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, grp string")
    out = grouped_rank(df, "grp", ["k"], "rnk")
    for pred, n in (("grp IS NULL", 100), ("grp = 'g'", 100)):
        ranks = sorted(r["rnk"] for r in out.filter(pred).collect())
        assert ranks == list(range(1, n + 1)), pred
    # and rank order follows k within each group
    null_rows = {r["k"]: r["rnk"]
                 for r in out.filter("grp IS NULL").collect()}
    ks = sorted(null_rows)
    assert [null_rows[k] for k in ks] == list(range(1, 101))
