"""Winnowing sketch (operators/winnow.py) vs an independent
pure-Python reference implementation of the Schleimer et al. algorithm
(explicit window walk, tie -> rightmost), on the driver documents
table (sf0.001) plus hand-built boundary docs."""
import hashlib

from console_log_parser_spark.operators.winnow import (POS_MOD,
                                                       winnow_sketch_stats)

SF = "/root/testdata/sf0.001"


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _ref_winnow(text: str, k: int = 3, w: int = 4):
    """Reference: per-window explicit scan, min hash, ties broken to
    the RIGHTMOST position — no packed-key trick, so agreement with
    the operator's packed arithmetic is a real cross-check."""
    ws = text.split(" ")
    hs = [_h48(" ".join(ws[i:i + k])) for i in range(len(ws) - k + 1)] \
        if len(ws) >= k else []
    if not hs:
        return {"n_words": len(ws), "n_grams": 0, "sketch": set()}
    sketch = set()
    n_win = max(len(hs) - w + 1, 1)
    for s in range(n_win):
        window = hs[s:s + w]
        m = min(window)
        # rightmost occurrence of the min within the window
        _pos = s + max(i for i, h in enumerate(window) if h == m)
        sketch.add(m)
    return {"n_words": len(ws), "n_grams": len(hs), "sketch": sketch}


def _rows_for(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    return {r["doc_id"]: r.asDict()
            for r in winnow_sketch_stats(df).collect()}


def test_boundary_docs_match_reference(spark):
    texts = [
        "",                                   # split -> [''], no gram
        "one two",                            # < k words
        "a b c",                              # exactly one gram
        "a b c d",                            # 2 grams, stream < w
        "a b c d e f",                        # 4 grams = one window
        "a a a a a a a a",                    # all-identical grams
        "x y z x y z x y z x y z",            # periodic
    ]
    got = _rows_for(spark, texts)
    for i, t in enumerate(texts):
        ref = _ref_winnow(t)
        row = got[i]
        assert row["n_words"] == ref["n_words"], (i, t)
        assert row["n_grams"] == ref["n_grams"], (i, t)
        assert row["sketch_size"] == len(ref["sketch"]), (i, t)
        if ref["sketch"]:
            assert row["min_fp"] == min(ref["sketch"]), (i, t)
            assert row["max_fp"] == max(ref["sketch"]), (i, t)
        else:
            assert row["min_fp"] is None and row["max_fp"] is None


def test_corpus_docs_match_reference(spark):
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").limit(40))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r.asDict()
           for r in winnow_sketch_stats(docs).collect()}
    assert len(got) == len(texts)
    for did, t in texts.items():
        ref = _ref_winnow(t)
        assert got[did]["n_grams"] == ref["n_grams"]
        assert got[did]["sketch_size"] == len(ref["sketch"])
        if ref["sketch"]:
            assert got[did]["min_fp"] == min(ref["sketch"])
            assert got[did]["max_fp"] == max(ref["sketch"])


def test_guarantee_shared_run_shares_fingerprint(spark):
    # the winnowing guarantee: two docs sharing a run of
    # >= w + k - 1 = 6 words share at least one fingerprint
    shared = "alpha beta gamma delta epsilon zeta"
    texts = [f"p q r {shared} s t u", f"m n {shared} o"]
    a, b = (_ref_winnow(t)["sketch"] for t in texts)
    assert a & b, "winnowing guarantee violated in reference"
    # and the operator agrees with the reference sketch on both docs
    got = _rows_for(spark, texts)
    for i, t in enumerate(texts):
        ref = _ref_winnow(t)
        assert got[i]["sketch_size"] == len(ref["sketch"])
        assert got[i]["min_fp"] == min(ref["sketch"])
        assert got[i]["max_fp"] == max(ref["sketch"])


def test_packed_key_headroom():
    # packed key must stay under 2^63: 48-bit hash * 2^13 + 13 bits
    assert ((1 << 48) - 1) * POS_MOD + (POS_MOD - 1) < (1 << 62)


def _ref_pairs(texts, max_df=8, min_shared=2):
    sketches = {i: _ref_winnow(t)["sketch"] for i, t in enumerate(texts)}
    from collections import Counter
    df = Counter(fp for s in sketches.values() for fp in s)
    kept = {i: {fp for fp in s if 2 <= df[fp] <= max_df}
            for i, s in sketches.items()}
    pairs = {}
    ids = sorted(kept)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            n = len(kept[ids[x]] & kept[ids[y]])
            if n >= min_shared:
                pairs[(ids[x], ids[y])] = n
    return pairs


def test_candidate_pairs_match_reference(spark):
    from console_log_parser_spark.operators.winnow import (
        winnow_candidate_pairs)
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    texts = [
        f"p q r {shared} s t u",
        f"m n {shared} o",
        "completely different words here entirely novel tokens",
        f"v w {shared} x y z",
        "p q r s t u v w x y z p q r s t u",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in winnow_candidate_pairs(df).collect()}
    assert got == _ref_pairs(texts)
    # the three shared-run docs must all pair up
    assert (0, 1) in got and (0, 3) in got and (1, 3) in got


def test_candidate_pairs_corpus_sample(spark):
    from console_log_parser_spark.operators.winnow import (
        winnow_candidate_pairs)
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").limit(60))
    texts = [r["text"] for r in docs.orderBy("doc_id").collect()]
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in winnow_candidate_pairs(docs).collect()}
    # reference uses positional ids; corpus doc_ids are 0..59 ordered
    assert got == _ref_pairs(texts)


def test_long_doc_past_position_cap_matches_reference(spark):
    # 9,500 words: positions run well past the 8191 packed-position
    # cap. The clamp must leave the fingerprint SET exact (position
    # bits only resolve equal-hash ties, invisible in the set) — a
    # cyclic vocabulary makes equal-hash grams common on both sides
    # of the cap, and a unique tail adds never-tied grams.
    words = [f"w{i % 50}" for i in range(9000)] + \
            [f"u{i}" for i in range(500)]
    text = " ".join(words)
    got = _rows_for(spark, [text])[0]
    ref = _ref_winnow(text)
    assert got["n_grams"] == ref["n_grams"] == 9498
    assert got["sketch_size"] == len(ref["sketch"])
    assert got["min_fp"] == min(ref["sketch"])
    assert got["max_fp"] == max(ref["sketch"])
