"""Bloom-filter decontamination (operators/bloom.py) and DSIR
importance scoring (operators/dsir.py) against independent pure-Python
reference implementations of the same md5/bit arithmetic."""
from __future__ import annotations

import hashlib

import pytest


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _md5pos(gram: str, offset: int, m: int) -> int:
    h = hashlib.md5(gram.encode()).hexdigest()
    return int(h[offset - 1:offset - 1 + 15], 16) % m


def _grams(text: str, n: int) -> list[str]:
    w = text.split(" ")
    return [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]


def _py_bloom(docs, bench_texts, n, m):
    filt = set()
    bench = set()
    for t in bench_texts:
        for g in set(_grams(t, n)):
            bench.add(g)
            filt.add(_md5pos(g, 1, m))
            filt.add(_md5pos(g, 16, m))
    out = {}
    for i, t in docs:
        gs = _grams(t, n)
        if not gs:
            continue
        bl = sum(1 for g in gs
                 if _md5pos(g, 1, m) in filt and _md5pos(g, 16, m) in filt)
        ex = sum(1 for g in gs if g in bench)
        out[i] = (len(gs), bl, ex, bl - ex)
    return out


@pytest.mark.parametrize("m_bits", [4096, 64])
def test_bloom_matches_pure_python(spark, m_bits):
    # m=64 forces false positives (64 bits, ~10 grams x 2 hashes), so
    # both the exact-superset invariant AND the FP arithmetic get
    # exercised; m=4096 is the driver-query setting
    from console_log_parser_spark.operators.bloom import (
        bloom_contamination)
    texts = ["the quick brown fox jumps", "over the lazy dog today",
             "the quick brown cat naps", "completely different words here",
             "xy", "fox jumps over the lazy"]
    df = _docs(spark, texts)
    bench = df.filter("doc_id % 3 = 0")
    corpus = df.filter("doc_id % 3 <> 0")
    got = {r["doc_id"]: (r["n_grams"], r["n_bloom"], r["n_exact"],
                         r["n_false_pos"])
           for r in bloom_contamination(corpus, bench,
                                        m_bits=m_bits).collect()}
    want = _py_bloom([(i, t) for i, t in enumerate(texts) if i % 3 != 0],
                     [t for i, t in enumerate(texts) if i % 3 == 0],
                     3, m_bits)
    assert got == want
    # Bloom has no false negatives: bloom >= exact everywhere
    assert all(v[1] >= v[2] for v in got.values())


def test_bloom_filter_word_layout(spark):
    # the packed (word_idx, bits) frame reconstructs exactly the
    # reference bit set
    from console_log_parser_spark.operators.bloom import bloom_build
    texts = ["alpha beta gamma delta epsilon"]
    df = _docs(spark, texts)
    rows = {r["word_idx"]: r["bits"]
            for r in bloom_build(df, m_bits=4096).collect()}
    want_bits = set()
    for g in set(_grams(texts[0], 3)):
        want_bits.add(_md5pos(g, 1, 4096))
        want_bits.add(_md5pos(g, 16, 4096))
    got_bits = {w * 32 + b for w, bits in rows.items()
                for b in range(32) if (bits >> b) & 1}
    assert got_bits == want_bits


def _py_dsir(raw, target, B):
    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % B

    def words(t):
        return [w for w in t.split(" ") if w]

    t_cnt, r_cnt = {}, {}
    for _, t in target:
        for w in words(t):
            t_cnt[bucket(w)] = t_cnt.get(bucket(w), 0) + 1
    for _, t in raw:
        for w in words(t):
            r_cnt[bucket(w)] = r_cnt.get(bucket(w), 0) + 1
    out = {}
    for i, t in raw:
        ws = words(t)
        if not ws:
            continue
        s = sum((t_cnt.get(bucket(w), 0) + 1).bit_length() - 1
                - (r_cnt[bucket(w)] + 1).bit_length() + 1
                for w in ws)
        out[i] = (len(ws), s)
    return out


def test_dsir_matches_pure_python(spark):
    from console_log_parser_spark.operators.dsir import dsir_scores
    texts = ["alpha beta alpha", "gamma delta", "alpha alpha alpha",
             "beta gamma  beta", "zeta eta theta", ""]
    df = _docs(spark, texts)
    target = df.filter("doc_id % 3 = 0")
    raw = df.filter("doc_id % 3 <> 0")
    got = {r["doc_id"]: (r["n_words"], r["dsir_score"])
           for r in dsir_scores(raw, target, n_buckets=16).collect()}
    want = _py_dsir(
        [(i, t) for i, t in enumerate(texts) if i % 3 != 0],
        [(i, t) for i, t in enumerate(texts) if i % 3 == 0], 16)
    assert got == want


def test_dsir_target_words_score_higher(spark):
    # a doc made of target-side words must outscore one of raw-only
    # words (the selection property DSIR exists for)
    from console_log_parser_spark.operators.dsir import dsir_scores
    target = _docs(spark, ["math proof theorem lemma"] * 3)
    raw = _docs(spark, ["math proof theorem lemma",
                        "pizza recipe cheese dough"])
    got = {r["doc_id"]: r["dsir_score"]
           for r in dsir_scores(raw, target, n_buckets=64).collect()}
    assert got[0] > got[1]
