"""Tokenizer-vocabulary induction (operators/vocab.py)."""
from __future__ import annotations

from collections import Counter

from console_log_parser_spark.operators.vocab import (
    US, bpe_learn, bpe_pair_counts, symbol_words, vocab_oov_stats)

SF = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, f"s{i % 2}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string")


def test_pair_counts_match_brute_force(spark):
    texts = ["the cat sat on the mat", "a banana and an ananas", "zz z"]
    want = Counter()
    for t in texts:
        for w in t.split(" "):
            for i in range(len(w) - 1):
                want[w[i:i + 2]] += 1
    got = {r["pair"]: r["cnt"]
           for r in bpe_pair_counts(_docs(spark, texts),
                                    top_k=100).collect()}
    assert got == dict(want)


def test_pair_rank_tiebreak_is_pair_ascending(spark):
    rows = bpe_pair_counts(_docs(spark, ["ab cd ab cd"]),
                           top_k=10).collect()
    assert [(r["rank"], r["pair"], r["cnt"]) for r in rows] == [
        (1, "ab", 2), (2, "cd", 2)]


def test_bpe_merge_is_greedy_nonoverlapping(spark):
    # "aaaa" + merge (a,a) -> [aa, aa]; "aaa" -> [aa, a] so a second
    # (a,a) count exists only where two singles remain adjacent.
    m = bpe_learn(_docs(spark, ["aaa aaa"]), n_merges=2).collect()
    assert [(r["step"], r["left"], r["right"], r["merged"], r["cnt"])
            for r in m] == [(1, "a", "a", "aa", 4), (2, "aa", "a", "aaa", 2)]


def test_bpe_learn_uses_merged_symbols(spark):
    # after merging the dominant pair, later merges must see the new
    # symbol — "ababab" repeated: (a,b) first, then (ab,ab).
    m = bpe_learn(_docs(spark, ["ababab ababab ababab"]),
                  n_merges=2).collect()
    assert (m[0]["left"], m[0]["right"], m[0]["merged"]) == ("a", "b", "ab")
    assert (m[1]["left"], m[1]["right"], m[1]["merged"]) == ("ab", "ab",
                                                             "abab")


def test_bpe_learn_stops_when_no_pairs_remain(spark):
    m = bpe_learn(_docs(spark, ["ab ab"]), n_merges=5).collect()
    # "ab" -> one merge leaves single-symbol words; loop must stop.
    assert len(m) == 1 and m[0]["merged"] == "ab"


def test_symbol_words_weights_are_word_counts(spark):
    rows = {r["s"]: r["wc"] for r in
            symbol_words(_docs(spark, ["ab ab cd", "ab"])).collect()}
    # wrapped representation: US c1 USUS c2 US (module docstring)
    assert rows == {f"{US}a{US}{US}b{US}": 3, f"{US}c{US}{US}d{US}": 1}


def test_bpe_merge_requires_whole_symbols(spark):
    """Regression (r5 ADVICE): a merge (a,b) must NOT fire where 'a'
    is merely the suffix of a longer symbol. After step 1 merges
    (x,a), the word 'xab' is [xa, b]; step 2's (a,b) must leave it
    alone, so step 3 can still find the (xa, b) pair."""
    m = bpe_learn(_docs(spark, ["xa xa xa xa ab ab ab xab"]),
                  n_merges=3).collect()
    assert [(r["step"], r["left"], r["right"], r["cnt"]) for r in m] == [
        (1, "x", "a", 5), (2, "a", "b", 3), (3, "xa", "b", 1)]


def test_oov_stats_hand_case(spark):
    # vocab_k=1 -> vocab == the single most frequent word ("x").
    df = _docs(spark, ["x x y", "x z"])
    rows = {r["source"]: (r["n_tokens"], r["n_oov"], r["oov_bp"])
            for r in vocab_oov_stats(df, vocab_k=1).collect()}
    assert rows == {"s0": (3, 1, 3333), "s1": (2, 1, 5000)}


def test_vocab_join_is_broadcast_no_python_udf(spark):
    df = _docs(spark, ["a b c d e f", "a a b"])
    plan = (vocab_oov_stats(df, vocab_k=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    pairs_plan = (bpe_pair_counts(df, top_k=5)
                  ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in pairs_plan


def _merge_syms(syms, left, right):
    """Classic greedy left-to-right non-overlapping whole-symbol BPE
    merge on a symbol list — the ground truth the string-replace
    encoding must reproduce."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _brute_encode(texts, merges):
    """Symbol-LIST BPE application (true whole-symbol semantics — a
    merge whose left side is a suffix of a longer symbol must NOT
    fire; r5 ADVICE fix, now shared by engine and oracle via the
    wrapped-separator representation)."""
    out = {}
    for did, text in texts:
        words = [w for w in text.split(" ") if w]
        n_tok = n_chars = 0
        for w in words:
            syms = list(w)
            for left, right in merges:
                syms = _merge_syms(syms, left, right)
            n_tok += len(syms)
            n_chars += len(w)
        if words:
            out[did] = (len(words), n_tok, n_chars - n_tok)
    return out


def test_bpe_encode_matches_string_replace_brute(spark):
    from console_log_parser_spark.operators.vocab import (
        bpe_encode_stats, bpe_learn)
    texts = [("1", "banana bandana"), ("2", "ban ban an"),
             ("3", "x"), ("4", "")]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    merges = [(r["left"], r["right"])
              for r in bpe_learn(df, n_merges=4).collect()]
    assert len(merges) == 4
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_saved"])
           for r in bpe_encode_stats(df, merges).collect()}
    assert got == _brute_encode(texts, merges)


def test_bpe_encode_whole_symbol_guard(spark):
    """'xab' + merges [(x,a), (a,b)]: after (x,a) the word is [xa, b];
    (a,b) must not fire across the symbol boundary (old flawed replace
    produced the single token 'xab')."""
    from console_log_parser_spark.operators.vocab import bpe_encode_stats
    df = spark.createDataFrame([("1", "xab")],
                               "doc_id string, text string")
    r = bpe_encode_stats(df, [("x", "a"), ("a", "b")]).collect()[0]
    assert (r["n_words"], r["n_tokens"], r["n_saved"]) == (1, 2, 1)


def test_bpe_encode_no_merges_is_char_count(spark):
    from console_log_parser_spark.operators.vocab import bpe_encode_stats
    df = spark.createDataFrame([("1", "ab cde")],
                               "doc_id string, text string")
    r = bpe_encode_stats(df, []).collect()[0]
    assert (r["n_words"], r["n_tokens"], r["n_saved"]) == (2, 5, 0)


def test_bpe_encode_plan_is_map_plus_one_agg(spark):
    from console_log_parser_spark.operators.vocab import bpe_encode_stats
    df = spark.createDataFrame([("1", "ab ab")],
                               "doc_id string, text string")
    plan = (bpe_encode_stats(df, [("a", "b")])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan  # literal merges fold into the plan


def _growth_ref(texts, cps):
    # only REAL tokens occupy stream slots (r5 ADVICE fix: empty
    # strings from doubled/leading spaces or empty docs no longer
    # consume a checkpoint offset)
    first, g = {}, 0
    for _, txt in sorted(texts):
        for w in txt.split(" "):
            if w == "":
                continue
            if w not in first:
                first[w] = g
            g += 1
    return [(c, min(c, g), sum(1 for v in first.values() if v < c))
            for c in cps]


def test_vocab_growth_matches_reference(spark):
    from console_log_parser_spark.operators.vocab import vocab_growth
    texts = [(0, "a b c a"), (1, "b d"), (2, ""), (3, "e a f f g")]
    cps = (1, 2, 4, 6, 8, 16)
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = [(r["checkpoint"], r["tokens_seen"], r["vocab_size"])
           for r in vocab_growth(df, checkpoints=cps).collect()]
    # note doc 2: split('') == [''] is filtered out — it occupies NO
    # stream slot (r5 fix) — pinned by the reference too
    assert got == _growth_ref(texts, cps)


def test_vocab_growth_corpus(spark):
    from console_log_parser_spark.operators.vocab import vocab_growth
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    texts = [(r["doc_id"], r["text"]) for r in docs.collect()]
    cps = (4, 16, 64, 256, 4096)
    got = [(r["checkpoint"], r["tokens_seen"], r["vocab_size"])
           for r in vocab_growth(docs, checkpoints=cps).collect()]
    assert got == _growth_ref(texts, cps)


def test_word_freq_spectrum_matches_reference(spark):
    from console_log_parser_spark.operators.vocab import (
        word_freq_spectrum)
    texts = [(0, "a b c a"), (1, "b d a"), (2, ""), (3, "e a f f")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = [(r["freq"], r["n_words"])
           for r in word_freq_spectrum(df).collect()]
    # a:4 b:2 f:2 c:1 d:1 e:1 -> freq 1 x3, freq 2 x2, freq 4 x1
    assert got == [(1, 3), (2, 2), (4, 1)]
    # identity: sum(freq * n_words) == total non-empty tokens
    total = sum(len([w for w in t.split(" ") if w]) for _, t in texts)
    assert sum(f * n for f, n in got) == total


def test_vocab_growth_degenerate_all_empty_corpus(spark):
    # every text empty: since the r5 ADVICE fix, '' split slots are
    # filtered BEFORE sizing, so the stream holds zero real tokens —
    # tokens_seen and vocab_size both read 0 at every checkpoint
    # (engine coalesces the over-zero-rows sums; oracle uses
    # scalar-subquery COUNTs over the same filtered list)
    from console_log_parser_spark.operators.vocab import vocab_growth
    df = spark.createDataFrame([(0, ""), (1, "")],
                               "doc_id long, text string")
    got = [(r["checkpoint"], r["tokens_seen"], r["vocab_size"])
           for r in vocab_growth(df, checkpoints=(1, 4)).collect()]
    assert got == [(1, 0, 0), (4, 0, 0)]
