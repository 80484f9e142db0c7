"""Corpus-frequency boilerplate detection (operators/boilerplate.py)."""
from __future__ import annotations

from collections import Counter

from console_log_parser_spark.operators.boilerplate import (
    boilerplate_grams, boilerplate_stats, doc_gram_hashes)


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


def _bruteforce(rows, n, min_docs):
    """Independent pure-Python computation of the per-doc stats."""
    per_doc = []
    for t in rows:
        w = t.split(" ")
        per_doc.append(Counter(
            " ".join(w[i:i + n]) for i in range(len(w) - n + 1)))
    freq = Counter()
    for c in per_doc:
        freq.update(c.keys())
    boiler = {g for g, k in freq.items() if k >= min_docs}
    out = {}
    for i, c in enumerate(per_doc):
        if not c:
            continue  # < n words: absent from the result
        tot = sum(c.values())
        bo = sum(v for g, v in c.items() if g in boiler)
        bg = sum(1 for g in c if g in boiler)
        out[i] = (tot, len(c), bo, bg, 10000 * bo // tot)
    return out


def test_known_tiny_case(spark):
    rows = [
        "a b c d e f",        # grams: "a b c d e", "b c d e f"
        "a b c d e x",        # shares "a b c d e" with doc 0
        "p q r s t u v",      # no shared gram
        "too short",          # < 5 words -> absent
    ]
    got = {r["doc_id"]: r for r in
           boilerplate_stats(_frame(spark, rows), min_docs=2)
           .collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0]["n_gram_occ"], got[0]["n_boiler_occ"],
            got[0]["n_boiler_grams"], got[0]["boiler_bp"]) == (2, 1, 1, 5000)
    assert (got[1]["n_boiler_occ"], got[1]["boiler_bp"]) == (1, 5000)
    assert (got[2]["n_boiler_occ"], got[2]["n_boiler_grams"],
            got[2]["boiler_bp"]) == (0, 0, 0)


def test_repeated_gram_counts_every_occurrence(spark):
    # "x y z w v" occurs twice in doc 0 and once in doc 1 -> boiler;
    # occurrence counting must include the within-doc repeat
    rows = ["x y z w v x y z w v", "x y z w v q"]
    got = {r["doc_id"]: r for r in
           boilerplate_stats(_frame(spark, rows), min_docs=2)
           .collect()}
    c0 = Counter(" ".join(rows[0].split()[i:i + 5]) for i in range(6))
    assert got[0]["n_gram_occ"] == 6
    assert got[0]["n_boiler_occ"] == c0["x y z w v"] == 2
    assert got[0]["n_boiler_grams"] == 1
    assert got[1]["n_boiler_occ"] == 1


def test_matches_bruteforce(spark):
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [" ".join(vocab[(i * 7 + j * 3) % 5] for j in range(6 + i % 9))
            for i in range(60)]
    want = _bruteforce(rows, 5, 3)
    got = {r["doc_id"]: (r["n_gram_occ"], r["n_distinct_grams"],
                         r["n_boiler_occ"], r["n_boiler_grams"],
                         r["boiler_bp"])
           for r in boilerplate_stats(_frame(spark, rows),
                                      min_docs=3).collect()}
    assert got == want


def test_frequency_is_distinct_documents(spark):
    # a gram repeated 10x inside ONE doc must not cross min_docs=2
    rows = ["r s t u v " * 10, "unrelated words only here now"]
    pdg = doc_gram_hashes(_frame(spark, rows))
    assert boilerplate_grams(pdg, 2).count() == 0


def test_plan_hashes_before_exchange_and_no_python(spark):
    df = _frame(spark, ["a b c d e f g"] * 3)
    plan = (doc_gram_hashes(df)
            ._jdf.queryExecution().executedPlan().toString())
    # the gram string is md5'd map-side; the exchange keys are
    # (doc_id, gh) — raw grams never cross an exchange
    assert "md5" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "BatchEvalPython" not in plan
    full = (boilerplate_stats(df, min_docs=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in full
