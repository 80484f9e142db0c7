"""SemDeDup (operators/semdedup.py) and product quantization
(operators/pq.py) against pure-Python references."""
from __future__ import annotations

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    import os
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata not present")
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _q(vecs):
    # round() in Spark/DuckDB is half-AWAY-FROM-ZERO; floor(x+0.5) is
    # half-up and diverges on negative exact halves (r5 review
    # finding; same trap documented for test_cluster's reference)
    def r(x):
        return int(np.floor(abs(float(x)) * 1000 + 0.5)) * \
            (1 if x >= 0 else -1)
    return [[r(x) for x in v] for v in vecs]


# ---------------------------------------------------------------- semdedup

def test_semdedup_pair_logic_matches_bruteforce(spark):
    # 3 groups of near-identical directions + vec_id 0/1 as seeds;
    # k=2 cells, then verify dup/pair counts against brute force over
    # the operator's OWN membership (kmeans_assign is pinned by
    # tests/test_cluster.py; here the pair/dup logic is under test)
    from console_log_parser_spark.operators.semdedup import (
        semdedup_members, semdedup_stats)
    rng = np.random.RandomState(7)
    base_a = rng.rand(8) * 2 - 1
    base_b = rng.rand(8) * 2 - 1
    rows = []
    for i in range(12):
        base = base_a if i % 2 == 0 else base_b
        v = base + (rng.rand(8) - 0.5) * (0.02 if i >= 4 else 0.8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    members = semdedup_members(df, k=2, dim=8).collect()
    got = {r["cluster_id"]: (r["n_vecs"], r["n_sim_pairs"], r["n_dups"],
                             r["n_kept"])
          for r in semdedup_stats(df, k=2, dim=8).collect()}
    by_cluster: dict = {}
    for r in members:
        by_cluster.setdefault(r["cluster_id"], []).append(
            (r["vec_id"], list(r["q"]), r["n2"]))
    want = {}
    for cid, ms in by_cluster.items():
        ms.sort()
        pairs = dups = 0
        dup_ids = set()
        for ai in range(len(ms)):
            for bi in range(ai + 1, len(ms)):
                va, qa, na = ms[ai]
                vb, qb, nb = ms[bi]
                dot = sum(x * y for x, y in zip(qa, qb))
                if dot > 0 and dot * dot * 100 >= 81 * na * nb:
                    pairs += 1
                    dup_ids.add(vb)
        want[cid] = (len(ms), pairs, len(dup_ids),
                     len(ms) - len(dup_ids))
    assert got == want
    # the near-identical tail (ids >= 4) guarantees real dups exist
    assert sum(v[2] for v in got.values()) > 0


def test_semdedup_no_cross_cluster_pairs(spark, emb):
    # every similar pair's members share a cell by construction: the
    # pair frame joins on cluster_id, so a cross-cell near-dup is
    # invisible — that is SemDeDup's documented trade, pinned here
    from console_log_parser_spark.operators.semdedup import (
        semdedup_members, semdedup_stats)
    stats = semdedup_stats(emb, k=10).collect()
    members = semdedup_members(emb, k=10).collect()
    sizes = {r["cluster_id"]: 0 for r in members}
    for r in members:
        sizes[r["cluster_id"]] += 1
    for row in stats:
        c = row["cluster_id"]
        assert row["n_vecs"] == sizes[c]
        assert row["n_sim_pairs"] <= sizes[c] * (sizes[c] - 1) // 2
        assert 0 <= row["n_dups"] < max(1, row["n_vecs"] + 1)
        assert row["n_kept"] == row["n_vecs"] - row["n_dups"]


# ---------------------------------------------------------------- pq

def test_pq_codes_match_pure_python(spark, emb):
    from console_log_parser_spark.operators.pq import pq_codes
    rows = sorted((r["vec_id"], r["embedding"])
                  for r in emb.collect())
    q = dict(zip([v for v, _ in rows], _q([e for _, e in rows])))
    books = [[q[c][j * 16:(j + 1) * 16] for c in range(16)]
             for j in range(4)]
    got = {r["vec_id"]: [r["c0"], r["c1"], r["c2"], r["c3"]]
           for r in pq_codes(emb).collect()}
    for vid, qv in q.items():
        want = []
        for j in range(4):
            sub = qv[j * 16:(j + 1) * 16]
            dists = [(sum((a - b) * (a - b) for a, b in zip(sub, cb)), c)
                     for c, cb in enumerate(books[j])]
            want.append(min(dists)[1])
        assert got[vid] == want, vid


def test_ann_pq_query_is_own_nearest(spark, emb):
    from console_log_parser_spark.operators.pq import ann_pq_topk
    out = ann_pq_topk(emb).collect()
    assert len(out) == 10
    assert out[0]["vec_id"] == 0 and out[0]["exact_dist"] == 0
    # exact_dist ascending with vec_id tiebreak, all non-negative
    key = [(r["exact_dist"], r["vec_id"]) for r in out]
    assert key == sorted(key)
    assert all(r["adc_dist"] >= 0 for r in out)


def test_ann_pq_shortlist_recall_vs_bruteforce(spark, emb):
    # with shortlist >= corpus the ADC stage keeps everyone, so the
    # exact re-rank must reproduce the true integer-L2 top-10 exactly
    from console_log_parser_spark.operators.pq import ann_pq_topk
    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    q = dict(zip([v for v, _ in rows], _q([e for _, e in rows])))
    qv = q[0]
    true = sorted((sum((a - b) * (a - b) for a, b in zip(v, qv)), vid)
                  for vid, v in q.items())[:10]
    got = ann_pq_topk(emb, shortlist=len(rows)).collect()
    assert [(r["exact_dist"], r["vec_id"]) for r in got] == true

def test_ann_ivfpq_candidates_restrict_and_rerank_exact(spark, emb):
    # the composition searches ONLY the probed cells' members (query
    # excluded), and with shortlist >= |candidates| the exact re-rank
    # is the true integer-L2 top-10 WITHIN the candidate set
    from console_log_parser_spark.operators.pq import ann_pq_topk
    from console_log_parser_spark.operators.similarity import (
        ann_ivf_candidates)
    cand_ids = {r["vec_id"]
                for r in ann_ivf_candidates(emb, 0).collect()}
    assert cand_ids and 0 not in cand_ids
    got = ann_pq_topk(emb, shortlist=len(cand_ids) + 1,
                      candidates=ann_ivf_candidates(emb, 0)).collect()
    ids = [r["vec_id"] for r in got]
    assert set(ids) <= cand_ids
    rows = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    q = dict(zip([v for v, _ in rows], _q([e for _, e in rows])))
    qv = q[0]
    true = sorted((sum((a - b) * (a - b) for a, b in zip(v, qv)), vid)
                  for vid, v in q.items() if vid in cand_ids)[:10]
    assert [(r["exact_dist"], r["vec_id"]) for r in got] == true
