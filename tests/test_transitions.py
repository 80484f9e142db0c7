"""Event-transition matrix (operators/transitions.py) vs a pure-Python
reference on hand-built streams and the sf0.001 events table."""
from collections import Counter, defaultdict
from datetime import datetime

from console_log_parser_spark.operators.transitions import (
    transition_counts)

SF = "/root/testdata/sf0.001"


def _ref(rows):
    """rows: (event_id, ts, user_id, event_type)."""
    per_user = defaultdict(list)
    for eid, ts, uid, et in rows:
        per_user[uid].append((ts, eid, et))
    trans = Counter()
    users = defaultdict(set)
    for uid, evs in per_user.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
            users[(a, b)].add(uid)
    return {k: (v, len(users[k])) for k, v in trans.items()}


def test_hand_built_stream(spark):
    t0 = datetime(2026, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: b -> b ; user 3: single event
        (1, t0, 1, "a"), (2, t0.replace(hour=1), 1, "b"),
        (3, t0.replace(hour=2), 1, "a"),
        (4, t0, 2, "b"), (5, t0.replace(hour=3), 2, "b"),
        (6, t0, 3, "c"),
        # same-ts tie within user 4: event_id breaks it
        (7, t0, 4, "x"), (8, t0, 4, "y"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string")
    got = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["n_users"])
           for r in transition_counts(df).collect()}
    assert got == _ref(rows)
    assert got[("x", "y")] == (1, 1)  # the tie-break case


def test_corpus_events(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    rows = [(r["event_id"], r["ts"], r["user_id"], r["event_type"])
            for r in ev.collect()]
    got = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["n_users"])
           for r in transition_counts(ev).collect()}
    assert got == _ref(rows)
    # transition key space is |types|^2-bounded
    types = {et for _, _, _, et in rows}
    assert len(got) <= len(types) ** 2


def test_user_trigrams_match_reference(spark):
    from console_log_parser_spark.operators.transitions import (
        user_trigrams)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    rows = [(r["event_id"], r["ts"], r["user_id"], r["event_type"])
            for r in ev.collect()]
    per_user = defaultdict(list)
    for eid, ts, uid, et in rows:
        per_user[uid].append((ts, eid, et))
    tri = Counter()
    for evs in per_user.values():
        evs.sort()
        ets = [e[2] for e in evs]
        for i in range(len(ets) - 2):
            tri[tuple(ets[i:i + 3])] += 1
    want = sorted(tri.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [((r["t1"], r["t2"], r["t3"]), r["n"])
           for r in user_trigrams(ev).collect()]
    assert got == want
