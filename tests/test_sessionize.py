"""Session gaps are compared in integer microseconds, in Spark and in the
DuckDB oracle alike: a gap of 1800.5 s starts a new session, a gap of
exactly 1800.0 s does not."""
import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as em

T0 = dt.datetime(2024, 1, 1)
# user 1: 00:00:00.2 -> 00:30:00.7 (1800.5 s, 2 sessions);
# user 2: 01:00:00.0 -> 01:30:00.0 (1800.0 s, 1 session)
EVENTS = [
    (1, T0 + dt.timedelta(milliseconds=200), 1),
    (2, T0 + dt.timedelta(minutes=30, milliseconds=700), 1),
    (3, T0 + dt.timedelta(hours=1), 2),
    (4, T0 + dt.timedelta(hours=1, minutes=30), 2),
]
WANT = {(1, 2, 2), (2, 1, 2)}  # (user_id, n_sessions, n_events)


def _write_events(d):
    ids, ts, users = zip(*EVENTS)
    pq.write_table(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(["view"] * len(EVENTS)),
        "value": pa.array([1.0] * len(EVENTS)),
        "props": pa.array(["{}"] * len(EVENTS)),
    }), str(d / "events.parquet"))


def _oracle(d, name):
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"parquet_scan('{d}/events.parquet')")
    return set(con.sql(em.oracle_sql()[name]).fetchall())


def test_subsecond_gap_spark_and_oracle(spark, tmp_path):
    _write_events(tmp_path)
    got = em.events_sessionize(spark, str(tmp_path)).collect()
    assert {(r["user_id"], r["n_sessions"], r["n_events"])
            for r in got} == WANT
    assert _oracle(tmp_path, "events_sessionize") == WANT
    assert _oracle(tmp_path, "stream_sessionize") == WANT
