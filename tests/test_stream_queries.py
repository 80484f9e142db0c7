"""The five ``stream_*`` driver queries, end to end: each stages the
events table as a file stream, drains it through its streaming operator
and must equal its ``oracle_sql()`` in DuckDB — same columns, same row
count, same order-insensitive value hash as tools/check_correctness.py.
No staging directory may outlive the call."""
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as em
from tools.check_correctness import table_hash

SF = "/root/testdata/sf0.001"
STREAM_QUERIES = ["stream_sessionize", "stream_funnel",
                  "stream_transitions", "stream_dedup_exact",
                  "stream_heavy_hitters"]


@pytest.fixture(scope="module")
def con():
    if not os.path.isdir(SF):
        pytest.skip("driver testdata not present")
    c = duckdb.connect()
    c.execute(f"CREATE VIEW events AS SELECT * FROM "
              f"parquet_scan('{SF}/events.parquet')")
    return c


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_matches_oracle(spark, con, name, tmp_path,
                                     monkeypatch):
    # stage into a directory of this test's own, so a leftover is ours
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sdf = em.queries()[name](spark, SF)
    scols = sdf.columns
    srows = sdf.collect()
    assert not [p for p in os.listdir(tmp_path) if p.startswith("stream_")]

    d = con.sql(em.oracle_sql()[name])
    dcols = [c[0] for c in d.description]
    drows = d.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert (table_hash(scols, [[r[c] for c in scols] for r in srows])
            == table_hash(dcols, drows))
