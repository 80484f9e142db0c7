"""The correctness gate: every ``__spark_entry__.queries()`` entry, run
at sf0.01, must equal its ``oracle_sql()`` in DuckDB — the same column
names and, order-insensitively, the same rows (values normalized to
strings, floats rounded to 9 digits). No query may leave a ``stream_*``
staging directory or a session temp view behind.

One query: ``pytest tests/test_oracle_gate.py -k <name>``."""
import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as em

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def _sorted_rows(cols, rows):
    """Rows as lists of normalized values, columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([norm_value(r[i]) for i in order] for r in rows)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"parquet_scan('{SF}/{t}.parquet')")
    yield c
    c.close()


@pytest.fixture(scope="module")
def oracles():
    return em.oracle_sql(SF)


def test_every_query_has_an_oracle(oracles):
    assert set(oracles) == set(em.queries())


@pytest.mark.parametrize("name", list(em.queries()))
def test_query_matches_oracle(spark, con, oracles, name, tmp_path,
                              monkeypatch):
    # stage into a directory of this test's own, so a leftover is ours
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = {t.name for t in spark.catalog.listTables()}
    sdf = em.queries()[name](spark, SF)
    scols = sdf.columns
    srows = sdf.collect()
    assert not [p for p in os.listdir(tmp_path) if p.startswith("stream_")]
    assert {t.name for t in spark.catalog.listTables()} == views

    d = con.sql(oracles[name])
    dcols = [c[0] for c in d.description]
    assert sorted(scols) == sorted(dcols)
    assert _sorted_rows(scols, srows) == _sorted_rows(dcols, d.fetchall())
