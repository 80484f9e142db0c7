"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 and compare against its
oracle_sql() via DuckDB — row count, column names, and an
order-insensitive value hash (values normalized to strings, rows
sorted)."""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from console_log_parser_spark.session import get_spark  # noqa: E402

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


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01"):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{sf_dir}/{t}.parquet')")
    spark = get_spark(app="check", shuffle_partitions=16)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    only = sys.argv[2:] if len(sys.argv) > 2 else None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            results[name] = {"status": "SPARK_ERROR", "err": str(ex)[:300]}
            print(f"{name}: SPARK_ERROR {str(ex)[:200]}")
            continue
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows),
                             "sec": round(time.time() - t0, 1)}
            print(f"{name}: ROWS_ONLY rows={len(srows)}")
            continue
        try:
            d = con.sql(oracles[name])
            dcols = [c[0] for c in d.description]
            drows = d.fetchall()
        except Exception as ex:
            results[name] = {"status": "ORACLE_ERROR", "err": str(ex)[:300]}
            print(f"{name}: ORACLE_ERROR {str(ex)[:200]}")
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = table_hash(scols, [[r[c] for c in scols] for r in srows])
        dh = table_hash(dcols, drows)
        ok_hash = sh == dh
        status = "OK" if (ok_cols and ok_count and ok_hash) else "MISMATCH"
        results[name] = {"status": status, "rows": len(srows),
                         "oracle_rows": len(drows),
                         "cols_ok": ok_cols, "hash_ok": ok_hash,
                         "sec": round(time.time() - t0, 1)}
        print(f"{name}: {status} rows={len(srows)}/{len(drows)} "
              f"cols_ok={ok_cols} hash_ok={ok_hash} "
              f"({results[name]['sec']}s)")
        if status == "MISMATCH":
            print(f"   spark cols={scols}\n   duck  cols={dcols}")
            if ok_cols and ok_count:
                for sr, dr in zip(
                        sorted([[norm_value(r[c]) for c in sorted(scols)]
                                for r in srows]),
                        sorted([[norm_value(dr2[i]) for i in
                                 sorted(range(len(dcols)),
                                        key=lambda i: dcols[i])]
                                for dr2 in drows])):
                    if sr != dr:
                        print(f"   first row diff:\n    s={sr}\n    d={dr}")
                        break
    n_ok = sum(1 for r in results.values() if r["status"] == "OK")
    print(f"\n{n_ok}/{len(results)} OK, "
          f"{sum(1 for r in results.values() if r['status']=='ROWS_ONLY')} rows-only")
    out_path = os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT",
                              "/tmp/correctness_local.json")
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
