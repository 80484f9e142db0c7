"""Seeded benchmark inputs, their fingerprints and their expected outputs.

Everything here runs before the measured process starts and is cached
under the work directory, keyed by seed, size and a hash of the code
that shapes the input, so no timed region and no ``setup_s`` ever pays
for it.

* Transcript input (``histogram`` and ``checkpointed``): one
  ``datagen.generate`` directory, the layout the program itself writes.
  Its expected severity histogram comes from the independent FSM oracle
  (``oracle.oracle_parse_doc``) plus the route semantics of
  ``oracle_pipeline``: a doc whose source has no route row goes to the
  dead-letter sink.
* Ad-hoc tables (the ad-hoc probe of a traced run): the ten fixed
  TPC-H-like tables under ``sf0.1/``, a copy of the repository's sf0.1
  test tables. Expected query results come from DuckDB running
  ``__spark_entry__.oracle_sql()`` over the same files.
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from compare import normalize

DEAD_LETTER_SINK = "sink_dead_letter"

# the ad-hoc queries bench.py times, less doc_minhash_dedup and
# doc_simhash_pairs: their first run in a session costs 5-21 s of code
# generation, and a traced run must end within its deadline
ADHOC_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_top_customers_window", "events_sessionize",
    "events_asof_interleave", "doc_dedup_exact", "doc_token_count",
    "ann_bruteforce_top10",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "sf0.1")


def _code_tag(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _file_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()[:16]


def _publish(tmp: str, out: str) -> None:
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise


# --- transcripts ---------------------------------------------------------

def _decode_texts(tokens: pa.ListArray) -> list[str]:
    offsets = tokens.offsets.to_numpy()
    big = tokens.values.to_numpy(zero_copy_only=False).astype(
        "<u4").tobytes().decode("utf-32-le", "replace")
    return [big[offsets[i]:offsets[i + 1]] for i in range(len(tokens))]


def _sinks(in_dir: str, sources: list[str]) -> list[str]:
    routes = pq.read_table(os.path.join(in_dir, "route_metadata.parquet"),
                           columns=["source", "sink"]).to_pylist()
    sink_of = {r["source"]: r["sink"] for r in routes}
    return [sink_of.get(s, DEAD_LETTER_SINK) for s in sources]


def oracle_part(in_dir: str, part: int, parts: int) -> dict:
    """Severity histogram, keyed by (sink, severity), and escape-event
    count of the ``part``-th of ``parts`` contiguous slices of the docs.
    Runs in its own process (see ``__main__``)."""
    from console_log_parser_spark.oracle import oracle_parse_doc
    table = pq.read_table(os.path.join(in_dir, "tokenized_logs.parquet"),
                          columns=["tokens", "source"])
    lo, hi = (part * table.num_rows // parts,
              (part + 1) * table.num_rows // parts)
    table = table.slice(lo, hi - lo)
    texts = _decode_texts(table.column("tokens").combine_chunks())
    sinks = _sinks(in_dir, table.column("source").to_pylist())
    hist: dict = defaultdict(lambda: [0, 0, 0, 0, 0])
    n_events = 0
    for text, sink in zip(texts, sinks):
        p = oracle_parse_doc(text)
        row = hist[(sink, p["severity"])]
        row[0] += 1
        row[1] += p["n_debug"]
        row[2] += p["n_info"]
        row[3] += p["n_warn"]
        row[4] += p["n_error"]
        n_events += p["n_events"]
    return {"hist": [[k[0], k[1], *v] for k, v in hist.items()],
            "n_events": n_events}


def _start_oracle(in_dir: str, procs: int) -> list[subprocess.Popen]:
    """Start ``oracle_part`` over all docs, one slice per process."""
    return [subprocess.Popen(
        [sys.executable, __file__, "oracle", in_dir, str(i), str(procs)],
        stdout=subprocess.PIPE, text=True) for i in range(procs)]


def _oracle_results(workers: list[subprocess.Popen]) -> list[dict]:
    outs = [w.communicate()[0] for w in workers]
    for w in workers:
        if w.returncode != 0:
            raise RuntimeError(f"oracle worker exited {w.returncode}")
    return [json.loads(o) for o in outs]


def _repeated_prompt_share(texts: list[str]) -> float:
    """Share of '$'-bearing lines (every line but a doc's last) whose raw
    text already occurred earlier in the corpus: the hit rate the
    parser's per-worker line memo can reach on this input."""
    seen: set[str] = set()
    total = repeated = 0
    for text in texts:
        lines = text.split("\n")
        for line in lines[:-1]:
            if "$" not in line:
                continue
            total += 1
            if line in seen:
                repeated += 1
            else:
                seen.add(line)
    return repeated / total if total else 0.0


def transcripts(work: str, seed: int, n_docs: int, procs: int) -> dict:
    """Generate (once) and describe the transcript input for ``seed``.

    Returns the input directory, its fingerprint and the oracle's
    expected severity histogram."""
    from console_log_parser_spark import datagen, oracle
    tag = _code_tag(datagen.__file__, oracle.__file__, __file__)
    out = os.path.join(work, "inputs", f"logs_n{n_docs}_s{seed}_{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(tmp, n_docs=n_docs, seed=seed)
    workers = _start_oracle(tmp, procs)
    logs_path = os.path.join(tmp, "tokenized_logs.parquet")
    routes_path = os.path.join(tmp, "route_metadata.parquet")
    table = pq.read_table(logs_path)
    texts = _decode_texts(table.column("tokens").combine_chunks())
    sinks = _sinks(tmp, table.column("source").to_pylist())
    parts = _oracle_results(workers)
    merged: dict = defaultdict(lambda: [0, 0, 0, 0, 0])
    for part in parts:
        for sink, sev, *vals in part["hist"]:
            row = merged[(sink, sev)]
            for j, v in enumerate(vals):
                row[j] += v
    histogram = sorted(([k[0], k[1], *v] for k, v in merged.items()),
                       key=lambda r: (r[0], r[1] or ""))

    md = pq.ParquetFile(logs_path).metadata
    meta = {
        "dir": out,
        "fingerprint": {
            "content_sha256": _file_hash([logs_path, routes_path]),
            "docs": table.num_rows,
            "tokens": int(pa.compute.sum(table.column("n_tok")).as_py()),
            "files": 1,  # datagen writes the corpus as one parquet file
            "row_groups": md.num_row_groups,
            "input_mb": round(os.path.getsize(logs_path) / 1e6, 3),
            "repeated_prompt_line_share": round(
                _repeated_prompt_share(texts), 4),
            "dead_letter_share": round(
                sinks.count(DEAD_LETTER_SINK) / len(sinks), 4),
        },
        "expected": {
            "severity_histogram": histogram,
            "n_events": sum(p["n_events"] for p in parts),
        },
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, out)
    return meta


# --- ad-hoc tables ----------------------------------------------------------

def tables(work: str) -> dict:
    """The fixed ad-hoc tables (a copy of the repository's sf0.1 test
    tables, shipped under ``sf0.1/``), their fingerprint and DuckDB's
    rows for every timed query. The seed does not apply. The oracle runs
    once per version of the tables and of the oracle SQL, and is cached."""
    import __spark_entry__ as entry
    paths = [os.path.join(TABLES_DIR, f"{t}.parquet") for t in TABLES]
    content = _file_hash(paths)
    tag = _code_tag(entry.__file__, __file__)
    out = os.path.join(work, "inputs", f"tables_{content}_{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = {
        "dir": TABLES_DIR,
        "fingerprint": {
            "content_sha256": content,
            "rows": {t: pq.ParquetFile(p).metadata.num_rows
                     for t, p in zip(TABLES, paths)},
            "input_mb": round(sum(map(os.path.getsize, paths)) / 1e6, 3),
        },
        "expected": _oracle_rows(TABLES_DIR, tmp),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, out)
    return meta


def _oracle_rows(sf_dir: str, tmp_dir: str) -> dict[str, dict]:
    import duckdb

    import __spark_entry__ as entry
    sql = entry.oracle_sql(sf_dir)
    con = duckdb.connect(
        config={"temp_directory": os.path.join(tmp_dir, "duckdb_tmp")})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{sf_dir}/{t}.parquet')")
    out = {}
    for name in ADHOC_QUERIES:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        out[name] = {"columns": cols,
                     "rows": [normalize(list(r)) for r in cur.fetchall()]}
    con.close()
    shutil.rmtree(os.path.join(tmp_dir, "duckdb_tmp"), ignore_errors=True)
    return out


if __name__ == "__main__":
    # oracle worker: python3 inputs.py oracle <input dir> <part> <parts>
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    print(json.dumps(oracle_part(sys.argv[2], int(sys.argv[3]),
                                 int(sys.argv[4]))))
