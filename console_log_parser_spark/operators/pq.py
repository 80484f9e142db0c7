"""Product quantization (PQ) — compact vector codes + asymmetric
distance (ADC) search.

Jégou et al., "Product quantization for nearest neighbor search"
(TPAMI 2011, public): split the d-dim space into N_SUB subspaces,
quantize each subvector against its own small codebook, and represent
a vector by the tuple of codebook indices — d floats collapse to
N_SUB small ints. A query is answered with an ADC table: the
query's exact distance to every sub-centroid is precomputed (N_SUB x
K_SUB entries), so a candidate's approximate distance is N_SUB
table lookups + adds, no vector arithmetic.

Determinism (twin-oracle discipline): sub-codebooks are the quantized
subvectors of ``vec_id 0..K_SUB-1`` (the k-means seeding rule of
``operators/cluster.py`` — bounded by construction, no RNG), distances
are exact integer squared L2 on the quantized grid, argmin ties break
to the LOWEST code via the packed ``dist * PACK + cid`` key. Spark
and DuckDB cannot disagree on a single code or ranking.

Scale design (10^9-10^12 vectors): codes are N_SUB small ints per
vector — the 64-dim float corpus (256 B/vec) becomes 4 codes
(packable to 4 B/vec), which is what makes exhaustive ADC scans over
billions of vectors feasible. Encoding is map-side against LITERAL
codebooks (K_SUB * N_SUB = 64 rows collected — same bounded-collect
contract as the k-means centroids); the ADC scan is map-side literal
table lookups + one TakeOrdered(50); only the 50 survivors join back
to fetch full vectors for the exact re-rank. No corpus-sized shuffle
anywhere. Production uses K_SUB = 256 (one byte per code) and IVF
cell-restricted scans on top; K_SUB = 16 here because the synthetic
corpus is small. The exact re-rank re-reads the vector table to fetch
the shortlist's full vectors — a broadcast hash join against a second
scan, fine at bench scale; at 10^12 vectors the table is bucketed by
vec_id (tests/test_bucketing.py's layout), so those 50 fetches prune
to point reads instead of a second pass.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from console_log_parser_spark.operators.cluster import quantized

PACK = 32          # packed argmin: dist * PACK + code, code < PACK
N_SUB = 4          # subspaces (64 dims -> 4 x 16)
SUB_DIM = 16       # dims per subspace
K_SUB = 16         # codes per subspace


def _sub_codebooks(emb: DataFrame) -> list[list[list[int]]]:
    """codebooks[j][c] = the c-th centroid of subspace j (list of
    SUB_DIM ints). Bounded collect: K_SUB rows."""
    rows = (quantized(emb)
            .filter(F.col("vec_id") < K_SUB)
            .orderBy("vec_id").collect())
    if len(rows) < K_SUB:
        raise ValueError(
            f"PQ codebooks require vec_ids 0..{K_SUB - 1} present; "
            f"got {len(rows)} of {K_SUB}")
    return [[[int(v) for v in r["q"][j * SUB_DIM:(j + 1) * SUB_DIM]]
             for r in rows]
            for j in range(N_SUB)]


def _code_sql(j: int, codebook: list[list[int]]) -> str:
    """Packed argmin SQL for subspace ``j`` against its literal
    codebook (one SQL string per subspace — the py4j plan-build
    lesson of operators/cluster.py)."""
    lo = j * SUB_DIM + 1  # 1-based slice start
    terms = ", ".join(
        "(aggregate(zip_with(slice(q, {lo}, {n}), array({c}), "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        " * {pack} + {cid})".format(
            lo=lo, n=SUB_DIM,
            c=",".join(f"{v}L" for v in cb),
            pack=PACK, cid=cid)
        for cid, cb in enumerate(codebook))
    return f"array_min(array({terms})) % {PACK}"


def pq_codes(emb: DataFrame, _books: list | None = None) -> DataFrame:
    """(vec_id, c0..c{N_SUB-1}): the PQ code of every vector, one
    column per subspace (map-side literal argmin, no shuffle).
    ``_books`` injects codebooks trained on a DIFFERENT (usually
    fuller) frame than the one being encoded — the IVF x PQ composer
    encodes only the probed cells but the codebooks always come from
    the whole corpus's seed rows."""
    books = _books if _books is not None else _sub_codebooks(emb)
    exprs = ["vec_id"] + [
        f"{_code_sql(j, books[j])} as c{j}" for j in range(N_SUB)]
    return quantized(emb).selectExpr(*exprs)


def _sq_l2(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def ann_pq_topk(emb: DataFrame, shortlist: int = 50,
                candidates: DataFrame | None = None) -> DataFrame:
    """ADC search for query vec_id 0: shortlist by the PQ table
    distance, exact integer re-rank of the shortlist — ``(vec_id,
    adc_dist, exact_dist)``, top 10 by (exact_dist, vec_id).

    The ADC table (N_SUB x K_SUB ints) is computed driver-side from
    the query vector (1-row collect) and folded into the plan as
    literal element_at lookups over the code columns. ``candidates``
    (a vec_id frame, e.g. from ``similarity.ann_ivf_candidates``)
    restricts the ADC scan to those rows — the IVF x PQ composition:
    codebooks and the query still come from the FULL frame, so a
    candidate set that excludes the seed rows changes nothing."""
    books = _sub_codebooks(emb)
    qrow = quantized(emb).filter(F.col("vec_id") == 0).collect()
    if not qrow:
        raise ValueError("query vec_id 0 not found")
    qv = [int(v) for v in qrow[0]["q"]]
    adc = [[_sq_l2(qv[j * SUB_DIM:(j + 1) * SUB_DIM], books[j][c])
            for c in range(K_SUB)]
           for j in range(N_SUB)]
    scan = emb if candidates is None else emb.join(
        candidates, "vec_id", "left_semi")
    codes = pq_codes(scan, _books=books)
    dist = " + ".join(
        "element_at(array({t}), cast(c{j} as int) + 1)".format(
            t=",".join(f"{v}L" for v in adc[j]), j=j)
        for j in range(N_SUB))
    short = (codes.selectExpr("vec_id", f"({dist}) as adc_dist")
             .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
             .limit(shortlist))
    qlit = ",".join(f"{v}L" for v in qv)
    exact = (short.join(quantized(emb), "vec_id")
             .selectExpr(
                 "vec_id", "adc_dist",
                 f"aggregate(zip_with(q, array({qlit}), "
                 "(a, b) -> (a - b) * (a - b)), 0L, "
                 "(acc, x) -> acc + x) as exact_dist"))
    return (exact.orderBy(F.asc("exact_dist"), F.asc("vec_id"))
            .limit(10)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("adc_dist").cast("long").alias("adc_dist"),
                    F.col("exact_dist").cast("long")
                    .alias("exact_dist")))
