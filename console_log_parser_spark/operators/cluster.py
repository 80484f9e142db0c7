"""Integer-exact Lloyd k-means over embedding vectors.

The clustering primitive behind SemDeDup-style semantic dedup and IVF
codebook training (both public: Abbas et al. 2023 "SemDeDup", and the
inverted-file ANN literature): quantize each vector to integers,
assign every vector to its nearest centroid, recompute centroids as
the element-wise mean of their members, repeat. Everything is INTEGER
arithmetic so the Spark engine and the DuckDB oracle can never
disagree on a boundary:

- vectors are quantized up front: ``q_d = round(x_d * 1000)`` (IEEE
  double multiply + half-away-from-zero round — bit-identical in both
  engines);
- distances are exact integer sums of squares;
- the argmin is a packed key ``dist * 16 + cluster_id`` (k <= 16), so
  ``min`` resolves distance ties to the smaller cluster id without a
  struct comparison;
- centroid updates use FLOOR division, pinned explicitly (Spark DIV
  truncates toward zero, DuckDB ``//`` floors — they differ on
  negative sums, so both sides spell the floor out).

Scale design: the centroid table is tiny (k x dim integers), so each
Lloyd iteration is (1) a map-side assignment — centroids folded into
the plan as literals, no join, no shuffle — and (2) ONE partial+final
hash aggregation exchanging k rows of dim+1 longs per map partition.
The only ``.collect()`` is the bounded k x dim centroid table per
iteration, the same justified pattern as the IVF codebook
(operators/similarity.py:232). At 10^12 vectors nothing grows with
the data but the scan.

Reference parity note: the reference engine has no clustering
operator; this is a beyond-reference training-data-pipeline op.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1000
PACK = 16              # packed argmin key: dist * PACK + cluster_id


def _floor_div(s: int, n: int) -> int:
    # Python // floors, matching the oracle's pinned CASE exactly
    return s // n


def quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, q: array<bigint>) — integer-quantized embeddings."""
    return emb.select(
        "vec_id",
        F.expr(f"transform(embedding, x -> "
               f"cast(round(cast(x as double) * {SCALE}) as bigint))")
         .alias("q"))


def _assign_comb_sql(centroids: list[tuple[int, list[int]]]) -> str:
    """SQL expression for the packed argmin key ``dist*PACK + cid``
    against literal centroids. Built as ONE SQL string (a 10x64-literal
    expression tree through py4j Column algebra costs seconds of pure
    driver time per invocation; one parse round-trip does not)."""
    terms = ", ".join(
        "(aggregate(zip_with(q, array("
        + ",".join(f"{v}L" for v in c)
        + "), (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        f" * {PACK} + {cid})"
        for cid, c in centroids)
    return f"array_min(array({terms}))"


def _iterate_once(q: DataFrame,
                  centroids: list[tuple[int, list[int]]],
                  dim: int) -> list[tuple[int, list[int]]]:
    assigned = q.selectExpr(
        "q", f"{_assign_comb_sql(centroids)} % {PACK} as cid")
    sums = (assigned
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.col("q")[i]).alias(f"s{i}")
                   for i in range(dim)]))
    rows = sums.collect()  # bounded: k rows of dim+1 longs
    return sorted(
        (int(r["cid"]),
         [_floor_div(int(r[f"s{i}"]), int(r["n"])) for i in range(dim)])
        for r in rows)


def kmeans_assign(emb: DataFrame, k: int = 10, n_iters: int = 2,
                  dim: int = 64) -> DataFrame:
    """Run ``n_iters`` Lloyd updates from the deterministic init
    (centroids = the quantized vectors with vec_id 0..k-1), then
    return the FINAL per-vector assignment as (vec_id, comb) where
    ``comb = dist * PACK + cluster_id`` (the packed argmin key —
    callers split it with ``% PACK`` / ``div PACK``). The assignment
    frame is map-side (literal centroids), so downstream joins and
    aggregations see a plain projection."""
    assert k <= PACK
    q = quantized(emb)
    init = (q.filter(F.col("vec_id") < k)
             .orderBy("vec_id").collect())  # bounded: k rows
    if len(init) < k:
        raise ValueError(
            f"kmeans seeds require vec_ids 0..{k - 1} present; got "
            f"{len(init)} of {k} — a filtered/offset id space would "
            "silently shrink the centroid set")
    centroids = [(int(r["vec_id"]), [int(v) for v in r["q"]])
                 for r in init]
    for _ in range(n_iters):
        centroids = _iterate_once(q, centroids, dim)
    return q.selectExpr(
        "vec_id", f"{_assign_comb_sql(centroids)} as comb")


def kmeans_stats(emb: DataFrame, k: int = 10, n_iters: int = 2,
                 dim: int = 64) -> DataFrame:
    """Per-cluster (cluster_id, n_vecs, inertia, min_vec_id) ordered
    by cluster_id, from the final :func:`kmeans_assign` assignment.
    ``inertia`` is the exact integer sum of squared quantized
    distances of members to their final centroid."""
    final = kmeans_assign(emb, k, n_iters, dim)
    return (final
            .groupBy((F.col("comb") % PACK).alias("cluster_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.sum(F.expr(f"comb div {PACK}")).alias("inertia"),
                 F.min("vec_id").alias("min_vec_id"))
            .orderBy("cluster_id"))
