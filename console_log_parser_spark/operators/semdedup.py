"""SemDeDup — semantic deduplication inside k-means cells.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (2023, public): cluster the corpus embeddings
with k-means, then compare pairs ONLY within a cluster — two documents
in different cells are never near-duplicates worth checking, so the
quadratic pair cost drops from O(n^2) to O(sum c_i^2) with c_i the
cell sizes the operator controls via k (production: k ~ n / 10^4, so
cells stay ~10^4 vectors and a cell's all-pairs is ~10^8 cheap integer
dot products, embarrassingly parallel across cells).

This implementation reuses the repo's integer Lloyd k-means
(``operators/cluster.py``: literal-centroid map-side assignment, the
only collects are k rows/iteration) and keeps every similarity
decision in exact integer arithmetic on the quantized vectors:

    similar(a, b)  <=>  dot(a,b) > 0  AND
                        dot(a,b)^2 * den^2 >= num^2 * |a|^2 * |b|^2

which is cos(a,b) >= num/den without a single float (num=9, den=10;
magnitudes bound the products safely inside BIGINT: |dot| <=
64e6, dot^2*100 <= 4.1e17). A vector is a DUPLICATE when a
same-cluster vector with a SMALLER vec_id is similar — the
deterministic keep-lowest-id survivor rule used across the dedup
family.

Plan shape: one exchange of (cluster_id, vec_id, q, |q|^2) to
co-locate cells, an in-cell self-join (bounded by the cell), a
distinct over dup ids, and a k-row final aggregate.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from console_log_parser_spark.operators.cluster import (
    PACK, kmeans_assign, quantized)

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def semdedup_members(emb: DataFrame, k: int = 10,
                     dim: int = 64) -> DataFrame:
    """(cluster_id, vec_id, q, n2): final k-means membership (2 Lloyd
    iterations) with the quantized vector and its squared norm
    (computed once, map-side)."""
    assign = kmeans_assign(emb, k, 2, dim)
    return (assign.join(quantized(emb), "vec_id")
            .select((F.col("comb") % PACK).alias("cluster_id"),
                    "vec_id", "q",
                    F.expr(_DOT.format(a="q", b="q")).alias("n2")))


def semdedup_stats(emb: DataFrame, k: int = 10,
                   dim: int = 64) -> DataFrame:
    """Per-cluster SemDeDup summary, ordered by cluster_id:
    ``(cluster_id, n_vecs, n_sim_pairs, n_dups, n_kept)`` where a dup
    is a member with a similar smaller-id member in the same cell
    (cosine >= 9/10)."""
    # the member frame feeds both self-join sides AND the size
    # aggregate; an aliased self-join gets no ReusedExchange, so
    # without a persist the assignment scan + dot products run three
    # times (the simhash doubled-subtree lesson, r5 review finding)
    m = semdedup_members(emb, k, dim).persist()
    a = m.select("cluster_id", F.col("vec_id").alias("va"),
                 F.col("q").alias("qa"), F.col("n2").alias("na"))
    b = m.select("cluster_id", F.col("vec_id").alias("vb"),
                 F.col("q").alias("qb"), F.col("n2").alias("nb"))
    dot = F.expr(_DOT.format(a="qa", b="qb"))
    sim = (a.join(b, "cluster_id")
           .filter(F.col("va") < F.col("vb"))
           .withColumn("dot", dot)
           .filter((F.col("dot") > 0)
                   & (F.col("dot") * F.col("dot") * 100
                      >= 81 * F.col("na") * F.col("nb"))))
    # ONE aggregation over the (expensive) pair frame computes both
    # counts — countDistinct(vb) IS the dup count, so the in-cell
    # self-join executes exactly once
    sim_counts = (sim.groupBy("cluster_id")
                  .agg(F.count(F.lit(1)).cast("long")
                       .alias("n_sim_pairs"),
                       F.countDistinct("vb").cast("long")
                       .alias("n_dups")))
    base = (m.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs")))
    from console_log_parser_spark.operators.dedup import (
        _materialize_and_release)
    out = (base
           .join(sim_counts, "cluster_id", "left")
           .select("cluster_id", "n_vecs",
                   F.coalesce("n_sim_pairs", F.lit(0)).cast("long")
                   .alias("n_sim_pairs"),
                   F.coalesce("n_dups", F.lit(0)).cast("long")
                   .alias("n_dups"),
                   (F.col("n_vecs")
                    - F.coalesce("n_dups", F.lit(0))).cast("long")
                   .alias("n_kept"))
           .orderBy("cluster_id"))
    return _materialize_and_release(out, m)
