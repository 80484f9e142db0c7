"""Similarity search over embedding columns.

Two paths, per the training-data-pipeline brief:

- ``cosine_topk_vectorized``: brute-force exact top-k, but computed as
  one numpy matmul per Arrow batch (the whole batch's candidate
  vectors against the query matrix) with a per-partition partial top-k
  — the shuffle carries only ``partitions x k`` rows to the final
  merge. This is the scale baseline: embarrassingly parallel, no
  index, cost O(N·d) FLOPs spread over executors.

- ``lsh_buckets`` / ``ann_lsh_candidates``: random-hyperplane LSH as
  the index path. Embeddings are quantized to integers
  (``floor(v*1000 + 0.5)``) and hyperplane entries are ±1 derived from
  a pure-integer LCG hash, so bucket signatures are exact integer
  arithmetic — bit-identical across Spark, numpy, and the DuckDB
  oracle (no float sign-boundary disagreements, the same discipline
  the repo uses everywhere for engine-portable predicates). L tables ×
  B bits; candidates = union over tables of same-bucket vectors; exact
  cosine re-rank on the (tiny) candidate set. At cluster scale the
  bucket join is an equi-join on the bucket id: shuffle keys are
  uniformly-distributed hashes, no skew, and the query side is
  broadcast.

Nothing here uses per-row Python: signatures are one matmul per Arrow
batch inside a pandas_udf; everything else is built-in DataFrame ops.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

DIM = 64  # embedding width
L_TABLES = 4
B_BITS = 8
QUANT = 1000.0
TOP_K = 10  # ANN result size
NPROBE = 2  # IVF cells probed per query
# near-dup config: the (L, B) sizing note on neardup_lsh_pairs
NEARDUP_THRESHOLD = 0.45
NEARDUP_L_TABLES = 32
NEARDUP_B_BITS = 4
_M31 = 2_147_483_648  # 2^31


def _lcg_bit(plane_id: np.ndarray, i: np.ndarray) -> np.ndarray:
    """Deterministic ±1 from pure integer arithmetic (engine-portable:
    the DuckDB oracle evaluates the identical formula).

    The ``plane_id*(i+1)`` cross term gives each plane a distinct slope
    (a purely affine LCG makes planes shifted copies of each other),
    and the sign folds three spread-out bit positions (plain bit-15 of
    this LCG is visibly non-uniform). Verified: all 32 planes distinct,
    |sum(plane)| <= 22 of 64, max pairwise |dot| = 26."""
    x = (plane_id * 1103515245 + (i + 1) * 12345
         + plane_id * (i + 1) * 2654435761) % _M31
    x = (x * 1103515245 + 12345) % _M31
    parity = ((x >> 9) + (x >> 18) + (x >> 27)) % 2
    return np.where(parity == 0, 1, -1).astype(np.int64)


def hyperplanes(dim: int, l_tables: int = L_TABLES,
                b_bits: int = B_BITS) -> np.ndarray:
    """(l_tables*b_bits, dim) matrix of ±1 hyperplane entries."""
    plane = np.arange(l_tables * b_bits, dtype=np.int64) + 1
    i = np.arange(dim, dtype=np.int64)
    return _lcg_bit(plane[:, None], i[None, :])


def quantize(mat: np.ndarray) -> np.ndarray:
    """float embedding matrix -> exact integer weights."""
    return np.floor(mat.astype(np.float64) * QUANT + 0.5).astype(np.int64)


def _signatures_np(mat: np.ndarray, h: np.ndarray,
                   l_tables: int, b_bits: int) -> np.ndarray:
    """(n, dim) floats -> (n, l_tables) bucket ids. One matmul."""
    w = quantize(mat)                      # (n, dim) int64
    dots = w @ h.T                         # (n, L*B) int64, exact
    bits = (dots >= 0).astype(np.int64)    # sign bit per plane
    bits = bits.reshape(-1, l_tables, b_bits)
    weights = (1 << np.arange(b_bits, dtype=np.int64))
    codes = (bits * weights).sum(axis=2)   # (n, L)
    table = np.arange(l_tables, dtype=np.int64) * 65536
    return codes + table


def lsh_buckets(df: DataFrame, l_tables: int = L_TABLES,
                b_bits: int = B_BITS) -> DataFrame:
    """Add ``buckets: array<long>`` (one id per LSH table) to each row."""
    h = hyperplanes(DIM, l_tables, b_bits)

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy())
        sigs = _signatures_np(mat, h, l_tables, b_bits)
        return pd.Series(list(sigs))

    return df.withColumn("buckets", bucket_udf(F.col("embedding")))


def ann_lsh_candidates(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """Candidate vec_ids sharing >=1 LSH bucket with the query vector.

    The query's L bucket rows are broadcast; the corpus side is an
    equi-join on bucket id (uniform hash keys — no skew at scale)."""
    with_b = lsh_buckets(emb)
    exploded = with_b.select("vec_id", F.explode("buckets").alias("bucket"))
    qb = (exploded.filter(F.col("vec_id") == query_vec_id)
          .select(F.col("bucket").alias("qbucket")).distinct())
    return (exploded.filter(F.col("vec_id") != query_vec_id)
            .join(F.broadcast(qb), exploded.bucket == qb.qbucket)
            .select("vec_id").distinct())


def cosine_expr(a, b):
    """Exact cosine similarity between two array<double> columns as a
    built-in expression (JVM-side, no Python)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def lsh_candidate_pairs(emb: DataFrame, l_tables: int = L_TABLES,
                        b_bits: int = B_BITS, directed: bool = False):
    """Distinct candidate pairs sharing >= 1 LSH bucket — the ONE
    pair-generation rule for the near-dup and kNN-join operators
    (r5 review: two hand-maintained copies of the bucket self-join
    would diverge). ``directed=False`` -> unordered (vec_a < vec_b);
    ``directed=True`` -> both directions as (qid, nid) for per-query
    ranking. Returns ``(pairs, ex)`` where ``ex`` is the PERSISTED
    exploded-bucket frame: both self-join sides read one computation
    of the pandas-UDF signature stage (an aliased self-join gets no
    ReusedExchange), and the CALLER releases it after materializing
    its result (the _materialize_and_release lifecycle)."""
    ex = (lsh_buckets(emb, l_tables, b_bits)
          .select("vec_id", F.explode("buckets").alias("bucket"))
          .persist())
    a, b = ex.alias("a"), ex.alias("b")
    cmp = (F.col("a.vec_id") != F.col("b.vec_id") if directed
           else F.col("a.vec_id") < F.col("b.vec_id"))
    left, right = ("qid", "nid") if directed else ("vec_a", "vec_b")
    pairs = (a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & cmp)
             .select(F.col("a.vec_id").alias(left),
                     F.col("b.vec_id").alias(right))
             .distinct())
    return pairs, ex


def neardup_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= NEARDUP_THRESHOLD) via
    hyperplane-LSH candidate generation + exact-cosine verification —
    the candidate join is an equi-join on uniform bucket ids
    (shuffle-partitionable, AQE-splittable), never an O(n^2) cross
    join of the corpus with itself.

    (L, B) sizing: recall per pair at cosine c is
    1 - (1 - p^B)^L with p = 1 - arccos(c)/pi. The driver query pins
    a WEAK threshold (0.45, p ~ 0.65) because the synthetic corpus has
    no true near-dups (max ~0.51), which forces small bands
    (B=4) and many tables (L=32) for total recall —
    tests/test_similarity.py asserts the LSH output equals the exact
    all-pairs result at sf0.001 and sf0.01. At production thresholds
    (>= 0.9, p >= 0.86) the same operator runs with B=16..24 (set
    NEARDUP_THRESHOLD, NEARDUP_B_BITS and NEARDUP_L_TABLES) where
    buckets are tiny and the join is genuinely subquadratic.

    The operator is PROBABILISTIC in general: exact-all-pairs equality
    is validated on the shipped corpora, but on other data a pair AT
    the threshold is recalled with probability 1-(1-p^B)^L — computed
    and logged below so every (threshold, L, B) configuration carries
    its own recall statement rather than an implied guarantee."""
    import logging
    import math

    p_thr = 1.0 - math.acos(NEARDUP_THRESHOLD) / math.pi
    recall_at_thr = (1.0 - (1.0 - p_thr ** NEARDUP_B_BITS)
                     ** NEARDUP_L_TABLES)
    logging.getLogger(__name__).info(
        "neardup_lsh_pairs(threshold=%.3f, L=%d, B=%d): analytic recall "
        "for a pair exactly at threshold = %.6f (rises toward 1 above "
        "it); pairs below threshold are filtered by exact verification",
        NEARDUP_THRESHOLD, NEARDUP_L_TABLES, NEARDUP_B_BITS, recall_at_thr)
    from console_log_parser_spark.operators.dedup import (
        _materialize_and_release)
    vecs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    cand, ex = lsh_candidate_pairs(emb, NEARDUP_L_TABLES, NEARDUP_B_BITS)
    va = vecs.select(F.col("vec_id").alias("vec_a"),
                     F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"),
                     F.col("v").alias("vb"))
    out = (cand.join(va, "vec_a").join(vb, "vec_b")
           .select("vec_a", "vec_b",
                   F.round(cosine_expr(F.col("va"), F.col("vb")), 4)
                   .alias("score"))
           .filter(F.col("score") >= NEARDUP_THRESHOLD))
    return _materialize_and_release(out, ex)


def cosine_topk_vectorized(emb: DataFrame, query: np.ndarray) -> DataFrame:
    """Exact brute-force top-TOP_K as one matmul per Arrow batch with
    per-partition partial top-k; only ~num_partitions*k rows reach the
    final (driver-side-sized) sort."""
    import pyarrow as pa
    q = query.astype(np.float64)
    qn = np.linalg.norm(q)

    def score_batches(it):
        for batch in it:
            if not batch.num_rows:
                continue
            vec_ids = batch.column("vec_id").to_numpy()
            col = batch.column("embedding")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offs = col.offsets.to_numpy(zero_copy_only=False)
            vals = col.values.to_numpy(zero_copy_only=False)
            mat = vals.reshape(len(vec_ids), -1).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            scores = (mat @ q) / (norms * qn)
            top = np.argsort(-scores, kind="stable")[:TOP_K]
            yield pa.RecordBatch.from_arrays(
                [pa.array(vec_ids[top], pa.int64()),
                 pa.array(np.round(scores[top], 4), pa.float64())],
                names=["vec_id", "score"])

    scored = emb.select("vec_id", "embedding").mapInArrow(
        score_batches, "vec_id long, score double")
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(TOP_K)


def ivf_centroid_mod(n: int) -> int:
    """Deterministic codebook stride for n vectors: m = max(2,
    n // isqrt(n)), so the centroid count K = |{id : id % m == 1}| is
    ~sqrt(n) — BOUNDED in corpus size (10^6 centroids at n = 10^12),
    never a fixed fraction of it. Floor at 2 because ``x % 1 == 1``
    selects nothing. The DuckDB oracle mirrors this with
    floor(sqrt(n::DOUBLE)): IEEE sqrt is correctly rounded, so it
    agrees with math.isqrt exactly for perfect squares and cannot
    cross an integer boundary for non-squares until n ~ 2^52 — far
    beyond any count this takes."""
    import math
    return max(2, n // max(1, math.isqrt(n)))


# absolute codebook cap: sqrt(10^12), the largest corpus SCALE.md
# designs the ANN layer for; 10^6 64-dim rows ~ 256 MB on the driver,
# the outer edge of a justified broadcast
IVF_MAX_CODEBOOK_ROWS = 1_000_000


def ivf_assign(emb: DataFrame, centroid_mod: int) -> DataFrame:
    """IVF coarse quantizer with a deterministic codebook: centroids
    are the corpus vectors whose ``vec_id % centroid_mod == 1`` (no
    k-means iterations — reproducible, engine-portable); every vector
    is assigned to the centroid minimizing the *integer-quantized*
    squared L2 distance (exact arithmetic, ties broken by centroid id,
    so Spark and the SQL oracle can never disagree on a cell).

    ``ann_ivf_candidates`` passes ``ivf_centroid_mod(count)`` so the
    codebook is K ~ sqrt(n) rows — the ``collect()`` below is bounded
    (10^6 small rows even at n = 10^12; round-4 verdict: the old fixed
    mod=43 collected n/43 rows, unbounded). The bound is enforced with
    a distributed ``count()`` of the centroid frame BEFORE the collect
    (a post-collect check would OOM the driver before it ever ran) and
    is an ABSOLUTE row cap — sqrt of the largest corpus the module
    designs for — so a small explicit mod on a small corpus stays
    valid. Assignment is one matmul per Arrow batch against the
    broadcast codebook."""
    import pandas as pd
    from pyspark.sql.types import LongType

    cent_frame = (emb.filter(F.col("vec_id") % centroid_mod == 1)
                  .select("vec_id", "embedding"))
    n_cent = cent_frame.count()
    if n_cent > IVF_MAX_CODEBOOK_ROWS:
        raise ValueError(
            f"IVF codebook would be {n_cent} rows with "
            f"mod={centroid_mod} (cap {IVF_MAX_CODEBOOK_ROWS}, the "
            "sqrt of the 10^12-vector design corpus): refusing the "
            "unbounded driver collect — pass a larger centroid_mod, "
            "such as ivf_centroid_mod(n)")
    cent_rows = cent_frame.collect()
    cent_ids = np.array([r["vec_id"] for r in cent_rows], dtype=np.int64)
    cent_mat = quantize(np.array([r["embedding"] for r in cent_rows]))
    order = np.argsort(cent_ids)
    cent_ids, cent_mat = cent_ids[order], cent_mat[order]
    cent_sq = (cent_mat * cent_mat).sum(axis=1)

    @F.pandas_udf(LongType())
    def assign_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        w = quantize(np.stack(vecs.to_numpy()))
        # argmin over ||w - c||^2 = ||c||^2 - 2 w.c (+ ||w||^2 const);
        # all integer, ties -> lowest centroid id (ids are sorted)
        d = cent_sq[None, :] - 2 * (w @ cent_mat.T)
        return pd.Series(cent_ids[np.argmin(d, axis=1)])

    return emb.withColumn("cell", assign_udf(F.col("embedding")))


def ann_ivf_candidates(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """IVF search: probe the NPROBE cells nearest the query vector
    (by the same integer metric) and return their members."""
    centroid_mod = ivf_centroid_mod(emb.count())
    assigned = ivf_assign(emb, centroid_mod)
    cent = assigned.filter(F.col("vec_id") % centroid_mod == 1)
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"))
    # integer distance query->centroid, smallest NPROBE cells
    wq = F.transform("qv", lambda x: F.floor(
        x.cast("double") * QUANT + F.lit(0.5)).cast("long"))
    wc = F.transform("embedding", lambda x: F.floor(
        x.cast("double") * QUANT + F.lit(0.5)).cast("long"))
    dist = F.aggregate(
        F.zip_with(wc, F.col("qw"), lambda c, q: (c - q) * (c - q)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    probed = (cent.crossJoin(F.broadcast(qv.select(wq.alias("qw"))))
              .select("vec_id", dist.alias("d"))
              .orderBy("d", "vec_id").limit(NPROBE)
              .select(F.col("vec_id").alias("cell")))
    return (assigned.join(F.broadcast(probed), "cell")
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id"))


def oracle_ivf_cte_prefix() -> str:
    """The shared IVF CTE chain (through the ``cand`` candidate set of
    query vector 0): identical assign -> probe in DuckDB, ONE copy for
    oracle_ivf_sql and the IVF x PQ composition oracle. The codebook
    stride mirrors ivf_centroid_mod(): m = greatest(2, n //
    floor(sqrt(n))) derived from the same count, so both engines pick
    the identical ~sqrt(n)-sized codebook."""
    return f"""
        WITH e AS (SELECT vec_id, label,
                          CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        cm AS (SELECT GREATEST(2, count(*) // GREATEST(1,
                   CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                        AS BIGINT))) AS m
               FROM e),
        w AS (SELECT vec_id, i,
                     CAST(floor(v[i] * {QUANT:.0f} + 0.5) AS BIGINT) AS wv
              FROM e CROSS JOIN range(1, {DIM + 1}) t(i)),
        cw AS (SELECT vec_id AS cid, i, wv AS cv FROM w
               WHERE vec_id % (SELECT m FROM cm) = 1),
        dists AS (SELECT w.vec_id, cw.cid,
                         sum((w.wv - cw.cv) * (w.wv - cw.cv)) AS d
                  FROM w JOIN cw ON w.i = cw.i
                  GROUP BY w.vec_id, cw.cid),
        assign AS (SELECT vec_id, cid FROM (
                       SELECT vec_id, cid,
                              row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS rn
                       FROM dists) WHERE rn = 1),
        probe AS (SELECT cid FROM dists
                  WHERE vec_id = 0
                  ORDER BY d, cid LIMIT {NPROBE}),
        cand AS (SELECT a.vec_id FROM assign a
                 JOIN probe p ON a.cid = p.cid
                 WHERE a.vec_id <> 0)"""


def oracle_ivf_sql() -> str:
    """DuckDB: identical IVF assign -> probe -> exact-cosine re-rank
    (the shared CTE prefix + the cosine top-k tail)."""
    return oracle_ivf_cte_prefix() + f"""
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(e.v, q.v), 4) AS score
        FROM cand JOIN e ON e.vec_id = cand.vec_id
        CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
        ORDER BY score DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """


def oracle_lsh_cte_prefix() -> str:
    """The shared LSH CTE chain through ``sigs`` (per-vector bucket
    ids from the identical LCG hyperplanes) — ONE copy for the
    single-query oracle and the kNN-join oracle."""
    return f"""
        WITH e AS (SELECT vec_id, label,
                          CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        w AS (SELECT vec_id, i,
                     CAST(floor(v[i] * {QUANT:.0f} + 0.5) AS BIGINT) AS wv
              FROM e CROSS JOIN range(1, {DIM + 1}) t(i)),
        planes AS (
            SELECT tb, j, i,
                   CASE WHEN (((x2 // 512) + (x2 // 262144)
                               + (x2 // 134217728)) % 2) = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM (SELECT tb, j, i,
                         ((x1 * 1103515245 + 12345) % {_M31}) AS x2
                  FROM (SELECT t.tb, jj.j, ii.i,
                               (((t.tb * {B_BITS} + jj.j + 1)
                                 * 1103515245
                                 + i * 12345
                                 + (t.tb * {B_BITS} + jj.j + 1)
                                   * i * 2654435761) % {_M31}) AS x1
                        FROM range({L_TABLES}) t(tb)
                        CROSS JOIN range({B_BITS}) jj(j)
                        CROSS JOIN range(1, {DIM + 1}) ii(i)))),
        bits AS (SELECT w.vec_id, p.tb, p.j,
                        CASE WHEN sum(p.sgn * w.wv) >= 0
                             THEN 1 ELSE 0 END AS bit
                 FROM w JOIN planes p ON w.i = p.i
                 GROUP BY w.vec_id, p.tb, p.j),
        sigs AS (SELECT vec_id, tb,
                        tb * 65536 + sum(bit * (1::BIGINT << j)) AS bucket
                 FROM bits GROUP BY vec_id, tb)"""


def knn_join_lsh(emb: DataFrame) -> DataFrame:
    """Bucketed kNN JOIN — top-3 LSH-candidate neighbors for EVERY
    vector at once (the hard-negative-mining / contrastive-pairs
    primitive): explode each vector's L bucket ids, self-join on the
    bucket (uniform hash keys, skew-free), rank candidates per query
    by exact cosine (rounded to 4dp, ties -> lowest neighbor id — the
    ann_* convention). Per-query candidate volume is bounded by the
    bucket sizes; production raises B_BITS ~ log2(n) so buckets stay
    O(1) as the corpus grows. The exploded bucket frame is persisted —
    both self-join sides read one computation of the pandas-UDF
    signature stage (the aliased-self-join lesson) — and released
    after the (tiny) result materializes."""
    from console_log_parser_spark.operators.dedup import (
        _materialize_and_release)
    pairs, ex = lsh_candidate_pairs(emb, directed=True)
    ea = emb.select(F.col("vec_id").alias("qid"),
                    F.col("embedding").cast("array<double>").alias("va"))
    eb = emb.select(F.col("vec_id").alias("nid"),
                    F.col("embedding").cast("array<double>").alias("vb"))
    scored = (pairs.join(ea, "qid").join(eb, "nid")
              .select("qid", "nid",
                      F.round(cosine_expr(F.col("va"), F.col("vb")), 4)
                      .alias("score")))
    from pyspark.sql import Window
    ranked = scored.withColumn(
        "nn_rank", F.row_number().over(
            Window.partitionBy("qid")
            .orderBy(F.desc("score"), F.asc("nid"))))
    out = (ranked.filter(F.col("nn_rank") <= 3)
           .select(F.col("qid").cast("long").alias("qid"),
                   F.col("nn_rank").cast("long").alias("nn_rank"),
                   F.col("nid").cast("long").alias("nid"), "score")
           .orderBy("qid", "nn_rank"))
    return _materialize_and_release(out, ex)


def oracle_lsh_sql() -> str:
    """DuckDB SQL computing the identical LSH candidates of query vector
    0 + exact-cosine re-rank (same integer quantization and hyperplane
    LCG)."""
    return oracle_lsh_cte_prefix() + f""",
        qb AS (SELECT DISTINCT bucket FROM sigs
               WHERE vec_id = 0),
        cand AS (SELECT DISTINCT s.vec_id
                 FROM sigs s JOIN qb ON s.bucket = qb.bucket
                 WHERE s.vec_id <> 0)
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(e.v, q.v), 4) AS score
        FROM cand
        JOIN e ON e.vec_id = cand.vec_id
        CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
        ORDER BY score DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """
