"""Near-duplicate detection operators for training-data pipelines.

All hashing is engine-portable and deterministic: shingle/word hashes
come from md5 hex prefixes (same bytes in any engine, no dependence on
Spark's xxhash seed or Python's randomized str hash), and permutations
use fixed (a, b) constants modulo a 31-bit prime, so results are
reproducible across runs, partitionings and resume — a requirement the
checkpointed batch split shares (BASELINE.json:14).

Scale design: every operator is expressed as explode -> hash ->
groupBy/join on the *hash* (never on raw text), so the shuffle keys
are small and skew-resistant. The MinHash-LSH candidate join is the
standard band-bucket equi-join: only documents sharing a band bucket
meet, turning the O(n^2) pair space into O(sum bucket^2).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1

SHINGLE_K = 3  # words per shingle
N_PERM = 8  # MinHash signature length
N_BANDS = 4  # LSH bands of N_PERM // N_BANDS rows each
# near-duplicate threshold: shingle Jaccard >= JACCARD_NUM / JACCARD_DEN
JACCARD_NUM, JACCARD_DEN = 1, 2

# fixed permutation constants (generated once from a seeded PRNG;
# hard-coded so every engine/run agrees)
PERMS = [
    (1203077387, 528034983), (885961883, 1723930551),
    (1817469788, 1236687677), (602982498, 1106438810),
    (2006519551, 927473217), (460128514, 1597226340),
    (1106819081, 342973211), (1378749216, 79380292),
    (1602569885, 984282217), (733023313, 1474557139),
    (559671147, 1947485988), (1953610326, 178881001),
    (1444794699, 876868812), (255892115, 1610216395),
    (1961256669, 1304574783), (680874309, 476067152),
]


def shingles(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, shingle) distinct SHINGLE_K-word
    shingles.

    The text is split ONCE into a materialized array column; the
    shingle transform indexes into it (inlining ``split`` inside each
    ``element_at`` makes Catalyst re-split the text SHINGLE_K times per
    shingle — O(words^2) per doc)."""
    expr = (
        f"array_distinct(CASE WHEN size(ws) >= {SHINGLE_K} "
        f"THEN transform(sequence(1, size(ws) - {SHINGLE_K - 1}), "
        + "i -> concat_ws(' ', "
        + ", ".join(f"element_at(ws, i + {j})" for j in range(SHINGLE_K))
        + ")) ELSE array() END)"
    )
    return (df.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
            .select("doc_id", F.explode(F.expr(expr)).alias("shingle")))


def shingle_hash(col):
    """Portable 60-bit integer hash: md5 hex prefix -> bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(df: DataFrame,
                       _shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, text) -> (doc_id, sig: array<long>[N_PERM]).

    Signature j = min over shingles of (a_j * h + b_j) mod p, h = the
    portable shingle hash mod p. Computed as one hash-aggregate pass
    with N_PERM min() columns.
    """
    base = _shingles if _shingles is not None else shingles(df)
    sh = base.withColumn(
        "h", shingle_hash(F.col("shingle")) % MERSENNE_P)
    # one hash-aggregate pass with N_PERM min() columns — no perm-table
    # cross join (which multiplies the shuffle by N_PERM) and no
    # second-level (id, j) aggregation
    mins = sh.groupBy("doc_id").agg(*[
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P)
        .alias(f"m{j}")
        for j, (a, b) in enumerate(PERMS[:N_PERM])])
    return mins.select(
        "doc_id", F.array(*[f"m{j}" for j in range(N_PERM)]).alias("sig"))


def minhash_bands(df: DataFrame,
                  _shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, bucket) — one row per LSH band bucket per document."""
    rows_per_band = N_PERM // N_BANDS
    sigs = minhash_signatures(df, _shingles)
    return sigs.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(0, {N_BANDS - 1}), b -> "
            f"concat_ws(':', b, "
            f"concat_ws('_', slice(sig, b * {rows_per_band} + 1, "
            f"{rows_per_band}))))")).alias("bucket"))


def minhash_lsh_candidates(df: DataFrame,
                           _bands: DataFrame | None = None) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (doc_a < doc_b, distinct). ``_bands`` injects a precomputed
    (usually persisted) band frame, as ``_shingles`` does for the
    signatures — the pairing rule lives HERE only, so every consumer
    shares it."""
    bands = _bands if _bands is not None else minhash_bands(df)
    a = bands.select(F.col("doc_id").alias("doc_a"), "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "bucket")
    return (a.join(b, "bucket")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def _jaccard_verified(cands: DataFrame, left: DataFrame, right: DataFrame,
                      a_col: str, b_col: str) -> DataFrame:
    """Candidate pairs ``(a_col, b_col)`` whose shingle sets, taken from
    the (doc_id, shingle) frames ``left`` and ``right``, have Jaccard
    >= JACCARD_NUM / JACCARD_DEN (integer cross-multiplication — no
    float boundary). Returns (a_col, b_col, common, size_a, size_b)."""
    a = left.select(F.col("doc_id").alias(a_col), "shingle")
    b = right.select(F.col("doc_id").alias(b_col), "shingle")
    common = (cands.join(a, a_col).join(b, [b_col, "shingle"])
              .groupBy(a_col, b_col).agg(F.count("*").alias("common")))
    size_a = left.groupBy("doc_id").agg(F.count("*").alias("size_a")) \
        .select(F.col("doc_id").alias(a_col), "size_a")
    size_b = right.groupBy("doc_id").agg(F.count("*").alias("size_b")) \
        .select(F.col("doc_id").alias(b_col), "size_b")
    return (common.join(size_a, a_col).join(size_b, b_col)
            .filter(F.col("common") * JACCARD_DEN
                    >= JACCARD_NUM * (F.col("size_a") + F.col("size_b")
                                      - F.col("common")))
            .select(a_col, b_col, "common", "size_a", "size_b"))


def minhash_dedup_pairs(df: DataFrame) -> DataFrame:
    """Candidates verified by exact shingle Jaccard >= JACCARD_NUM /
    JACCARD_DEN (integer cross-multiplication — no float boundary)."""
    # the shingle frame feeds four consumers (signatures, both sides of
    # the common-shingle join, sizes) — persist it so split+md5 run once
    sh = shingles(df).persist()
    # the band frame is consumed by BOTH sides of the bucket self-join,
    # and an aliased self-join gets no ReusedExchange — without this
    # persist the signature aggregation + band explode compute twice
    # (the same doubled-subtree shape the r4 simhash fix removed).
    # ~N_BANDS small rows/doc:
    # spillable MEMORY_AND_DISK, released below with the shingles.
    bands = minhash_bands(df, _shingles=sh).persist()
    cands = minhash_lsh_candidates(df, _bands=bands)
    out = _jaccard_verified(cands, sh, sh, "doc_a", "doc_b")
    return _materialize_and_release(out, sh, bands)


def ngram_jaccard_pairs_prefix(df: DataFrame) -> DataFrame:
    """EXACT n-gram Jaccard similarity join (J >= JACCARD_NUM /
    JACCARD_DEN) with
    prefix-filter candidate generation — the guaranteed-recall,
    subquadratic alternative to the naive shingle self-join (whose one
    hot shingle shared by millions of docs makes a quadratic bucket).

    Prefix filtering (Chaudhuri/Bayardo/PPJoin family): order each
    doc's shingle set by a global canonical order (ascending document
    frequency, ties by shingle — rarest first), keep only the first
    ``n - ceil(t*n) + 1`` shingles as the doc's prefix, and join
    prefixes. Completeness: if J(x,y) >= t and (wlog) x's prefix tail
    sorts before y's, every prefix(x) element found in y lands inside
    prefix(y); disjoint prefixes therefore force
    ``|x ∩ y| <= ceil(t|x|) - 1 < t|x| <= |x ∩ y|`` — contradiction.
    So candidates ⊇ all true pairs, deterministically, while hot
    (high-df) shingles sort LAST and never enter a prefix — the skew
    that kills the naive join prunes itself. Verification then counts
    common shingles over the FULL sets for candidates only; the
    threshold is integer cross-multiplied (no float boundary)."""
    # the shingle frame feeds four consumers (dfreq, ranked, both full-
    # set join sides) — persist it so split+md5 run once, released via
    # the same lifecycle the MinHash path uses
    sh = shingles(df).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfreq"))
    from pyspark.sql import Window
    order = Window.partitionBy("doc_id").orderBy("dfreq", "shingle")
    ranked = (sh.join(dfreq, "shingle")
              .withColumn("rn", F.row_number().over(order)))
    # prefix length n - ceil(t*n) + 1, all-integer: ceil(num*n/den)
    plen = F.expr(f"n_sh - (({JACCARD_NUM} * n_sh + {JACCARD_DEN - 1}) "
                  f"div {JACCARD_DEN}) + 1")
    prefix = (ranked.join(sizes, "doc_id")
              .filter(F.col("rn") <= plen)
              .select("doc_id", "shingle"))
    a = prefix.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = prefix.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    out = _jaccard_verified(cand, sh, sh, "doc_a", "doc_b")
    return _materialize_and_release(out, sh)


def _materialize_and_release(result: DataFrame, *intermediates):
    """Cache-lifecycle helper: persist + materialize the (small) result
    frame, then release the (large) persisted intermediates it was
    built from. Downstream actions read the result's own cache; a lost
    cache partition falls back to full-lineage recompute (correct,
    just slower) — executor memory never holds the big frames past the
    operator that needed them."""
    result = result.persist()
    result.count()
    for df in intermediates:
        df.unpersist()
    return result


def dedup_keep_first(df: DataFrame) -> DataFrame:
    """Exact dedup with canonical survivor: keep the smallest id per
    md5(text) group. One window pass over the hash — the shuffle key is
    the 128-bit digest, uniformly distributed, skew-free at any scale."""
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc gets
    the minimum doc_id reachable through the pair graph as its cluster
    label (the canonical survivor of its duplicate cluster).

    Iterative min-label propagation — each round is one shuffle
    (groupBy node) over the edge list; rounds needed = graph diameter
    (tiny for dup clusters), bounded by 20 rounds with a driver-side
    convergence check (sum of labels is monotonically decreasing, so
    equal sums == converged). Deterministic, resume-safe.

    pairs: (doc_a, doc_b) with doc_a < doc_b. Returns (doc_id, cluster).
    """
    edges = (pairs.select(F.col("doc_a").alias("u"),
                          F.col("doc_b").alias("v"))
             .union(pairs.select(F.col("doc_b").alias("u"),
                                 F.col("doc_a").alias("v"))))
    edges = edges.persist()
    labels = (edges.select(F.col("u").alias("node"),
                           F.col("u").alias("label"))
              .union(edges.select(F.col("v").alias("node"),
                                  F.col("v").alias("label")))
              .groupBy("node").agg(F.min("label").alias("label"))
              .persist())
    for _ in range(20):
        # candidate label for each node: min over (own, neighbors')
        prev = labels
        nbr = (edges.join(prev, edges.v == prev.node)
               .select(F.col("u").alias("node"), "label"))
        labels = (prev.select("node", "label").union(nbr)
                  .groupBy("node").agg(F.min("label").alias("label"))
                  .persist())
        # ONE action per round does both jobs: the exact change count
        # scans EVERY row of the new labels frame (count(), not
        # limit(1).count() — no short-circuit), so it materializes
        # every partition of the new cache AND tests the fixed point
        # (labels only decrease, so inequality == change). The former
        # two-action form (full count, then a limit-join probe) paid
        # the per-job fixed cost twice per round — ~half the
        # correctness-gate wall of this operator at small scale.
        n_changed = (labels.alias("n")
                     .join(prev.alias("o"), "node")
                     .filter(F.col("n.label") != F.col("o.label"))
                     .count())
        prev.unpersist()
        if n_changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "label")


def simhash(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash: long).

    Word-level 64-bit SimHash: each distinct word hashes to a portable
    60-bit value spread to 64 bits; bit i of the result is 1 when the
    weighted sum of bit i over words is positive. Fully built-in
    (explode + bit ops + groupBy), no Python at runtime.
    """
    # All expressions are built as SQL strings (one parser round-trip
    # per expression) instead of composed Column objects: the former
    # Column-chain construction — 64 conditional sums plus a 64-deep
    # bitwiseOR fold — cost ~1.7 s of pure driver-side py4j traffic
    # PER CALL (measured), dwarfing the executed query at bench scale.
    words = df.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    # two md5 halves -> one 63-bit value (portable; hi is masked to 59
    # bits before the shift so no engine can overflow a signed 64-bit)
    h_expr = (
        "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) ^ "
        "shiftleft(CAST(conv(substring(md5(w), 16, 15), 16, 10) AS "
        f"BIGINT) & {(1 << 59) - 1}, 4)")
    hashed = words.selectExpr("doc_id", f"({h_expr}) AS h")
    # 64 conditional-sum aggregate columns in ONE hash-agg pass (with
    # map-side partial combine) instead of collecting a 64-long array
    # per word and folding arrays per doc — same result, ~5x cheaper.
    # Weighting is per OCCURRENCE: sum over distinct words of
    # cnt_w * (±bit) == sum over occurrences of (±bit), so the former
    # (doc_id, word) pre-count stage — a full shuffle of word STRINGS
    # plus a second aggregation — is dropped; the single remaining
    # exchange ships 64 partial-sum longs per doc, and the md5 work
    # moves into the map side of the same stage. At 100 TB the string
    # shuffle was the bandwidth hog.
    # Two bit-lanes packed per aggregate column: lane sums are the
    # COUNTS of occurrences with bit i set (s_i, non-negative, <= n),
    # so p_i = sum((h>>i)&1 + ((h>>(i+32))&1) << 31) carries exactly
    # s_i in the low 31 bits and s_{i+32} above them — no lane carry
    # while n < 2^31 words per doc (a ~8 GB document; the operator's
    # documented bound). The signed criterion  sum(±bit_i) > 0  is
    # identically  2*s_i > n , so results are bit-for-bit the same as
    # the unpacked form while the aggregate runs 32 columns + count
    # instead of 64 — half the agg buffers and half the expression
    # parses.
    half = 32
    sums = hashed.groupBy("doc_id").agg(
        F.expr("count(*)").alias("n_w"), *[
            F.expr(f"sum(((h >> {i}) & 1) + (((h >> {i + half}) & 1) "
                   f"<< 31))").alias(f"p{i}")
            for i in range(half)])
    # shiftleft wraps at i=63 exactly like the original `1L << i`
    # SQL (and like the DuckDB oracle's 1::BIGINT << 63)
    fold = " | ".join(
        f"(CASE WHEN 2 * (p{i} & 2147483647) > n_w "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END) | "
        f"(CASE WHEN 2 * (p{i} >> 31) > n_w "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i + half}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(half))
    return sums.selectExpr("doc_id", f"({fold}) AS simhash")


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming,
    using 4x16-bit block LSH (a pair within distance 3 must agree on
    at least one of 4 blocks) to avoid the O(n^2) comparison."""
    # persist the signature frame (16 bytes/doc): both join sides (and
    # the block explode under each) derive from it, and without the
    # cache the whole explode+md5+32-column aggregation pipeline runs
    # TWICE — the plan shows 2x Generate+HashAggregate and no
    # ReusedExchange. Released via the shared lifecycle helper.
    sh = simhash(df).persist()
    # bucket id = block*2^16 + block value, one LONG — integer join
    # keys hash/compare cheaper than "b:12345" strings and shuffle as
    # 8 fixed bytes; same bucketing semantics (share >=1 block value)
    blocks = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3), b -> "
            "bigint(b) * 65536 + ((simhash >> (b * 16)) & 65535))"))
        .alias("block", "bucket"))
    a = blocks.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sh_a"), "bucket")
    b = blocks.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sh_b"), "bucket")
    # Hamming filter BEFORE the dedup exchange: a pair that matched in
    # k blocks would otherwise cross the distinct shuffle k times
    # carrying both 64-bit signatures — and most block-sharing
    # candidates fail the distance test anyway. Filtering first means
    # the distinct exchanges only the ACTUAL near-dup pairs, each as
    # two ids + one small int (hamming is a function of the pair, so
    # distinct over (doc_a, doc_b, hamming) == distinct pairs).
    out = (a.join(b, "bucket")
           .filter(F.col("doc_a") < F.col("doc_b"))
           .withColumn("hamming", F.bit_count(
               F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
           .filter(F.col("hamming") <= max_hamming)
           .select("doc_a", "doc_b", "hamming")
           .distinct())
    return _materialize_and_release(out, sh)


def incremental_dedup_audit(new_docs: DataFrame,
                            existing: DataFrame) -> DataFrame:
    """Dedup a NEW ingest batch against an EXISTING corpus — the
    production incremental-ingest shape (a crawl snapshot lands
    against a deduplicated corpus; nothing re-deduplicates the
    corpus itself). Returns a per-new-doc audit ``(doc_id, status)``:

    * ``dup_in_corpus`` — exact text match already in the corpus;
    * ``dup_in_batch``  — no corpus match, but a smaller-id doc in
      the SAME batch has identical text (the batch's canonical
      survivor keeps ``kept``);
    * ``kept``          — the batch's surviving copy.

    Corpus-match takes precedence over batch-canonicality: if the
    text exists in the corpus, EVERY batch copy is ``dup_in_corpus``
    (none of them should land).

    Scale design: the corpus side is reduced to a DISTINCT digest
    projection (16 bytes/doc — the persistent dedup index a real
    ingest pipeline maintains; at 10^12 docs that frame is ~16 TB
    spread over the cluster, joined not broadcast). Both joins key on
    the md5 digest — uniform, skew-free — and the batch-min
    aggregation reuses the same digest partitioning, so the new batch
    is exchanged once. Spark broadcasts the smaller side per AQE
    stats, which at production scale is the BATCH, never the corpus.
    """
    dg = F.md5(F.col("text"))
    batch = new_docs.select(F.col("doc_id").alias("_id"),
                            dg.alias("_dg"))
    corpus_dg = (existing.select(dg.alias("_dg")).distinct()
                 .withColumn("_in_corpus", F.lit(1)))
    batch_min = batch.groupBy("_dg").agg(F.min("_id").alias("_first"))
    return (batch
            .join(corpus_dg, "_dg", "left")
            .join(batch_min, "_dg")
            .select(F.col("_id").alias("doc_id"),
                    F.when(F.col("_in_corpus").isNotNull(),
                           F.lit("dup_in_corpus"))
                    .when(F.col("_id") != F.col("_first"),
                          F.lit("dup_in_batch"))
                    .otherwise(F.lit("kept")).alias("status")))


def crossdup_minhash_pairs(new_docs: DataFrame,
                           existing: DataFrame) -> DataFrame:
    """NEAR-dup counterpart of :func:`incremental_dedup_audit`: LSH
    candidates between a NEW ingest batch and the EXISTING corpus,
    verified by exact cross-side shingle Jaccard >= JACCARD_NUM /
    JACCARD_DEN. Returns
    (batch_id, corpus_id, common, size_a, size_b) — one row per
    verified near-dup pair; a batch doc with any row should not land.

    Scale design: the corpus is never joined against itself — bands
    from the batch side equi-join bands from the corpus side, so the
    candidate volume is bounded by the batch's bucket occupancy, and
    AQE broadcasts the batch side (tiny vs the corpus) through both
    the candidate and verification joins. Shingle frames are persisted
    per side with the explicit lifecycle (split+md5 run once); the
    verification exchanges only candidate ids + shingle hashes.
    """
    sh_new = shingles(new_docs).persist()
    sh_old = shingles(existing).persist()
    bands_new = minhash_bands(new_docs, _shingles=sh_new)
    bands_old = minhash_bands(existing, _shingles=sh_old)
    cands = (bands_new.select(F.col("doc_id").alias("batch_id"), "bucket")
             .join(bands_old.select(F.col("doc_id").alias("corpus_id"),
                                    "bucket"), "bucket")
             .select("batch_id", "corpus_id").distinct())
    out = _jaccard_verified(cands, sh_new, sh_old, "batch_id", "corpus_id")
    return _materialize_and_release(out, sh_new, sh_old)
