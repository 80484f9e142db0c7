"""Deterministic sampling / dataset mixing for training-data pipelines.

A 100 TB curation pipeline needs to (a) downsample a corpus to a
target budget and (b) mix strata (languages, sources, quality tiers)
at configured proportions — and it must do both DETERMINISTICALLY so a
resumed or re-run job selects byte-identical rows (the same resume
requirement the checkpointed batch split has, BASELINE.json:14; ``rand()``-based
``DataFrame.sample`` re-draws per run and per task retry).

Mechanism: a portable md5 bucket in basis points,

    bucket_bp(key) = int(md5(salt || key)[:8], 16) % 10000

so "keep at rate r" is ``bucket_bp < r`` — a pure map-side FILTER:
no shuffle, no state, identical on any engine (the same bytes hash the
same in Spark, DuckDB, or a Python oracle), stable under repartition,
retry and resume. Mixing joins a broadcast (stratum -> rate_bp)
dimension and applies the same filter; the fact side never shuffles.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BP = 10000  # basis points: rates are integers, no float boundaries


def bucket_bp(col, salt: str = "mix42"):
    """Deterministic basis-point bucket [0, 10000) for a key column."""
    return (F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8),
                   16, 10).cast("long") % BP)


def deterministic_sample(df: DataFrame, rate_bp: int) -> DataFrame:
    """Keep rows whose ``doc_id`` bucket falls below ``rate_bp`` (exact
    expected rate rate_bp/10000, deterministic in (salt, key))."""
    return df.filter(bucket_bp(F.col("doc_id")) < rate_bp)


def epoch_key(epoch: int, col):
    """Deterministic per-epoch shuffle key: md5 over (salt, epoch, key).
    Changing ``epoch`` re-permutes the whole corpus; the same
    (salt, epoch, key) maps to the same position on any engine and any
    retry — the training-order analog of ``bucket_bp``."""
    return F.md5(F.concat(F.lit(f"shuf42:{epoch}:"), col.cast("string")))


def temperature_rates(df: DataFrame, strat_col: str = "source"
                      ) -> DataFrame:
    """Per-stratum keep rates for temperature-2 dataset mixing
    (the Gopher / LLaMA up-/down-weighting shape): stratum weights
    ``w_i = floor(sqrt(n_i) * 10**6)`` — i.e. ``n_i^(1/tau)`` with
    tau = 2 — and per-row keep rates chosen so the expected kept count
    per stratum is proportional to ``w_i`` while the rarest stratum is
    kept whole (the binding constraint: for tau > 1 the rate
    ``w_i / n_i`` is maximal at the smallest stratum)::

        rate_bp_i = 10000 * w_i * n_ref div (w_ref * n_i)

    Everything after the single ``sqrt`` is INTEGER arithmetic, and
    IEEE-754 requires sqrt (unlike pow/log) to be correctly rounded —
    so Spark, DuckDB and a Python oracle compute bit-identical rates;
    that is why the temperature is fixed at 2 (or 4 via a second sqrt)
    rather than an arbitrary ``pow(n, 1/tau)``. The reference stratum
    is the (n_docs, name)-smallest, a total order, so ties are
    deterministic. Strata are languages/sources/tiers — thousands at
    most — so the counts frame is tiny and the rates dimension
    broadcast-joins; the corpus itself is touched by one column-pruned
    count pass + the map-side filter. The int64 product
    ``10000 * w_i * n_ref`` bounds deployment scale: with the 10**6
    weight scale it overflows past ~10^8 docs per stratum — shrink
    that scale (rate precision is 1 bp regardless) or widen to
    decimal(38) for a 10^12-row corpus."""
    counts = df.groupBy(strat_col).agg(F.count("*").alias("n_docs"))
    w = counts.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("n_docs")) * F.lit(1_000_000)).cast("long"))
    ref = (w.orderBy("n_docs", strat_col).limit(1)
           .select(F.col("n_docs").alias("ref_n"),
                   F.col("weight").alias("ref_w")))
    return (w.crossJoin(F.broadcast(ref))
            .withColumn("rate_bp",
                        F.expr(f"CAST({BP} * weight * ref_n div "
                               "(ref_w * n_docs) AS BIGINT)"))
            .select(strat_col, "n_docs", "weight", "rate_bp"))


def split_assign(df: DataFrame,
                 fractions_bp: dict[str, int] | None = None,
                 salt: str = "split42") -> DataFrame:
    """Deterministic train/val/test assignment: add a ``split`` column
    from cumulative basis-point thresholds over the ``doc_id`` md5 bucket —
    EXHAUSTIVE and DISJOINT by construction (every bucket value falls
    in exactly one half-open interval). A pure map-side projection:
    no shuffle, no state.

    The property that matters for contamination control: a document's
    split depends ONLY on (salt, key), so it never migrates when the
    corpus grows, shrinks, or is re-sharded — unlike rank- or
    ``rand()``-based splits, which silently move yesterday's eval
    docs into today's training set on every re-run. Within any
    stratum the md5 bucket is uniform, so per-stratum proportions
    track the global fractions without a stratified pass; consumers
    needing exact per-stratum counts audit them with one tiny
    aggregate (see the ``doc_split_assign`` query).

    ``fractions_bp`` maps split name -> basis points, summing to
    10000; iteration order defines the threshold order (dicts
    preserve insertion order)."""
    fr = fractions_bp or {"train": 9800, "val": 100, "test": 100}
    if sum(fr.values()) != BP:
        raise ValueError(f"fractions_bp must sum to {BP}: {fr}")
    b = bucket_bp(F.col("doc_id"), salt)
    expr = None
    hi = 0
    *head, (last, _) = fr.items()
    for name, bp in head:
        hi += bp
        cond = b < F.lit(hi)
        expr = F.when(cond, name) if expr is None else \
            expr.when(cond, name)
    split = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", split)

